"""Render PLANS.md: the formatted physical plans of the headline
queries plus the index build's stage-1 plan and the one-stage Spark
serving plan, each with the plan-audit commentary that justifies it at the
100 TB target. Re-run per round so the committed document always
matches the code.

    python scripts/render_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from logsentinelai_spark import entry_queries  # noqa: E402
from logsentinelai_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# what a reader should verify in each plan, written against the scale
# target rather than the fixture
COMMENT = {
    "term_tf": """One scan of `documents` with ReadSchema pruned to (doc_id, text)
and the tokenize/explode pipeline inside WholeStageCodegen; the only
exchange is the (doc_id, term) hash aggregate with a partial_count
below it (map-side combine), so the shuffle carries one row per
distinct (doc, term), never the token stream.""",
    "geo_enrich": """The fact side streams through one codegen stage (validity + private
predicates, octet/ip_num keys) into a BroadcastHashJoin against the
bucket-expanded CIDR dimension — no SortMergeJoin, no fact-side
exchange before the join, range check as join residual. Nested-CIDR
longest-prefix resolution happened dimension-side (broadcast-small),
so it is invisible here: the fact plan is identical to the disjoint
case at any corpus size.""",
    "dedup_jaccard": """Prefix-filtered similarity join: every join in the plan is an
equi-join on int64 shingle hashes (SortMergeJoin/ShuffledHashJoin on
hash keys is acceptable here — both sides are corpus-derived), and
there is NO CartesianProduct / BroadcastNestedLoopJoin anywhere.
Candidate verification is `array_intersect` inside the stage, so hot
shingles never self-join.""",
    "dedup_minhash_lsh": """Single-pass signatures (8 min-hash aggregates), band equi-join for
candidates, semi-join-bounded verify. Like dedup_jaccard the audit
point is the ABSENCE of any nested-loop/cartesian operator.""",
    "ann_ivf": """The candidate source is `Scan parquet` over the MATERIALIZED
ivf_lists with PartitionFilters on list_id (only the probed lists'
files are read) joined hash-wise against the broadcast query set; the
per-run centroid-argmax assignment pass over the corpus no longer
exists in the query plan — it ran once at build_ann time.""",
    "ann_ivfpq": """IVFADC: the scan reads the ivfpq_lists CODE columns
(ReadSchema = vec_id + 8 small ints) with PartitionFilters on
list_id; embeddings.parquet appears nowhere — approximate scores are
LUT lookups + the broadcast dot(q, c_list) offset. This is the
8-bytes-per-probed-vector plan the 10^12 target requires.""",
    "ann_pq_adc": """Whole-corpus ADC: one scan of the materialized pq_codes table
(vec_id + codes only — embeddings.parquet absent from the plan),
cross-joined against the 5-row broadcast LUT relation, ranked on the
window exchange that carries only (query_id, vec_id, adc).""",
    "ann_lsh": """One scan of the two-level (table, bucket) hive layout with BOTH
partition columns in PartitionFilters (the whole multi-table probe
set prunes in a single pass) and ONE BroadcastHashJoin on
(table, bucket) serving every hash table.""",
    "corpus_filter": """One token-explode pass computes all text signals (the aggregate
above it has partial functions = map-side combine); the dup-keeper
join is a BroadcastHashJoin against the md5-group keeper table. No
second pass over text, no nested-loop operators.""",
    "phrase_topk_idx": """Phrase serving from the physical index: the posting scan shows
PushedFilters on the phrase's terms and bucket (only those terms'
blocks are read) with ReadSchema INCLUDING pos_vb — while the
bm25_topk plan over the same segments never reads pos_vb (pinned by
test_bm25_scan_never_reads_pos_vb): the positional payload costs
non-phrase queries nothing. Positional intersection happens
executor-side per shard; only per-shard top-k candidate rows reach
the driver merge.""",
    "line_dedup": """The keeper aggregate exchanges on xxhash64(line) — the
HashAggregate keys and the Exchange hashpartitioning show the LONG
hash column, not the line string — so the corpus-wide shuffle
carries 8-byte keys plus counts, never text (pinned by
test_dedup_shuffles_carry_hash_keys_not_text). Reconstruction is an
in-row sort of the surviving (line_idx, line) pairs.""",
    "decontaminate": """The corpus side never exchanges on content: per-doc 13-gram hash
arrays are built in-row in ONE gram pass (n_grams rides the explode
as a carried column), and the contamination test is a LEFT
BroadcastHashJoin against the eval-set shingle table — broadcast-
small BY DEFINITION (benchmarks are MBs against a 100 TB corpus).
The only exchange re-aggregates the rare surviving matches by
doc_id.""",
    "search_agg_idx": """The ES _search query+aggs composition: the match set comes out of
the per-shard FlatMapGroupsInPandas over the BUCKET-PRUNED posting
scan (PushedFilters on the bool query's terms; pos_vb absent from
ReadSchema — filter context decodes gap streams only) and is JOINED
to the documents scan for the aggregation. The join is a
BroadcastHashJoin (AQE converts at runtime when the filter is
selective — pinned on the executed plan by
test_search_agg_idx_match_set_joins_broadcast); there is NO second
scan of the postings and NO full-corpus rescan per panel.""",
    "significant_terms_idx": """The foreground/background census: FlatMapCoGroupsInPandas pairs
each shard's posting blocks with ITS slice of the match set (two
Exchanges hashpartitioning on the 8-byte shard key — the match set
never passes through the driver), and the only downstream exchange
carries (term, fg_df, df_part) partials into the final aggregate.
The block scan reads the FULL term stream by design (a
vocabulary-wide aggregation) but still excludes pos_vb from
ReadSchema.""",
    "highlight_idx": """The production highlight shape: ranking already happened in the
index serving path (driver-local pyarrow, not in this plan), so the
corpus appears ONLY as a k-row lookup — the documents scan carries
`PushedFilters: In(doc_id, ...)` with the 10 hit ids and ReadSchema
pruned to (doc_id, text); the fragmenter (array_min/filter/transform/
slice higher-order functions) runs inside the codegen stage over
those k rows, and the score attach is a broadcast of the k-row
serving result. At 100 TB the per-query work is the index read plus
k row-group reads, never a corpus pass — the naive `highlight` twin
(full-scan ranking) exists for the oracle triangle, not for
serving.""",
    "more_like_this": """ES MLT, naive twin: the seed's interesting-term selection is
in-plan (tf*idf over the seed doc's postings, top-8) and enters the
scoring join as a BroadcastExchange — so the postings side is
filtered by a broadcast semi-join on the selected terms, never
re-partitioned by them. The corpus-wide stats (tf/df/dl aggregates)
are the same partial+final shapes as bm25_topk. The index path
(`more_like_this_idx`) replaces all corpus-side work with a bounded
seed lookup + thin df probe + bucket-pruned posting read.""",
    "perplexity": """CCNet-style LM scoring with the token stream never exchanged:
bigrams are built IN-ROW (arrays_zip of the token array against its
own shift — adjacency is a per-document property), so the fact side
is scan -> Generate(explode) -> two BroadcastHashJoins -> partial
aggregate, and the only fact-side Exchange carries one (doc_id,
partial count/avg) row per document. The bigram/unigram count tables
are vocabulary-bounded aggregates that re-enter as BroadcastExchange.
A lead() window formulation would instead shuffle every token on
doc_id — the difference between O(corpus) and O(docs) exchange bytes
at 100 TB. Count-table re-entry is SIZE-ROUTED: the unigram table is
vocabulary-bounded and always a BroadcastExchange, but the bigram
table grows with the corpus, so above 2M distinct pairs the scoring
join is pinned SHUFFLE_MERGE on (term, nxt) — the fixture plan below
shows the broadcast branch; the routed branch is pytest-pinned
(`test_perplexity_shuffle_route`) to plan as SortMergeJoin with
identical output.""",
    "events_pipeline": """ES pipeline aggregations (derivative / cumulative_sum /
moving_fn): the ONLY corpus-wide work is the partial+final hash
aggregate on the day bucket; the Window node above it runs on the
aggregated bucket table, whose row count is the calendar (365
rows/year at ANY corpus size), so the single-partition ordered window
Spark warns about is a constant-size coordinator step by construction
— exactly where ES computes pipeline aggs (over the reduced bucket
list). Audit point: one Exchange below the aggregate, and the window's
Sort sits above the aggregate, never on the fact table.""",
    "function_score_decay": """ES gauss date decay x field_value_factor: the decay multiplier
(unix_micros / abs / pow / exp) is a pure scan projection inside one
WholeStageCodegen span, and the plan terminates in
TakeOrderedAndProject — per-partition top-20 then a 20-row merge, no
global Sort, no Exchange other than the final single-partition
collect of 20-row partials. The scoring plan is corpus-shaped the
same way bm25's naive twin is: linear scan, constant memory.""",
    "quality_classify": """Distilled LR quality filter: identical plan shape to
quality_score — tokenize/explode inside codegen, then the standard
two-level countDistinct expansion (partial on (doc_id, term), final
on doc_id; both exchanges carry distinct-pair counts, never the token
stream) — with the model applied as an in-row projection above the
final aggregate (sigmoid/exp codegen'd). The audit point is what is
ABSENT: no UDF node, no extra exchange beyond quality_score's own, no
model join — model-based filtering costs zero additional plan
structure at 100 TB.""",
    "pack_sequences": """Concat-and-chunk packing via a distributed prefix sum: the
window is PARTITIONED BY the doc_id range (never a single global
partition — compare events_pipeline, where single-partition is
justified by bucket-boundedness; here the windowed table is the
corpus itself, so partitioning is mandatory), the per-range offsets
enter through a BroadcastHashJoin, and the only corpus-wide exchange
is the hash partitioning on the range key. The bounded partial-sum
aggregate that fed the driver's prefix runs as a separate tiny job
and shows here only as the InMemoryRelation of the PERSISTED range
partials (n/PACK_RANGE rows — consumed by both the super-range
collect and this plan's offs branch; unpersisted, this branch would
re-tokenize the whole corpus). The prefix sum is TWO-LEVEL (range ->
super-range rollup before the collect), so driver state is
ids/(PACK_RANGE x PACK_SUPER) ~ 24k rows at 10^11 docs by
construction, not by knob tuning.""",
    "url_dedup": """URL canonicalization + dedup (RefinedWeb stage one): every
canonicalization step (regexp strips, param filter/sort via
higher-order array functions) is an in-row projection inside one
codegen span — no UDF — and the ONLY exchange is the window over the
canonical key that picks the keeper. The canonical string is in the
output so it must ride that shuffle regardless; a drop-list-only
variant would shuffle the 8-byte xxhash64 of the canon instead
(line_dedup's discipline).""",
    "events_composite": """ES composite aggregation page: the partial+final hash aggregate is
the only exchange, and because the cursor predicate references only
grouping columns Catalyst pushes it BELOW the aggregate all the way
into the parquet scan (`PushedFilters: [Or(GreaterThan(event_type,..`)
— later pages scan less data, not just aggregate less. The page
itself is `TakeOrderedAndProject` — each task keeps only
its local top-`size` buckets and the driver merges size·partitions
rows. No global Sort ever materializes, which is exactly the property
that lets ES page over unbounded bucket cardinality; at 100 TB the
page cost is one agg shuffle plus an O(size) merge regardless of how
many buckets exist. Pinned by
`test_composite_agg_pages_chain_and_plan_bounded`.""",
    "collapse": """ES field collapsing: the scored set (same broadcast-query-terms BM25
shape as bm25_topk) joins `documents` pruned to (doc_id, lang) —
ReadSchema shows the two columns — then ONE window (`row_number` over
lang partitions) picks each group's representative. The window
exchange partitions by the collapse field, carrying one row per
SCORED doc, not per corpus doc: candidate selectivity bounds the
shuffle. rn=1 filters before the final order-by of |langs| rows.""",
    "events_agg_tree": """Generic nested agg tree (terms -> date_histogram -> metrics)
compiled to ONE grouping-sets pass: the plan is scan -> Expand (one
row per rollup prefix level) -> partial HashAggregate -> single
Exchange -> final HashAggregate. Audit points: exactly ONE Exchange
regardless of nesting depth (a per-level groupBy translation would
shuffle the corpus L times), no Join, and the Expand sits INSIDE the
scan's codegen stage so the per-level duplication happens before the
map-side partials — the exchange carries one row per (deepest bucket
x level), never per event. Pinned by `test_agg_tree_single_pass_plan`.""",
    "events_agg_forest": """SIBLING bucket aggs (two Kibana panels' trees side by side:
terms -> date_histogram next to a numeric histogram) still compile to
the SAME single-pass shape: every ES bucket node is one root-to-node
path of keys, so the tree is a set of grouping sets — four here —
and the plan is still scan -> Expand -> partial agg -> ONE Exchange
-> final agg, no Join, no second scan (pinned by
`test_agg_forest_single_pass_plan`). A per-panel translation would
re-scan the corpus once per sibling; the forest costs the same one
pass as a chain, with the Expand emitting one extra row per event
per additional node.""",
    "search_body_idx": """The composed one-JSON-body `_search` (query + aggs + highlight +
size — the Kibana request shape): hits and fragments are served
driver-local (pyarrow pruned block reads, no Spark job — absent from
this plan by design); what Spark executes is the aggs leg shown here:
the bool match set streams task-to-task into the url-resolution join
against the doc map, then the corpus join, then agg_tree's single
rollup aggregate. Audit points: the STATIC plan below still shows the
SortMergeJoin Catalyst plans conservatively; at runtime AQE converts
the match-set joins to BroadcastHashJoin (the filter is selective) —
pinned on the executed adaptive-final plan by
`test_search_body_aggs_leg_joins_broadcast`, the same contract as
search_agg_idx. The corpus scan prunes ReadSchema to the agg fields,
and the bucket subtree adds exactly one Exchange.""",
    "multi_match_best": """ES multi_match best_fields (the DEFAULT mode): dis_max +
tie_breaker is ONE aggregate over the same per-(doc, field) score
frame most_fields sums — mode choice adds zero plan structure (same
scans, same exchanges; only the final agg expression differs). The
frame itself is the NAIVE Catalyst anchor (like bm25_topk's naive
twin): each field-local statistic (tf, df, avgdl, N) is its own
aggregate over the stack()-split token stream, so the plan re-scans
`documents` per statistic — the correctness-anchor shape, priced for
the fixture. The stats-side aggregates re-enter as BroadcastExchange
(field/term-bounded); the BroadcastNestedLoopJoin is the intentional
1-row N crossJoin. The scale path for interactive multi-field search
is IMPLEMENTED as q_multi_match_best_idx: one physical index per
field (Lucene's layout; field-local stats by construction) + the
dis_max combine over served candidates — gated hash-exact against
this same oracle.""",
}


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    spark = get_spark("render_plans", cpus=8)
    out = ["""# PLANS — physical-plan audit of the headline queries

Rendered by `scripts/render_plans.py` (re-run per round; commentary is
the audit contract, the plan text is the evidence). Every plan below
is the `explain("formatted")` of the exact DataFrame the driver gate
executes at sf0.01. The global audit invariants, checked by the
plan-pin tests in `tests/test_plans.py` / `tests/test_ann_index.py` /
`tests/test_geo.py`:

* no `CartesianProduct` / `BroadcastNestedLoopJoin` outside the
  intentional tiny-broadcast query-set cross joins;
* every dimension/model join is a `BroadcastHashJoin`;
* every materialized-artifact read shows `PartitionFilters` /
  `PushedFilters` / pruned `ReadSchema`;
* scalar pipelines sit inside `WholeStageCodegen` spans.
"""]

    for name, comment in COMMENT.items():
        df = entry_queries.QUERIES[name](spark, SF_DIR)
        out.append(f"\n## {name}\n\n{comment}\n\n```\n{_formatted(df).strip()}\n```\n")

    # the index build's stage-1 plan + the pruned posting scan
    from pyspark.sql import functions as F

    from logsentinelai_spark.corpus import gen_pages_df
    from logsentinelai_spark.index.build import IndexConfig, build_index, stage1_partial_runs
    from logsentinelai_spark.index.query import _shard_frame
    from logsentinelai_spark.index.reader import IndexReader

    with tempfile.TemporaryDirectory(prefix="plans_idx_") as d:
        pages = gen_pages_df(spark, 2000, partitions=8)
        cfg = IndexConfig(shard_size=512, wave_shards=2)
        # idmap_dir is only touched at execution time; the plan is what
        # we render, and this is the exact production call shape (JVM
        # url-hash columns + executor-side id resolution)
        s1 = stage1_partial_runs(
            pages.filter(F.col("url").between("http://a", "http://zzzz")), cfg,
            idmap_dir=f"{d}/idmap-placeholder")
        out.append(f"""
## index build — stage 1 (fused partial runs)

Shuffle- and join-free: one `MapInArrow` over the pages scan (url
range filter pushed to the scan) emits doc rows + compressed block
runs; there is no Exchange in this plan — the build's ONLY wide
shuffle is the later salted merge, and it moves compressed runs, not
postings. Pinned by `test_wave_stage1_plan_shuffle_free_and_pruned`.

```
{_formatted(s1).strip()}
```
""")
        build_index(spark, pages, f"{d}/idx", cfg)
        reader = IndexReader(spark, f"{d}/idx")
        terms = ["the", "server"]
        files = reader.shard_files(terms)
        n_all = len(list(Path(d, "idx", "postings").rglob("*.parquet")))
        serving = _shard_frame(reader, terms, lambda tbl, base, excl: [], "doc_id long")
        out.append(f"""
## query-time posting scan (one stage per query)

The Spark serving stage. The driver lists each shard's segment files
under the query terms' term_bucket partitions off the reader's cached
pyarrow dataset (`IndexReader.shard_files`: here
{sum(map(len, files.values()))} of {n_all} files, over {len(files)}
shards) — no Spark scan is planned and no schema-inference job runs.
One task per shard reads its own files with pyarrow, pushing
`term IN (...)` into the parquet read and projecting `pos_vb` only for
phrase queries, and returns at most the shard's page. A collected
query (topk, topk_many, phrase_topk, bool_topk) runs that task as a
plain RDD job, `sc.parallelize(shards).mapPartitions(...).collect()`:
no Catalyst plan and no SQL execution, so it has no plan to print.
The plan below is the one place the same task body runs under
Catalyst: `bool_match_ids` wraps it in `spark.range(shards).mapInArrow`
because its match set flows uncollected into aggregations. No
FileScan and no Exchange either way: one job of one stage per query,
pinned by `test_spark_serving_is_one_stage_per_query`.

```
{_formatted(serving).strip()}
```
""")

    (REPO / "PLANS.md").write_text("".join(out))
    print(f"wrote {REPO / 'PLANS.md'}")


if __name__ == "__main__":
    main()
