"""Round-7 features: composed _search body compiler, generic agg
trees, multi_match best_fields, ILM retention, phrase suggester,
perplexity shuffle routing, two-level pack_sequences prefix sum, and
the round-6 ADVICE hardening (cursor ulp band, delete truncation
detection, clear_deletes physical cleanup).

ES/Lucene parity targets: the one-JSON-body `_search` request Kibana
actually sends (reference INSTALL-and-USAGE.md:451-459), multi_match's
DEFAULT best_fields/dis_max mode, the logsentinelai-ilm-policy
rollover/delete lifecycle (INSTALL-and-USAGE.md:360-386), and the ES
phrase suggester's LM-ranked whole-phrase corrections.
"""

from __future__ import annotations

import json
import math
import re
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check_oracle import value_hash  # noqa: E402

from logsentinelai_spark import entry_queries as eq
from logsentinelai_spark.corpus import gen_pages_df
from logsentinelai_spark.index import deletes as dels_mod
from logsentinelai_spark.index.body import search_body
from logsentinelai_spark.index.build import (IndexConfig, build_index,
                                             extend_index)
from logsentinelai_spark.index.deletes import clear_deletes, read_deletes
from logsentinelai_spark.index.query import _after_mask, topk_local
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.retention import maintenance_tick, retire
from logsentinelai_spark.index.termdict import ensure_term_dict, suggest_phrase
from logsentinelai_spark.operators import textstats as ts
from logsentinelai_spark.operators.aggtree import agg_tree
from logsentinelai_spark.operators.textstats import build_bigram_lm
from logsentinelai_spark.plans.audit import explain_str


def _duck(sf_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _assert_matches_oracle(spark, sf_dir, key):
    sdf = eq.QUERIES[key](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    ocols, orows = _duck(sf_dir, eq.ORACLES[key])
    assert sorted(scols) == sorted(ocols), (scols, ocols)
    assert len(srows) == len(orows)
    assert value_hash(scols, srows) == value_hash(ocols, orows)


# --------------------------------------------- ADVICE hardening

def test_after_mask_ulp_band():
    """A cursor score off by one ulp (WAND page 1 vs acc page 2 float
    order) must still hit the doc_id tiebreak, not the strict branch."""
    s = 1.2345678901234
    s_ulp = float(np.nextafter(s, 0.0))
    uniq = np.array([5, 7, 8, 9], dtype=np.int64)
    sums = np.array([s_ulp, s_ulp, s_ulp, 0.5])
    ku, ks = _after_mask(uniq, sums, (s, 7))
    # 5 (tie, id<cursor) and 7 (the cursor doc) drop; 8 (tie, id>)
    # and 9 (strictly lower) stay
    assert list(ku) == [8, 9]
    assert ks[1] == 0.5
    # far-below tolerance is NOT a tie: strictly-lower keeps all
    ku2, _ = _after_mask(uniq, np.array([1.0, 1.0, 1.0, 0.5]), (s, 7))
    assert list(ku2) == [5, 7, 8, 9]


def test_delete_docs_detects_truncated_drop_list(spark, tmp_path, monkeypatch):
    """A drop list larger than MAX_TOMBSTONES must refuse at collect
    time even when dedup would land the union under the cap."""
    monkeypatch.setattr(dels_mod, "MAX_TOMBSTONES", 5)
    # 7 rows, only 4 distinct — the old guard (merged.size > cap)
    # would have silently committed 4 tombstones and dropped the tail
    df = spark.createDataFrame([(i // 2,) for i in range(7)], "doc_id long")
    with pytest.raises(ValueError, match="drop list exceeds"):
        dels_mod.delete_docs(str(tmp_path), df)


def test_clear_deletes_drops_pointer_and_parquet(tmp_path):
    (tmp_path / "_deletes.json").write_text(json.dumps({"version": 1}))
    vdir = tmp_path / "deletes" / "v=1"
    vdir.mkdir(parents=True)
    (vdir / "part-0.parquet").write_bytes(b"x")
    clear_deletes(tmp_path)
    assert not (tmp_path / "_deletes.json").exists()
    assert not (tmp_path / "deletes").exists()


# --------------------------------------------- perplexity scale shape

def test_perplexity_shuffle_route(spark, sf_dir):
    """With the broadcast ceiling tripped the c2 join must plan as
    SortMergeJoin (never a driver-side bigram build) and the numbers
    must not move."""
    routed = ts.q_perplexity(spark, sf_dir, broadcast_max_bigrams=0)
    plan = explain_str(routed, "extended")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    base = ts.q_perplexity(spark, sf_dir)
    a = sorted(tuple(r) for r in routed.collect())
    b = sorted(tuple(r) for r in base.collect())
    assert a == b


# --------------------------------------------- pack_sequences 2-level

def test_pack_sequences_two_level_prefix_sum(spark, sf_dir, monkeypatch):
    """Forced tiny PACK_RANGE/PACK_SUPER: driver rows stay bounded by
    the SUPER rollup (not n/RANGE), offsets stay exact."""
    seen = []
    orig = ts._prefix_offsets

    def spy(rows):
        seen.append(len(rows))
        return orig(rows)

    monkeypatch.setattr(ts, "PACK_RANGE", 7)
    monkeypatch.setattr(ts, "PACK_SUPER", 3)
    monkeypatch.setattr(ts, "_prefix_offsets", spy)
    out = ts.q_pack_sequences(spark, sf_dir).orderBy("doc_id").collect()
    # exact offsets: sequential cumsum in doc_id order
    run = 0
    for r in out:
        assert r.start_tok == run, (r.doc_id, r.start_tok, run)
        run += r.n_tokens
    n_ranges = len({r.doc_id // 7 for r in out})
    assert seen and seen[0] <= math.ceil(n_ranges / 3) + 1


# --------------------------------------------- multi_match best_fields

@pytest.fixture(scope="module")
def mm_fixture(spark, tmp_path_factory):
    """Synthetic documents table where dis_max and most_fields MUST
    disagree: doc 0 concentrates the query terms in one field (title,
    high tf — the saturated best field), doc 1 spreads them across
    title AND body (bigger sum, smaller max)."""
    root = tmp_path_factory.mktemp("mm")
    rows = [
        # doc 1: spread — title hits once each, body hits 3x each
        (1, "data merge alpha beta gamma delta epsilon zeta "
            "data merge data merge data merge", "en", "s", 10),
        # doc 0: concentrated — title only, 4x each, empty body
        (0, "data merge data merge data merge data merge", "en", "s", 10),
    ]
    # filler so idf/avgdl are unremarkable
    for i in range(2, 14):
        rows.append((i, "alpha beta gamma delta epsilon zeta eta theta "
                        "iota kappa lam mu nu xi", "en", "s", 10))
    rows.append((14, "data alpha beta gamma delta epsilon zeta eta "
                     "theta iota", "en", "s", 10))
    rows.append((15, "merge alpha beta gamma delta epsilon zeta eta "
                     "theta iota", "en", "s", 10))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(root / "documents.parquet"))
    return str(root)


def test_multi_match_modes_diverge(spark, mm_fixture):
    most = [r.doc_id for r in eq.q_multi_match(spark, mm_fixture).collect()]
    best = [r.doc_id for r in
            eq.q_multi_match_best(spark, mm_fixture).collect()]
    # the spread doc wins the field SUM, the concentrated doc wins
    # dis_max — ES's documented best_fields vs most_fields divergence
    assert most.index(1) < most.index(0)
    assert best.index(0) < best.index(1)


def test_multi_match_best_formula(spark, sf_dir):
    """best = max + 0.3 (sum - max) recomputed from the shared
    per-field frame."""
    fs = eq._mm_field_scores(spark, sf_dir).collect()
    by_doc: dict[int, list[float]] = {}
    for r in fs:
        by_doc.setdefault(r.doc_id, []).append(r.fs)
    exp = {d: max(v) + eq.MM_TIE_BREAKER * (sum(v) - max(v))
           for d, v in by_doc.items()}
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.doc_id, r.score) for r in
           eq.q_multi_match_best(spark, sf_dir).collect()]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (gd, gs), (ed, es) in zip(got, top):
        assert abs(gs - es) < 1e-6


# --------------------------------------------- agg trees

def test_events_agg_tree_matches_duckdb(spark, sf_dir):
    _assert_matches_oracle(spark, sf_dir, "events_agg_tree")


def test_agg_tree_single_pass_plan(spark, sf_dir):
    """The whole three-level panel must be ONE rollup aggregate: a
    single shuffle, no join, no second scan."""
    df = agg_tree(eq.load(spark, sf_dir, "events"), eq.AGG_TREE_SPEC)
    plan = explain_str(df)
    # formatted mode prints each node twice (tree line + "(N) Exchange"
    # detail header) — count the detail headers, one per physical node
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert "Join" not in plan
    assert "expand" in plan.lower()  # the grouping-sets Expand operator


def test_events_agg_forest_matches_duckdb(spark, sf_dir):
    _assert_matches_oracle(spark, sf_dir, "events_agg_forest")


def test_agg_forest_single_pass_plan(spark, sf_dir):
    """SIBLING buckets must NOT add passes: the whole four-set tree is
    still one Expand + one shuffle, no join, no second scan."""
    df = agg_tree(eq.load(spark, sf_dir, "events"), eq.AGG_FOREST_SPEC)
    plan = explain_str(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert (n_exchanges, n_scans) == (1, 1), plan
    assert "Join" not in plan


def test_agg_tree_rejects_duplicate_bucket_names(spark, sf_dir):
    spec = {"a": {"terms": {"field": "event_type"},
                  "aggs": {"a": {"terms": {"field": "user_id"}}}}}
    with pytest.raises(ValueError, match="duplicate bucket agg name"):
        agg_tree(eq.load(spark, sf_dir, "events"), spec)


# --------------------------------------------- composed _search body

def test_search_body_gates_match_oracle(spark, sf_dir):
    _assert_matches_oracle(spark, sf_dir, "search_body")
    _assert_matches_oracle(spark, sf_dir, "search_body_idx")


def test_search_body_roundtrips_individual_parts(spark, sf_dir):
    """query + aggs + highlight + search_after in ONE body must equal
    the individually-served results."""
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    docs = eq.load(spark, sf_dir, "documents")
    corpus = (eq.tokenized_documents(spark, sf_dir)
              .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
              .withColumn("url", F.format_string("doc%012d", "doc_id")))
    body = {"query": {"match": eq.FLAGSHIP_QUERY}, "size": 10,
            "highlight": {"fields": {"text": {}}},
            "aggs": {"by_lang": {"terms": {"field": "lang"}}}}
    res = search_body(spark, reader, body, corpus=corpus)
    assert res["hits"] == topk_local(reader, eq.FLAGSHIP_QUERY, k=10)
    # page 2 through the body == page 2 through the primitive
    cur = res["hits"][-1]
    body2 = dict(body, search_after=[cur[1], cur[0]])
    del body2["aggs"], body2["highlight"]
    res2 = search_body(spark, reader, body2)
    assert res2["hits"] == topk_local(reader, eq.FLAGSHIP_QUERY, k=10,
                                      search_after=(cur[1], cur[0]))
    assert not (set(d for d, _ in res2["hits"])
                & set(d for d, _ in res["hits"]))
    # every fragment marks a query term
    frags = res["fragments"].collect()
    assert len(frags) == len(res["hits"])
    assert all("<em>" in r.fragment for r in frags)
    # aggs grand total == docs matching ANY query term (match context)
    qterms = sorted(set(eq.FLAGSHIP_QUERY.split()))
    expected_total = corpus.filter(
        F.arrays_overlap("tokens", F.array(*[F.lit(t) for t in qterms]))
    ).count()
    total_row = [r for r in res["aggs"].collect() if r.gid == 1]
    assert len(total_row) == 1 and total_row[0].doc_count == expected_total


def test_search_body_rejects_unsupported(spark, sf_dir):
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    with pytest.raises(ValueError, match="unsupported query kind"):
        search_body(spark, reader, {"query": {"knn": {"x": 1}}})
    with pytest.raises(ValueError, match="rescore"):
        search_body(spark, reader, {
            "query": {"match_phrase": "x y"},
            "rescore": {"query": {"rescore_query":
                                  {"match_phrase": "x y"}}}})


# --------------------------------------------- ILM retention

RET_CFG = IndexConfig(shard_size=64, wave_shards=2, n_buckets=4,
                      block_size=32, positions=False)


def test_retention_lifecycle(spark, tmp_path):
    """3 epochs with distinct warc_ts ranges -> retire the oldest ->
    masked immediately; compaction tick -> physically dropped, stats
    shrink, stale tombstone files cleared."""
    idx = str(tmp_path / "db")
    pages = gen_pages_df(spark, 300, partitions=4).drop("warc_ts")
    urls = sorted(r.url for r in pages.select("url").collect())
    days = ["2025-01-01 00:00:00", "2025-01-05 00:00:00",
            "2025-01-09 00:00:00"]
    slices = []
    for i, day in enumerate(days):
        sl = (pages.filter(F.col("url").isin(urls[i * 100:(i + 1) * 100]))
              .withColumn("warc_ts", F.lit(day).cast("timestamp")))
        slices.append(sl)
    build_index(spark, slices[0], idx, RET_CFG)
    extend_index(spark, slices[1], idx)
    extend_index(spark, slices[2], idx)
    corpus = slices[0].unionByName(slices[1]).unionByName(slices[2])

    reader = IndexReader(spark, idx)
    n0, _ = reader.global_stats()
    assert n0 == 300
    # epoch-0 docs occupy ids [0, 100)
    out = retire(spark, idx, corpus, "2025-01-02 00:00:00")
    assert out["n_deleted"] == 100
    # masked immediately: no served hit from the retired id range
    reader = IndexReader(spark, idx)
    for d, _s in topk_local(reader, "the value table data", k=500):
        assert d >= 100
    # second tick: nothing new expired, ratio 100/300 > 0.10 -> compact
    tick = maintenance_tick(spark, idx, corpus, "2025-01-02 00:00:00",
                            max_tombstone_frac=0.10)
    assert tick["retired"] == 0 and tick["compacted"]
    reader = IndexReader(spark, idx)
    n1, _ = reader.global_stats()
    assert n1 == 200
    assert len(read_deletes(idx)) == 0
    # the retired generation's tombstone artifacts are gone
    assert not (Path(idx) / "_deletes.json").exists()
    assert not (Path(idx) / "deletes").exists()
    # and the survivors still serve
    hits = topk_local(IndexReader(spark, idx), "the value table data", k=10)
    assert hits and all(d >= 100 for d, _ in hits)


# --------------------------------------------- phrase suggester

def test_suggest_phrase_corrects_seeded_typo(spark, sf_dir):
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    ensure_term_dict(spark, reader)
    lm = build_bigram_lm(eq.tokenized_documents(spark, sf_dir))
    # pick the corpus's strongest bigram and typo its second word
    (a, b), _n = max(lm["c2"].items(), key=lambda kv: (kv[1], kv[0]))
    typo = b[:-1] + ("x" if b[-1] != "x" else "q")
    if typo in lm["c1"]:
        typo = b + "zz"
    res = suggest_phrase(reader, f"{a} {typo}", lm)
    assert res[0]["text"] == f"{a} {b}"
    assert res[0]["changed"]
    # a clean phrase survives untouched (suggest_mode: missing)
    res2 = suggest_phrase(reader, f"{a} {b}", lm)
    assert res2[0]["text"] == f"{a} {b}"
    assert not res2[0]["changed"]


# --------------------------------------------- analyzer chain

def test_analyze_arrow_matches_python_twin():
    """The Arrow kernel and the query-side Python analyzer must agree
    token-for-token (the index/search analyzer split only works if
    both sides apply the identical transform)."""
    import pyarrow as pa

    from logsentinelai_spark.corpus import build_vocab
    from logsentinelai_spark.functions.analyzer import (analyze,
                                                        analyze_arrow, s_stem)

    toks = [t for t in build_vocab() if t.isascii()][:2000] + [
        "s", "ss", "us", "bus", "ties", "tables", "goes", "trees",
        "aes", "gases", "classes", "is", "days", "analysis"]
    sw = ("the", "of", "and", "a")
    keep, flat = analyze_arrow(pa.array(toks, type=pa.string()), sw, "s")
    stemmed = flat.to_pylist()
    assert [s_stem(t) for t in toks] == stemmed
    arrow_stream = [t for t, k in zip(stemmed, keep) if k]
    assert arrow_stream == analyze(toks, sw, "s")


def test_analyze_default_chain_is_identity():
    import pyarrow as pa

    from logsentinelai_spark.functions.analyzer import analyze_arrow

    arr = pa.array(["the", "tables", "x"], type=pa.string())
    keep, flat = analyze_arrow(arr)
    assert keep is None and flat is arr


AN_CFG = IndexConfig(shard_size=64, wave_shards=2, n_buckets=4,
                     block_size=32, positions=True, use_text_col=True,
                     stopwords=("the", "of", "and", "a"), stemmer="s")


def _an_pages(spark):
    rows = [
        ("https://ex/1", "alpha the beta gamma words", "en"),
        ("https://ex/2", "alpha beta of the words word", "en"),
        ("https://ex/3", "gamma delta tables table", "en"),
        ("https://ex/4", "the of and a", "en"),  # stopwords only
    ]
    return spark.createDataFrame(
        [(u, None, "", t, lg) for u, t, lg in rows],
        "url string, warc_ts timestamp, html string, text string, lang string")


def test_analyzed_index_end_to_end(spark, tmp_path):
    """Build with the chain on: stopwords never reach the postings,
    plural/singular collapse to one term, query analysis mirrors, and
    phrases match the analyzed positional stream (no position
    increments for removed stopwords)."""
    from logsentinelai_spark.index.query import (phrase_topk_local,
                                                 topk_local_terms)

    idx = str(tmp_path / "an")
    build_index(spark, _an_pages(spark), idx, AN_CFG)
    reader = IndexReader(spark, idx)
    assert reader.stopwords == ("the", "of", "and", "a")
    assert reader.stemmer == "s"
    # stopwords are not indexed; plurals are indexed under the stem
    pdf = reader.postings_blocks_local(["the", "of", "words", "tables"])
    assert pdf[pdf["block_id"] >= 0].empty
    pdf = reader.postings_blocks_local(["word", "table"])
    assert set(pdf[pdf["block_id"] >= 0]["term"]) == {"word", "table"}
    # query analysis mirrors: raw text with stopwords + plurals hits
    hits = topk_local(reader, "the words", k=10)
    assert {d for d, _ in hits} == {0, 1}
    assert hits == topk_local(reader, "words of the", k=10)
    assert hits == topk_local_terms(reader, ["word"], k=10)
    # doc 3 ("the of and a") analyzed to nothing -> dl=0, matches nothing
    assert all(d != 3 for d, _ in topk_local(reader, "the of", k=10))
    # phrase over the analyzed stream: "alpha the beta" indexes as
    # adjacent [alpha, beta] -> both docs 0 and 1 match either form
    for q in ("alpha beta", "alpha the beta"):
        got = {d for d, _tf, _s in phrase_topk_local(reader, q, k=10)}
        assert got == {0, 1}, (q, got)


def test_analyzed_index_pins_chain_on_extend(spark, tmp_path):
    """extend_index re-reads the committed chain from meta — new waves
    tokenize identically (a mixed-stream index would be corrupt)."""
    idx = str(tmp_path / "an2")
    build_index(spark, _an_pages(spark), idx, AN_CFG)
    more = spark.createDataFrame(
        [("https://ex/5", None, "", "the words alpha", "en")],
        "url string, warc_ts timestamp, html string, text string, lang string")
    extend_index(spark, more, idx)
    reader = IndexReader(spark, idx)
    pdf = reader.postings_blocks_local(["words", "the"])
    assert pdf[pdf["block_id"] >= 0].empty
    hits = {d for d, _ in topk_local(reader, "words", k=10)}
    assert len(hits) == 3  # docs 0, 1 and the new doc


def test_search_body_refuses_result_altering_keys(spark, sf_dir):
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    with pytest.raises(ValueError, match="unsupported _search body keys"):
        search_body(spark, reader, {"query": {"match": "data"},
                                    "sort": [{"n_chars": "desc"}]})
    # ES response-shaping no-ops pass through
    out = search_body(spark, reader, {"query": {"match": "data"},
                                      "_source": False,
                                      "track_total_hits": True})
    assert out["hits"]


def test_search_body_aggs_leg_joins_broadcast(spark):
    """The body compiler's aggs leg (match set -> url resolution ->
    corpus join -> rollup) must AQE-convert its joins to broadcast for
    a selective query — pinned on the executed (adaptive-final) plan,
    like test_search_agg_idx_match_set_joins_broadcast."""
    sf = "/root/testdata/sf0.001"
    reader = IndexReader(spark, eq._index_dir_for(spark, sf))
    corpus = eq.load(spark, sf, "documents").select(
        F.format_string("doc%012d", "doc_id").alias("url"),
        "lang", "n_chars")
    out = search_body(spark, reader, {
        "query": {"bool": {"must": eq.SEARCH_MUST,
                           "must_not": eq.SEARCH_MUST_NOT}},
        "aggs": {"by_lang": {"terms": {"field": "lang"},
                             "aggs": {"sum_chars":
                                      {"sum": {"field": "n_chars"}}}}},
    }, corpus=corpus)
    aggs = out["aggs"]
    aggs.collect()  # AQE finalizes join strategies at runtime
    plan = aggs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_search_body_from_size_paging(spark, sf_dir):
    """ES from+size shallow paging: page 2 is exactly the [from, from+size)
    slice of the deterministic total order, for every routed query kind."""
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    for q in ({"match": "data network"},
              {"bool": {"must": "data", "must_not": "zebra"}},
              {"prefix": "dat"}):
        full = search_body(spark, reader, {"query": q, "size": 15})["hits"]
        page = search_body(spark, reader,
                           {"query": q, "from": 5, "size": 10})["hits"]
        assert page == full[5:15], q


def test_analyzed_topk_matches_duckdb(spark, sf_dir):
    _assert_matches_oracle(spark, sf_dir, "analyzed_topk")


def test_analyzed_fixture_index_mirrors_query_chain(spark, sf_dir):
    """On the analyzed fixture index: stopwords match nothing (removed
    from postings AND from query analysis), and a plural query equals
    its stemmed form (query-side S-stemmer)."""
    reader = IndexReader(spark, eq._fixture_index(spark, sf_dir,
                                                  analyzed=True))
    assert topk_local(reader, "a the of", k=10) == []
    assert (topk_local(reader, "values", k=10)
            == topk_local(reader, "value", k=10) != [])


def test_search_body_spark_serving_rank_identical(spark, sf_dir, tmp_path):
    """serving="spark" routes through the distributed scorers and must
    return the identical hit list as the driver-local path — on the
    fixture index and on a non-compacted 2-wave index with tombstones,
    where span_near's shard function run through the Spark seam equals
    its local run and explain's totals equal the served scores."""
    import functools

    from logsentinelai_spark.index.deletes import delete_docs
    from logsentinelai_spark.index.query import (
        _ShardScan, _span_near_rows, explain_score, span_near_local)

    waved = str(tmp_path / "waved")
    build_index(spark, gen_pages_df(spark, 600, partitions=4), waved, IndexConfig(
        shard_size=160, wave_shards=2, n_buckets=4, block_size=16, positions=True))
    top = [d for d, _ in topk_local(IndexReader(spark, waved), "of the", k=200)]
    delete_docs(waved, [d for s in (0, 2) for d in [h for h in top if h // 160 == s][:2]])
    for reader, (a, b, c, pre, wild, fuzz) in (
            (IndexReader(spark, eq._index_dir_for(spark, sf_dir)),
             ("data", "network", "merge", "dat", "da?a*", "dsta")),
            (IndexReader(spark, waved), ("of", "the", "and", "th", "t?e*", "tge"))):
        page1 = search_body(spark, reader, {"query": {"match": f"{a} {b}"}})["hits"]
        for body in ({"query": {"match": f"{a} {b}"}, "size": 12},
                     {"query": {"bool": {"must": a, "should": c}}},
                     {"query": {"bool": {"must": a, "must_not": b}}},
                     {"query": {"match_phrase": f"{a} {b}"}},
                     {"query": {"match_phrase": eq.PHRASE_QUERY
                                if hasattr(eq, "PHRASE_QUERY") else "data query"}},
                     {"query": {"prefix": pre}, "from": 3, "size": 5},
                     {"query": {"wildcard": {"text": {"value": wild}}}},
                     {"query": {"fuzzy": {"text": {"value": fuzz, "fuzziness": 1}}}},
                     {"query": {"match": f"{a} {b}"},
                      "search_after": [page1[-1][1], page1[-1][0]]},
                     {"query": {"match": f"{a} {b}"}, "from": 4, "size": 6}):
            loc = search_body(spark, reader, body)["hits"]
            dist = search_body(spark, reader, body, serving="spark")["hits"]
            assert loc == dist, body
    gone = set(reader.deletes().tolist())
    assert len(gone) == 4 and not gone & {d for d, _ in page1}
    pairs = [("of", "the", 3), ("and", "the", 2)]
    fn = functools.partial(_span_near_rows, pairs=pairs)
    runs = [sorted(_ShardScan(reader, ["and", "of", "the"], serving,
                              with_positions=True).run(fn))
            for serving in ("local", "spark")]
    assert runs[0] and runs[0] == sorted(map(tuple, runs[1]))
    assert runs[0] == sorted((pi, d, c) for pi, hits in enumerate(span_near_local(reader, pairs))
                             for d, c in hits)
    assert not gone & {d for _, d, _ in runs[0]}
    for d, s in search_body(spark, reader, {"query": {"match": "of the and"}},
                            serving="spark")["hits"]:
        assert explain_score(reader, "of the and", d)["total"] == s


def test_multi_match_best_idx_matches_duckdb(spark, sf_dir):
    _assert_matches_oracle(spark, sf_dir, "multi_match_best_idx")


def test_mm_field_indexes_have_field_local_stats(spark, sf_dir):
    """The per-field indexes carry FIELD-LOCAL stats: same doc space
    (N equal), different avgdl (title is 8 tokens, body the rest)."""
    t = IndexReader(spark, eq._mm_field_index(spark, sf_dir, "title"))
    b = IndexReader(spark, eq._mm_field_index(spark, sf_dir, "body"))
    nt, adt = t.global_stats()
    nb, adb = b.global_stats()
    assert nt == nb
    assert adt <= eq.MM_TITLE_LEN < adb


def test_search_body_suggest_section(spark, sf_dir):
    """One body carrying query + term AND phrase suggesters — the
    combined ES response shape."""
    reader = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    corpus = eq.tokenized_documents(spark, sf_dir)
    # an OOV typo of a vocabulary term: take any dictionary term and
    # mangle its tail
    from logsentinelai_spark.index.termdict import ensure_term_dict
    ensure_term_dict(spark, reader)
    hit = search_body(spark, reader, {"query": {"match": "data"}})["hits"]
    assert hit
    out = search_body(spark, reader, {
        "query": {"match": "data"},
        "suggest": {
            "fix-term": {"text": "dataq", "term": {"fuzziness": 1}},
            "fix-phrase": {"text": "data mergeq", "phrase": {}},
        }}, corpus=corpus)
    assert out["hits"] == hit
    assert out["suggest"]["fix-term"], "term suggester returned nothing"
    phr = out["suggest"]["fix-phrase"]
    assert phr[0]["text"].startswith("data merge")
