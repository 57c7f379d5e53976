"""Round-6 features: tombstone deletes honored by every query path,
generation compaction (rank-identity + physical tombstone drop), sorted
term dictionary + prefix queries, filter-context bool match sets,
exact ANN re-rank, data-driven domain blocklist, position-bound guard.

ES/Lucene parity targets: delete-by-query tombstones + force-merge
(reference runs ES 9.x — call518/LogSentinelAI docker-compose), prefix
queries (Kibana query bar), _search query+aggs composition.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pytest

from logsentinelai_spark.corpus import _VOCAB, gen_pages_df
from logsentinelai_spark.functions.tokenizer import tokens
from logsentinelai_spark.index.build import IndexConfig, build_index, extend_index
from logsentinelai_spark.index.compact import compact_index
from logsentinelai_spark.index.deletes import delete_docs, read_deletes
from logsentinelai_spark.index.query import (
    bool_match_ids, bool_topk_local, phrase_topk_local, span_near_local,
    topk, topk_local, topk_local_terms, topk_many_local,
)
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.termdict import (
    build_term_dict, ensure_term_dict, expand_prefix, prefix_topk,
    prefix_topk_local,
)

N_DOCS = 600
CFG = IndexConfig(
    shard_size=128,
    wave_shards=2,   # 256 docs/wave -> 3 waves
    n_buckets=4,
    block_size=32,
    positions=True,
)
# query terms drawn from the pages-corpus vocabulary (English
# frequency list) — mid-frequency so every fixture query matches
Q = f"{_VOCAB[30]} {_VOCAB[45]}"
T1, T2, T3 = _VOCAB[25], _VOCAB[40], _VOCAB[60]


@pytest.fixture(scope="module")
def built6(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r6")
    idx = str(root / "db")
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    build_index(spark, pages, idx, CFG)
    by_url = sorted((r.url, r.text) for r in pages.select("url", "text").collect())
    doc_tokens = {i: tokens(t) for i, (_, t) in enumerate(by_url)}
    return dict(idx=idx, pages=pages, doc_tokens=doc_tokens)


def _fresh_copy(built6, tmp_path, name="db_copy"):
    """Deletes/compaction mutate the index — tests that write get their
    own copy so the module fixture stays pristine."""
    dst = str(tmp_path / name)
    shutil.copytree(built6["idx"], dst)
    return dst


# ------------------------------------------------------------- deletes

def test_delete_docs_masks_every_query_path(spark, built6, tmp_path):
    idx = _fresh_copy(built6, tmp_path)
    r0 = IndexReader(spark, idx)
    before = topk_local(r0, Q, k=10, mode="acc")
    assert before, "fixture query must match"
    victims = [before[0][0], before[2][0]]
    delete_docs(idx, victims)

    r = IndexReader(spark, idx)  # tombstones load per-reader
    # stats unchanged until compaction (Lucene semantics): surviving
    # docs keep their exact scores, so expected = old list minus victims
    want = [(d, s) for d, s in topk_local(r0, Q, k=10 + len(victims), mode="acc")
            if d not in victims][:10]
    def _eq(got):
        assert [d for d, _ in got] == [d for d, _ in want]
        assert [s for _, s in got] == pytest.approx([s for _, s in want])

    for mode in ("acc", "wand"):
        _eq(topk_local(r, Q, k=10, mode=mode))
    _eq(topk(r, Q, k=10, mode="acc"))
    _eq(topk_many_local(r, [Q], k=10)[0])
    # bool path: same victims must vanish
    got_bool = bool_topk_local(r, must=Q, k=10)
    assert not set(victims) & {d for d, _ in got_bool}
    # match set: filter context honors tombstones too
    ids = {row.doc_id for row in bool_match_ids(r, Q).collect()}
    assert not set(victims) & ids
    assert all(d in ids for d, _ in want if d not in victims)


def test_delete_docs_masks_phrase_and_span(spark, built6, tmp_path):
    idx = _fresh_copy(built6, tmp_path)
    r0 = IndexReader(spark, idx)
    # find a doc with an adjacent bigram to use as the phrase
    phrase = None
    for d, toks in built6["doc_tokens"].items():
        if len(toks) >= 2:
            phrase = f"{toks[0]} {toks[1]}"
            break
    hits0 = phrase_topk_local(r0, phrase, k=5)
    assert hits0
    victim = hits0[0][0]
    delete_docs(idx, [victim])
    r = IndexReader(spark, idx)
    assert victim not in {d for d, _, _ in phrase_topk_local(r, phrase, k=5)}
    a, b = phrase.split()
    span0 = {d for d, _ in span_near_local(r0, [(a, b, 3)])[0]}
    assert victim in span0
    span1 = {d for d, _ in span_near_local(r, [(a, b, 3)])[0]}
    assert span1 == span0 - {victim}


def test_delete_versioning_unions_and_commits_last(spark, built6, tmp_path):
    idx = _fresh_copy(built6, tmp_path)
    s1 = delete_docs(idx, [5, 3])
    s2 = delete_docs(idx, [3, 9])
    assert (s1["version"], s2["version"]) == (1, 2)
    assert read_deletes(idx).tolist() == [3, 5, 9]
    # torn pointer = previous version served (write-then-flip contract)
    assert s2["n_deleted"] == 3 and s2["newly_deleted"] == 1


def test_dedup_drop_list_deletes_duplicates_without_rebuild(spark, tmp_path):
    """Close the pipeline loop: exact-dedup drop list -> delete_docs ->
    duplicates gone from BM25 serving, no rebuild."""
    from pyspark.sql import functions as F

    pages = gen_pages_df(spark, 300, partitions=4)
    # inject exact duplicates: clone 20 docs under fresh urls
    clones = pages.orderBy("url").limit(20).select(
        F.concat(F.lit("zzz-dup-"), "url").alias("url"),
        "warc_ts", "html", "text", "lang")
    snapshot = pages.unionByName(clones)
    idx = str(tmp_path / "db_dup")
    build_index(spark, snapshot, idx, CFG)
    r0 = IndexReader(spark, idx)
    ds = r0.doc_stats_df().select("doc_id", "url")
    texts = spark.createDataFrame(
        [(u, t) for u, t in ((row.url, row.text)
                             for row in snapshot.select("url", "text").collect())],
        "url string, text string")
    keyed = ds.join(texts, "url").select(
        "doc_id", F.md5(F.encode("text", "utf-8")).alias("k"))
    keepers = keyed.groupBy("k").agg(F.min("doc_id").alias("keeper"))
    drop = keyed.join(keepers, "k").filter(
        F.col("doc_id") != F.col("keeper")).select("doc_id")
    n_drop = drop.count()
    # >= : the base corpus may carry natural exact duplicates too
    assert n_drop >= 20
    delete_docs(idx, drop)
    r = IndexReader(spark, idx)
    dropped = set(read_deletes(idx).tolist())
    for q in (Q, f"{T1} {T2}", f"{T2} {T3}"):
        got = {d for d, _ in topk_local(r, q, k=50)}
        assert not got & dropped, q


# ------------------------------------------------------------ compaction

def _derived_phrase(doc_tokens_or_pages, spark=None):
    """First adjacent bigram of the lexicographically first doc —
    deterministic, guaranteed present."""
    if isinstance(doc_tokens_or_pages, dict):
        for _, toks in sorted(doc_tokens_or_pages.items()):
            if len(toks) >= 2:
                return f"{toks[0]} {toks[1]}"
    row = doc_tokens_or_pages.orderBy("url").limit(1).collect()[0]
    toks = tokens(row.text)
    return f"{toks[0]} {toks[1]}"


def _rank_probes(spark, idx, phrase):
    r = IndexReader(spark, idx)
    return {
        "topk": topk_local(r, Q, k=10, mode="acc"),
        "phrase": phrase_topk_local(r, phrase, k=10),
        "bool": bool_topk_local(r, must=T1, should=T2, must_not=T3, k=10),
    }


def _assert_probes_equal(a, b):
    assert a.keys() == b.keys()
    for key in a:
        ra, rb = a[key], b[key]
        assert [t[:-1] for t in ra] == [t[:-1] for t in rb], key  # ids (+ptf)
        assert [t[-1] for t in ra] == pytest.approx([t[-1] for t in rb]), key


def test_compact_rank_identity_files_and_old_gen_removable(spark, built6, tmp_path):
    """build -> extend x2 -> compact: results identical pre/post, file
    count drops, the pre-compaction files are removable."""
    idx = str(tmp_path / "db_ext")
    pages_all = gen_pages_df(spark, N_DOCS, partitions=8)
    urls_sorted = sorted(r.url for r in pages_all.select("url").collect())
    v1 = set(urls_sorted[:300])
    v2 = set(urls_sorted[:450])
    build_index(spark, pages_all.filter(pages_all.url.isin(list(v1))), idx, CFG)
    extend_index(spark, pages_all.filter(pages_all.url.isin(list(v2))), idx)
    extend_index(spark, pages_all, idx)
    phrase = _derived_phrase(pages_all)
    before = _rank_probes(spark, idx, phrase)
    files_before = sum(1 for _ in (Path(idx) / "postings").rglob("*.parquet"))

    s = compact_index(spark, idx)  # default: 4x re-shard merge
    assert s["generation"] == 1 and s["dropped_docs"] == 0
    assert s["shard_size"] == 4 * CFG.shard_size
    after = _rank_probes(spark, idx, phrase)
    _assert_probes_equal(after, before)
    # the re-shard folds partial epoch-boundary shards: files coalesce
    assert s["files_after"] < files_before
    # stats preserved exactly (no deletes)
    N, avgdl = IndexReader(spark, idx).global_stats()
    assert N == N_DOCS
    # old generation removable: only the pointer + gen dir needed
    for sub in ("postings", "store", "manifest", "doc_map"):
        p = Path(idx) / sub
        if p.exists():
            shutil.rmtree(p)
    _assert_probes_equal(_rank_probes(spark, idx, phrase), before)
    # ... and a layout-preserving second compaction (same shard_size)
    # still serves identically
    s2 = compact_index(spark, idx, shard_size=s["shard_size"])
    assert s2["generation"] == 2 and s2["shard_size"] == s["shard_size"]
    _assert_probes_equal(_rank_probes(spark, idx, phrase), before)
    # non-multiple re-shard is rejected (ids are shard arithmetic)
    with pytest.raises(ValueError, match="multiple"):
        compact_index(spark, idx, shard_size=s["shard_size"] + 1)


def test_compact_extend_after_compaction(spark, tmp_path):
    """extend_index on a compacted index lands new waves inside the
    live generation and serves the union."""
    pages_all = gen_pages_df(spark, N_DOCS, partitions=8)
    urls_sorted = sorted(r.url for r in pages_all.select("url").collect())
    v1 = set(urls_sorted[:384])
    idx = str(tmp_path / "db_cx")
    build_index(spark, pages_all.filter(pages_all.url.isin(list(v1))), idx, CFG)
    compact_index(spark, idx)
    s = extend_index(spark, pages_all, idx)
    assert s["new_docs"] == N_DOCS - 384
    r = IndexReader(spark, idx)
    N, _ = r.global_stats()
    assert N == N_DOCS
    # oracle over the union corpus with read-back ids
    from logsentinelai_spark.index.bm25 import bm25_oracle_topk

    text_by_url = {row.url: row.text
                   for row in pages_all.select("url", "text").collect()}
    id_url = {row.doc_id: row.url
              for row in r.doc_stats_df().select("doc_id", "url").collect()}
    doc_tokens = {d: tokens(text_by_url[u]) for d, u in id_url.items()}
    want = bm25_oracle_topk(doc_tokens, tokens(Q), k=10)
    got = topk_local(r, Q, k=10, mode="acc")
    assert [d for d, _ in got] == [d for d, _ in want]


def test_compact_drops_tombstones_physically(spark, built6, tmp_path):
    idx = _fresh_copy(built6, tmp_path)
    r0 = IndexReader(spark, idx)
    N0, _ = r0.global_stats()
    victims = [d for d, _ in topk_local(r0, Q, k=3)]
    delete_docs(idx, victims)
    s = compact_index(spark, idx)
    assert s["dropped_docs"] == len(victims)
    assert s["live_docs"] == N0 - len(victims)
    r = IndexReader(spark, idx)
    assert r.deletes() is None  # the new generation starts clean
    N1, _ = r.global_stats()
    assert N1 == N0 - len(victims)  # stats now exclude them (post-merge)
    assert not set(victims) & {d for d, _ in topk_local(r, Q, k=50)}
    # positional payload survived the rewrite and still serves phrases
    ph = _derived_phrase(built6["doc_tokens"])
    surv = phrase_topk_local(r, ph, k=5)
    assert all(d not in set(victims) for d, _, _ in surv)
    # doc rows physically gone
    ids = {row.doc_id for row in r.doc_stats_df().select("doc_id").collect()}
    assert not set(victims) & ids and len(ids) == N1


# ------------------------------------------------- term dictionary / prefix

def test_term_dict_expansion_and_prefix_rank_identity(spark, built6):
    idx = built6["idx"]
    build_term_dict(spark, idx)
    r = IndexReader(spark, idx)
    vocab = {t for toks in built6["doc_tokens"].values() for t in toks}
    for prefix in ("s", "da", "q"):
        want = sorted(t for t in vocab if t.startswith(prefix))
        got, truncated = expand_prefix(r, prefix, max_terms=10_000)
        assert sorted(got) == want and not truncated, prefix
    # cap keeps the HIGHEST-df terms and reports truncation
    full, _ = expand_prefix(r, "s", max_terms=10_000)
    capped, truncated = expand_prefix(r, "s", max_terms=2)
    assert truncated and capped == full[:2]
    # prefix scoring == disjunctive scorer over the same terms,
    # local == distributed
    terms, _ = expand_prefix(r, "s", max_terms=10_000)
    want_rank = topk_local_terms(r, terms, k=10, mode="acc")

    def _eq(got):
        assert [d for d, _ in got] == [d for d, _ in want_rank]
        assert [s for _, s in got] == pytest.approx([s for _, s in want_rank])

    _eq(prefix_topk_local(r, "s", k=10, max_terms=10_000))
    _eq(prefix_topk(r, "s", k=10, max_terms=10_000))


def test_term_dict_staleness_rebuild(spark, tmp_path):
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    urls_sorted = sorted(r.url for r in pages.select("url").collect())
    v1 = set(urls_sorted[:256])
    idx = str(tmp_path / "db_td")
    build_index(spark, pages.filter(pages.url.isin(list(v1))), idx, CFG)
    r1 = IndexReader(spark, idx)
    ensure_term_dict(spark, r1)
    t1, _ = expand_prefix(r1, "s", max_terms=10_000)
    extend_index(spark, pages, idx)
    r2 = IndexReader(spark, idx)
    ensure_term_dict(spark, r2)  # wave set changed -> rebuild
    t2, _ = expand_prefix(r2, "s", max_terms=10_000)
    vocab = set()
    for row in pages.select("text").collect():
        vocab |= set(tokens(row.text))
    assert sorted(t2) == sorted(t for t in vocab if t.startswith("s"))
    assert set(t1) <= set(t2)


# ---------------------------------------------------- bool match set

def test_bool_match_ids_equals_python_oracle(spark, built6):
    r = IndexReader(spark, built6["idx"])
    got = sorted(row.doc_id for row in
                 bool_match_ids(r, f"{T1} {T2}", Q, T3).collect())
    want = sorted(
        d for d, toks in built6["doc_tokens"].items()
        if {T1, T2} <= set(toks) and T3 not in toks)
    assert got == want and got
    # no must: any should term matches
    got2 = sorted(row.doc_id for row in
                  bool_match_ids(r, "", T2, T3).collect())
    want2 = sorted(
        d for d, toks in built6["doc_tokens"].items()
        if T2 in set(toks) and T3 not in toks)
    assert got2 == want2 and got2


# ------------------------------------------------------- ANN re-rank

def test_ann_rerank_exact_and_recall(spark, tmp_path):
    """rerank=R: (a) with every list probed and R covering the probed
    rows, results == the exact ivf method's; (b) recall@10 vs brute
    force >= plain ivfpq on the fixture."""
    from logsentinelai_spark.operators.similarity import _ann_dir_for
    from logsentinelai_spark.index.ann import ann_search, read_ann_meta

    sf = "/root/testdata/sf0.001"
    ann_dir = _ann_dir_for(spark, sf)
    meta = read_ann_meta(ann_dir)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qrows = emb.orderBy("vec_id").limit(4).collect()
    queries = [(int(r.vec_id), list(r.embedding)) for r in qrows]
    n_lists = len(meta["centroids"])

    exact = ann_search(spark, ann_dir, queries, method="ivf",
                       n_probe=n_lists, k=10).collect()
    rer = ann_search(spark, ann_dir, queries, method="ivfpq",
                     n_probe=n_lists, k=10, rerank=1000).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id, round(r.score, 6))
                              for r in rows)
    assert key(rer) == key(exact)

    truth = {(r.query_id, r.neighbor_id) for r in exact}
    plain = ann_search(spark, ann_dir, queries, method="ivfpq",
                       n_probe=2, k=10).collect()
    rer2 = ann_search(spark, ann_dir, queries, method="ivfpq",
                      n_probe=2, k=10, rerank=5).collect()
    recall = lambda rows: len({(r.query_id, r.neighbor_id) for r in rows} & truth)
    assert recall(rer2) >= recall(plain)


# -------------------------------------------- data-driven domain blocklist

def test_corpus_filter_accepts_stats_derived_blocklist(spark):
    from pyspark.sql import functions as F

    from logsentinelai_spark.operators.textstats import (
        BLOCK_DOMAINS, q_corpus_filter, q_domain_stats)

    sf = "/root/testdata/sf0.001"
    # default == pinned fixture list (gate unchanged)
    base = q_corpus_filter(spark, sf)
    explicit = q_corpus_filter(spark, sf, block_domains=BLOCK_DOMAINS)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, explicit.collect()))
    # curation loop: q_domain_stats output slice drives the rule
    stats = q_domain_stats(spark, sf)
    top = stats.orderBy(F.desc("n_docs"), "domain").limit(2).select("domain")
    top_domains = {r.domain for r in top.collect()}
    out = q_corpus_filter(spark, sf, block_domains=top)
    blocked = {r.domain for r in
               out.filter(out.drop_reason == "domain_blocked").collect()}
    assert blocked <= top_domains and blocked
    # docs in those domains either blocked or dropped by an EARLIER rule
    leaked = out.filter(
        out.domain.isin(list(top_domains))
        & (out.drop_reason == "kept")).count()
    assert leaked == 0


# ------------------------------------------------------ position bound

def test_position_packing_limit_enforced():
    from logsentinelai_spark.index.build import _check_pos_limit

    _check_pos_limit((1 << 32) - 1)  # largest legal dl
    with pytest.raises(ValueError, match="positional packing limit"):
        _check_pos_limit(1 << 32)


# ----------------------------------------------------- search_agg plan pin

def test_search_agg_idx_match_set_joins_broadcast(spark):
    """The composition's plan contract: the index-served match set is
    JOINED to the documents scan (no full-corpus rescan of postings),
    and AQE broadcast-converts the join for a selective filter —
    pinned on the executed (adaptive-final) plan."""
    from logsentinelai_spark.entry_queries import q_search_agg_idx

    df = q_search_agg_idx(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE finalizes join strategy at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------- legacy (pre-positions) resume

def test_resume_legacy_index_never_mixes_position_layouts(spark, tmp_path):
    """Round-5 ADVICE: resuming an index whose committed waves lack the
    positional payload must NOT start writing pos_vb in new waves (wave
    schemas would drift). Simulated legacy index = meta without a
    'positions' key; the resume caller passes the modern default
    (positions=True) and must be overridden to False."""
    import json as _json

    import pyarrow.parquet as _pq

    idx = str(tmp_path / "db_legacy")
    pages = gen_pages_df(spark, 256, partitions=4)
    legacy = IndexConfig(shard_size=64, wave_shards=1, n_buckets=2,
                         block_size=32, positions=False)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, idx, legacy, fail_after_wave=0)
    meta_p = Path(idx) / "_meta.json"
    meta = _json.loads(meta_p.read_text())
    meta.pop("positions")  # pre-positions layout has no such key
    meta_p.write_text(_json.dumps(meta))
    build_index(spark, pages, idx, IndexConfig(
        shard_size=64, wave_shards=1, n_buckets=2, block_size=32,
        positions=True))
    r = IndexReader(spark, idx)
    assert r.positions is False
    assert len(r.waves) == 4
    for w in r.waves:  # EVERY wave (committed + resumed) position-free
        for f in (Path(idx) / "postings" / f"wave={w}").rglob("*.parquet"):
            col = _pq.read_table(str(f), columns=["pos_vb"]).column("pos_vb")
            assert col.null_count == len(col), f
    with pytest.raises(ValueError, match="positions"):
        phrase_topk_local(r, "the of", k=3)


# -------------------------------- match_phrase_prefix / significant_terms

def test_phrase_prefix_matches_python_oracle(spark, built6):
    from logsentinelai_spark.index.query import phrase_prefix_topk_local

    r = IndexReader(spark, built6["idx"])
    build_term_dict(spark, built6["idx"])
    query = f"{T1} s"
    got = phrase_prefix_topk_local(r, query, k=10_000, max_terms=10_000)
    want = {}
    for d, toks in built6["doc_tokens"].items():
        c = sum(1 for i in range(len(toks) - 1)
                if toks[i] == T1 and toks[i + 1].startswith("s"))
        if c:
            want[d] = c
    assert {d: p for d, p, _ in got} == want
    # scores obey the pinned tie-break ordering
    keys = [(-s, d) for d, _, s in got]
    assert keys == sorted(keys)
    # a single-token query routes to prefix_topk instead
    with pytest.raises(ValueError, match="prefix_topk"):
        phrase_prefix_topk_local(r, "s", k=5)


def test_significant_terms_matches_python_oracle(spark, built6):
    from logsentinelai_spark.index.query import bool_match_ids, significant_terms

    r = IndexReader(spark, built6["idx"])
    matched = bool_match_ids(r, T2)
    got = significant_terms(r, matched, top_n=8).collect()
    fg_docs = {d for d, toks in built6["doc_tokens"].items() if T2 in set(toks)}
    n_fg, n_all = len(fg_docs), len(built6["doc_tokens"])
    fg, bg = {}, {}
    for d, toks in built6["doc_tokens"].items():
        for t in set(toks):
            bg[t] = bg.get(t, 0) + 1
            if d in fg_docs:
                fg[t] = fg.get(t, 0) + 1
    scored = []
    for t, f in fg.items():
        fp, bp = f / n_fg, bg[t] / n_all
        if fp > bp:
            scored.append((round((fp - bp) * (fp / bp), 6), t))
    want = sorted(scored, key=lambda x: (-x[0], x[1]))[:8]
    assert [(row.term, row.fg_df, row.bg_df) for row in got] == [
        (t, fg[t], bg[t]) for _, t in want]
    assert [row.jlh for row in got] == pytest.approx([j for j, _ in want])


def test_delete_after_compaction_targets_live_generation(spark, built6, tmp_path):
    """Root-path deletes AFTER a compaction must land in (and be served
    from) the live generation — the full lifecycle:
    compact -> delete(root) -> masked -> compact again -> dropped."""
    idx = _fresh_copy(built6, tmp_path, "db_gen_del")
    compact_index(spark, idx)
    r1 = IndexReader(spark, idx)
    victim = topk_local(r1, Q, k=1)[0][0]
    delete_docs(idx, [victim])  # root path, index lives in gen_1
    assert read_deletes(idx).tolist() == [victim]
    assert (Path(idx) / "gen_1" / "_deletes.json").exists()
    r2 = IndexReader(spark, idx)
    assert victim not in {d for d, _ in topk_local(r2, Q, k=10)}
    s = compact_index(spark, idx)
    assert s["dropped_docs"] == 1 and s["generation"] == 2
    r3 = IndexReader(spark, idx)
    assert r3.deletes() is None
    assert victim not in {d for d, _ in topk_local(r3, Q, k=50)}


# ---------------------------------------------------- wildcard + fuzzy

def test_wildcard_expansion_and_rank_identity(spark, built6):
    import fnmatch

    from logsentinelai_spark.index.termdict import (
        expand_wildcard, wildcard_topk, wildcard_topk_local,
    )

    idx = built6["idx"]
    r = IndexReader(spark, idx)
    ensure_term_dict(spark, r)
    vocab = {t for toks in built6["doc_tokens"].values() for t in toks}
    # anchored-automaton semantics == fnmatch on the same alphabet,
    # including '?' and the leading-wildcard full-dict case
    for pat in ("s*", "*ing", "s?a*", "*a*e*", "t?e"):
        want = sorted(t for t in vocab if fnmatch.fnmatchcase(t, pat))
        got, truncated = expand_wildcard(r, pat, max_terms=10_000)
        assert sorted(got) == want and not truncated, pat
    # cap keeps highest-df, reports truncation
    full, _ = expand_wildcard(r, "s*", max_terms=10_000)
    if len(full) > 2:
        capped, truncated = expand_wildcard(r, "s*", max_terms=2)
        assert truncated and capped == full[:2]
    # no-literal patterns are rejected, not a full-vocab regex walk
    with pytest.raises(ValueError):
        expand_wildcard(r, "*")
    # scoring == the disjunctive scorer over the expansion; local ==
    # distributed
    terms, _ = expand_wildcard(r, "s*a*", max_terms=10_000)
    want_rank = topk_local_terms(r, terms, k=10, mode="acc")

    def _eq(got):
        assert [d for d, _ in got] == [d for d, _ in want_rank]
        assert [s for _, s in got] == pytest.approx([s for _, s in want_rank])

    _eq(wildcard_topk_local(r, "s*a*", k=10, max_terms=10_000))
    _eq(wildcard_topk(r, "s*a*", k=10, max_terms=10_000))


def _ref_lev(a: str, b: str) -> int:
    d = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        prev, d[0] = d[0], i
        for j in range(1, len(b) + 1):
            cur = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return d[len(b)]


def test_lev_bounded_equals_reference_levenshtein():
    """The vectorized banded DP gives every candidate its exact
    Levenshtein distance when that is within the bound and bound + 1
    otherwise, on ASCII and non-ASCII strings (NUL included: numpy's
    fixed-width strings pad with it)."""
    import random

    from logsentinelai_spark.index.termdict import _lev_bounded

    rng = random.Random(11)
    alphabet = "abz09\u00e9\u00df\u65e5\u0000"

    def word(hi):
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, hi)))

    for _ in range(300):
        q, cands = word(8), [word(10) for _ in range(rng.randint(0, 40))]
        for d in (0, 1, 2):
            assert _lev_bounded(q, cands, d).tolist() == \
                [min(_ref_lev(q, c), d + 1) for c in cands], (q, cands, d)


def test_expand_fuzzy_equals_reference_for_every_prefix_length(tmp_path):
    """`expand_fuzzy` over a written dictionary returns exactly the
    terms sharing the pinned prefix within the edit bound, for
    fuzziness 0-2 and prefix_length 0-2, and caps like `_cap_by_df`."""
    import random
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logsentinelai_spark.index.termdict import _cap_by_df, expand_fuzzy

    rng = random.Random(12)
    terms = sorted({"".join(rng.choice("abcd0") for _ in range(rng.randint(1, 8)))
                    for _ in range(3000)})
    dfs = [rng.randint(1, 50) for _ in terms]
    (tmp_path / "term_dict").mkdir()
    pq.write_table(pa.table({"term": terms, "df": dfs}),
                   tmp_path / "term_dict" / "part-0.parquet")
    (tmp_path / "_term_dict.json").write_text("{}")
    reader = SimpleNamespace(dir=tmp_path)
    probes = rng.sample(terms, 8) + ["x" + terms[5], terms[9][:-1] + "x", "zzzz"]
    for q in probes:
        for fz in (0, 1, 2):
            for pl in (0, 1, 2):
                pairs = [(t, df) for t, df in zip(terms, dfs)
                         if t.startswith(q[:pl]) and _ref_lev(q, t) <= fz]
                got, _ = expand_fuzzy(reader, q, fz, pl, max_terms=10**6)
                assert sorted(got) == [t for t, _ in pairs], (q, fz, pl)
                assert expand_fuzzy(reader, q, fz, pl, max_terms=5) == \
                    _cap_by_df(pairs, 5)


def test_fuzzy_expansion_semantics_and_rank_identity(spark, built6):
    from logsentinelai_spark.index.termdict import (
        expand_fuzzy, expand_fuzzy_spark, fuzzy_topk, fuzzy_topk_local,
    )

    idx = built6["idx"]
    r = IndexReader(spark, idx)
    ensure_term_dict(spark, r)
    vocab = {t for toks in built6["doc_tokens"].values() for t in toks}
    probe = sorted(vocab)[7]
    queries = [probe, probe[:-1] + "x", "x" + probe, probe[1:], "zzzz"]
    for q in queries:
        for fz in (0, 1, 2):
            want = sorted(t for t in vocab if _ref_lev(q, t) <= fz)
            got, _ = expand_fuzzy(r, q, fuzziness=fz, max_terms=10_000)
            assert sorted(got) == want, (q, fz)
            # the distributed dictionary-scan twin expands identically
            got_s, _ = expand_fuzzy_spark(spark, r, q, fuzziness=fz,
                                          max_terms=10_000)
            assert sorted(got_s) == want, (q, fz)
    # prefix_length pins the first chars exact (ES lever): every
    # expansion shares them, and nothing sharing them is missed
    q = probe[:-1] + "x"
    got_p, _ = expand_fuzzy(r, q, fuzziness=2, prefix_length=1,
                            max_terms=10_000)
    want_p = sorted(t for t in vocab
                    if t[:1] == q[:1] and _ref_lev(q, t) <= 2)
    assert sorted(got_p) == want_p
    with pytest.raises(ValueError):
        expand_fuzzy(r, probe, fuzziness=3)
    # scoring == disjunctive scorer over the expansion; local == dist
    terms, _ = expand_fuzzy(r, q, fuzziness=2, max_terms=10_000)
    if terms:
        want_rank = topk_local_terms(r, terms, k=10, mode="acc")
        got_l = fuzzy_topk_local(r, q, k=10, fuzziness=2, max_terms=10_000)
        got_d = fuzzy_topk(r, q, k=10, fuzziness=2, max_terms=10_000)
        for got in (got_l, got_d):
            assert [d for d, _ in got] == [d for d, _ in want_rank]
            assert [s for _, s in got] == pytest.approx(
                [s for _, s in want_rank])


def test_percentile_approx_bounded_vs_exact(spark):
    """The 100 TB path for the percentiles agg swaps exact
    ``percentile`` for the ``percentile_approx`` sketch (same one
    partial+final agg plan). Bound the sketch's rank error against the
    exact R-7 result on a skewed fixture."""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.pow(F.xxhash64("id") % 1000 / 1000 + 1.0, 8)).alias("v"),
    )
    rows = (
        df.groupBy("g").agg(
            F.expr("percentile(v, array(0.5D, 0.95D, 0.99D))").alias("ex"),
            F.expr("percentile_approx(v, array(0.5D, 0.95D, 0.99D), 10000)")
            .alias("ap"),
            F.expr("approx_count_distinct(v)").alias("acd"),
            F.countDistinct("v").alias("cd"),
        )
    ).collect()
    assert len(rows) == 5
    for row in rows:
        for e, a in zip(row.ex, row.ap):
            assert abs(a - e) <= 0.05 * max(abs(e), 1e-9), (row.g, e, a)
        # cardinality agg analog: HLL++ within its documented rsd
        assert abs(row.acd - row.cd) <= 0.1 * row.cd


def test_search_after_pages_reconstruct_full_ranking(spark, built6):
    """Page-by-page search_after (k=7) over BOTH paths reconstructs the
    one-shot top-N exactly — no skips, no repeats, cursor strictly
    monotone; also exercises cursor interplay with tombstones."""
    from logsentinelai_spark.index.query import topk_local, topk_terms

    r = IndexReader(spark, built6["idx"])
    full = topk_local(r, Q, k=10_000, mode="acc")
    assert len(full) > 20
    pages, cursor = [], None
    while True:
        page = topk_local(r, Q, k=7, search_after=cursor)
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert [d for d, _ in pages] == [d for d, _ in full]
    assert [s for _, s in pages] == pytest.approx([s for _, s in full])
    # distributed path: one page mid-stream equals the local slice
    c = (full[6][1], full[6][0])
    dist = topk_terms(r, sorted(set(Q.split())), k=7, search_after=c)
    assert [d for d, _ in dist] == [d for d, _ in full[7:14]]
    assert [s for _, s in dist] == pytest.approx([s for _, s in full[7:14]])


def test_search_after_respects_deletes(spark, built6, tmp_path):
    from logsentinelai_spark.index.query import topk_local

    idx = _fresh_copy(built6, tmp_path, "db_sa_del")
    r0 = IndexReader(spark, idx)
    full = topk_local(r0, Q, k=30, mode="acc")
    victim = full[12][0]  # lives on page 2
    delete_docs(idx, [victim])
    r1 = IndexReader(spark, idx)
    page1 = topk_local(r1, Q, k=10)
    page2 = topk_local(r1, Q, k=10,
                       search_after=(page1[-1][1], page1[-1][0]))
    got = [d for d, _ in page1 + page2]
    want = [d for d, _ in full if d != victim][:20]
    assert got == want and victim not in got


def test_more_like_this_selection_and_twin_identity(spark, built6):
    from logsentinelai_spark.index.query import (
        mlt_select_terms, mlt_topk, mlt_topk_local, topk_local_terms,
    )

    r = IndexReader(spark, built6["idx"])
    seed_doc = 3
    seed_text = " ".join(built6["doc_tokens"][seed_doc])
    # selection: tf*idf-ranked within the seed, capped, deterministic
    full = mlt_select_terms(r, seed_text, max_query_terms=10_000)
    assert set(full) == set(built6["doc_tokens"][seed_doc])
    capped = mlt_select_terms(r, seed_text, max_query_terms=5)
    assert capped == full[:5] and len(capped) == 5
    # scoring == disjunctive scorer over the selection; seed excluded;
    # local == distributed
    want = [p for p in topk_local_terms(r, capped, k=11, mode="acc")
            if p[0] != seed_doc][:10]
    got_l = mlt_topk_local(r, seed_text, exclude_doc=seed_doc, k=10,
                           max_query_terms=5)
    got_d = mlt_topk(r, seed_text, exclude_doc=seed_doc, k=10,
                     max_query_terms=5)
    for got in (got_l, got_d):
        assert [d for d, _ in got] == [d for d, _ in want]
        assert [s for _, s in got] == pytest.approx([s for _, s in want])
    assert seed_doc not in {d for d, _ in got_l}
    # without exclusion the seed itself tops the page (self-similarity)
    assert mlt_topk_local(r, seed_text, k=3)[0][0] == seed_doc


def test_suggest_terms_ranking_and_missing_mode(spark, built6):
    from logsentinelai_spark.index.termdict import suggest_terms

    r = IndexReader(spark, built6["idx"])
    ensure_term_dict(spark, r)
    vocab = {t for toks in built6["doc_tokens"].values() for t in toks}
    dfs = {}
    for toks in built6["doc_tokens"].values():
        for t in set(toks):
            dfs[t] = dfs.get(t, 0) + 1
    probe = sorted(vocab, key=len)[-1]  # a long word, typo it
    typo = probe[:-1] + ("x" if probe[-1] != "x" else "y")
    out = suggest_terms(r, f"{probe} {typo}", fuzziness=2,
                        prefix_length=1, size=5)
    # existing token -> no suggestions (suggest_mode: missing)
    assert out[0]["token"] == probe and out[0]["suggestions"] == []
    sugg = out[1]["suggestions"]
    assert sugg and sugg[0]["term"] == probe  # distance-1 wins
    # ES ranking: distance asc, then df desc, then term asc
    want = []
    for t in vocab:
        for d in (0, 1, 2):
            if _ref_lev(typo, t) <= d:
                want.append((d, -dfs[t], t))
                break
    want = [w for w in sorted(want) if w[2][:1] == typo[:1]][:5]
    assert [(s["distance"], -s["df"], s["term"]) for s in sugg] == want


def test_explain_score_matches_served_scores_and_stats(spark, built6, tmp_path):
    from logsentinelai_spark.index.query import explain_score, topk_local

    r = IndexReader(spark, built6["idx"])
    top = topk_local(r, Q, k=5, mode="acc")
    for doc, score in top:
        ex = explain_score(r, Q, doc)
        assert ex["matched"] and ex["total"] == pytest.approx(score, abs=0, rel=1e-12)
        # contributions sum to the total and carry real tf/df
        assert sum(t["contribution"] for t in ex["terms"].values()) == ex["total"]
        for t, d in ex["terms"].items():
            assert d["tf"] >= 1 and d["df"] >= 1 and t in Q.split()
    # non-matching doc
    absent = max(built6["doc_tokens"]) + 100
    assert explain_score(r, Q, absent)["matched"] is False
    # stats: manifest-derived, tombstone-aware
    s = r.stats()
    vocab = {t for toks in built6["doc_tokens"].values() for t in toks}
    assert s["docs"] == N_DOCS and s["deleted_docs"] == 0
    assert s["segments_files"] > 0 and s["segments_bytes"] > 0
    ensure_term_dict(spark, r)
    s2 = IndexReader(spark, built6["idx"]).stats()
    assert s2["terms"] == len(vocab)
    # deleted doc: explain reports, stats counts
    idx = _fresh_copy(built6, tmp_path, "db_explain")
    delete_docs(idx, [top[0][0]])
    r2 = IndexReader(spark, idx)
    assert r2.stats()["deleted_docs"] == 1
    assert explain_score(r2, Q, top[0][0]).get("deleted") is True


def test_rescore_semantics(spark, built6):
    from logsentinelai_spark.index.bm25 import B, K1, idf as idf_fn
    from logsentinelai_spark.index.query import (
        phrase_match_local, rescore_topk_local, topk_local,
    )

    r = IndexReader(spark, built6["idx"])
    phrase = _derived_phrase(built6["doc_tokens"])
    base = topk_local(r, Q, k=30, mode="acc")
    # rw=0 == the base page exactly
    got0 = rescore_topk_local(r, Q, phrase, k=10, window=30,
                              rescore_weight=0.0)
    assert got0 == [(d, pytest.approx(s)) for d, s in base[:10]] or \
        [d for d, _ in got0] == [d for d, _ in base[:10]]
    # python oracle for the combined ranking
    matches = phrase_match_local(r, [phrase])[0]
    N, avgdl = r.global_stats()
    w = idf_fn(N, len(matches)) if matches else 0.0
    ph = {d: w * c / (c + K1 * (1 - B + B * l / avgdl))
          for d, c, l in matches}
    want = sorted(((d, 1.0 * s + 2.0 * ph.get(d, 0.0)) for d, s in base),
                  key=lambda p: (-p[1], p[0]))[:10]
    got = rescore_topk_local(r, Q, phrase, k=10, window=30,
                             rescore_weight=2.0)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want])
    # window semantics: a phrase-matching doc OUTSIDE the base window
    # must not appear, however strong its phrase score
    window_docs = {d for d, _ in base}
    assert all(d in window_docs for d, _ in got)


def test_function_score_semantics(spark, built6):
    import math

    from logsentinelai_spark.index.query import (
        function_score_topk_local, topk_local,
    )

    r = IndexReader(spark, built6["idx"])
    factor = 0.05
    # python oracle: every candidate's BM25 sum times ln(1+factor*dl),
    # dl taken from the fixture's own token lists (not the index)
    base = topk_local(r, Q, k=N_DOCS, mode="acc")
    want = sorted(
        ((d, s * math.log1p(factor * len(built6["doc_tokens"][d])))
         for d, s in base),
        key=lambda p: (-p[1], p[0]))[:10]
    got = function_score_topk_local(r, Q, k=10, factor=factor)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want])
    # the factor genuinely reorders: a doc-field boost is NOT a
    # monotone transform of the base ranking on this fixture
    assert [d for d, _ in got] != [d for d, _ in base[:10]]
    # tombstones mask before selection, same as every other path
    victim = got[0][0]
    from logsentinelai_spark.index.deletes import delete_docs
    import shutil as _sh
    idx2 = built6["idx"] + "_fs_del"
    _sh.rmtree(idx2, ignore_errors=True)
    _sh.copytree(built6["idx"], idx2)
    delete_docs(idx2, [victim])
    got2 = function_score_topk_local(IndexReader(spark, idx2), Q,
                                     k=10, factor=factor)
    assert victim not in [d for d, _ in got2]
    _sh.rmtree(idx2, ignore_errors=True)


def test_composite_agg_pages_chain_and_plan_bounded(spark):
    """ES composite-agg semantics: chaining pages via each page's last
    key reconstructs the full bucket list exactly, pages are disjoint,
    and the physical plan per page is TakeOrderedAndProject (bounded
    top-size), never a global Sort."""
    from pyspark.sql import functions as F

    from logsentinelai_spark.operators.analytics import composite_agg

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    keys = ["event_type", "user_id"]
    aggs = lambda: [F.count(F.lit(1)).alias("doc_count"),
                    F.round(F.sum("value"), 6).alias("sum_value")]
    full = sorted(
        tuple(r) for r in
        ev.groupBy(*keys).agg(*aggs()).collect()
    )
    pages, after = [], None
    for _ in range(1000):
        rows = composite_agg(ev, keys, aggs(), size=7, after=after).collect()
        if not rows:
            break
        pages.append([tuple(r) for r in rows])
        after = tuple(rows[-1][k] for k in keys)
    else:
        pytest.fail("composite paging did not terminate")
    flat = [r for p in pages for r in p]
    assert flat == full                       # exact, ordered, disjoint
    assert all(len(p) == 7 for p in pages[:-1]) and len(pages[-1]) <= 7
    # cursor arity guard
    with pytest.raises(ValueError):
        composite_agg(ev, keys, aggs(), size=7, after=("x",))
    # plan: bounded top-k page, no global Sort node
    plan = composite_agg(ev, keys, aggs(), size=7,
                         after=("error", 75))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_stratified_sample_deterministic_and_on_rate(spark):
    from logsentinelai_spark.operators.textstats import (
        SAMPLE_RATES, stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang")
    pick = lambda df: sorted(
        (r.doc_id, r.lang) for r in
        stratified_sample(df, "lang", SAMPLE_RATES).collect())
    a = pick(docs)
    # determinism: same set on a re-run AND at different parallelism
    assert a == pick(docs.repartition(17))
    # python replay of the portable hash — membership is data-only
    rows = [(r.doc_id, r.lang) for r in docs.collect()]
    want = sorted(
        (d, l) for d, l in rows
        if ((d % 100003) * 2654435761) % 4294967296 / 4294967296.0
        < SAMPLE_RATES.get(l, 0.0))
    assert a == want
    # per-stratum rates are honored within binomial noise
    from collections import Counter
    tot, got = Counter(l for _, l in rows), Counter(l for _, l in a)
    for s, r in SAMPLE_RATES.items():
        if tot[s] >= 30:
            assert abs(got[s] / tot[s] - r) < 4 * (r * (1 - r) / tot[s]) ** 0.5 + 0.02


def test_perplexity_matches_python_replay(spark):
    import math
    from collections import Counter

    from logsentinelai_spark.operators.textstats import PPL_ADD_K, q_perplexity
    from logsentinelai_spark.functions.tokenizer import tokens

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: (r.n_bigrams, r.perplexity)
           for r in q_perplexity(spark, sf).collect()}
    docs = {r.doc_id: tokens(r.text.lower()) for r in
            spark.read.parquet(f"{sf}/documents.parquet").collect()}
    bigs = {d: list(zip(t, t[1:])) for d, t in docs.items()}
    c2 = Counter(b for bs in bigs.values() for b in bs)
    c1 = Counter(b[0] for bs in bigs.values() for b in bs)
    v = len(c1)
    for d, bs in bigs.items():
        if not bs:
            assert d not in got
            continue
        lp = [math.log((c2[b] + PPL_ADD_K) / (c1[b[0]] + PPL_ADD_K * v))
              for b in bs]
        want = math.exp(-sum(lp) / len(lp))
        n, p = got[d]
        assert n == len(bs)
        assert p == pytest.approx(round(want, 6), abs=2e-6)


def test_events_pipeline_semantics(spark):
    """ES pipeline aggs: derivative = bucket-over-bucket delta (null
    for the first bucket, as ES omits it), cumulative_sum ends at the
    global total, moving_fn window-3 average replays exactly."""
    from logsentinelai_spark.entry_queries import q_events_pipeline

    rows = sorted(q_events_pipeline(spark, "/root/testdata/sf0.001").collect(),
                  key=lambda r: r.day)
    assert rows[0].deriv is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.deriv == pytest.approx(
            round(cur.sum_value - prev.sum_value, 6), abs=2e-6)
    run = 0.0
    for i, r in enumerate(rows):
        run += r.sum_value
        assert r.cum_sum == pytest.approx(round(run, 6), abs=2e-6)
        win = [x.n for x in rows[max(0, i - 2):i + 1]]
        assert r.moving_avg_n == pytest.approx(
            round(sum(win) / len(win), 6), abs=2e-6)


def test_function_score_decay_semantics(spark):
    """Gauss decay: inside the offset the multiplier is exactly 1 (the
    score equals the raw value); beyond it the multiplier replays the
    ES formula exp(ln(decay) * (d/scale)^2) and decreases with
    distance from the origin."""
    import datetime as dt
    import math

    from pyspark.sql import functions as F

    from logsentinelai_spark.entry_queries import (
        DECAY_LN, DECAY_OFFSET_S, DECAY_ORIGIN, DECAY_SCALE_S,
        q_function_score_decay,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.event_id: r.score
           for r in q_function_score_decay(spark, sf).collect()}
    assert len(got) == 20
    ev = {r.event_id: (r.ts, r.value) for r in
          spark.read.parquet(f"{sf}/events.parquet")
          .select("event_id", "ts", "value").collect()}
    origin = dt.datetime.fromisoformat(DECAY_ORIGIN)
    scores = {}
    for eid, (ts, value) in ev.items():
        d = max(0.0, abs((ts - origin).total_seconds()) - DECAY_OFFSET_S)
        scores[eid] = round(value * math.exp(DECAY_LN * (d / DECAY_SCALE_S) ** 2), 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == dict(want)
    # inside the offset the decay multiplier is exactly 1
    inside = [eid for eid, (ts, v) in ev.items()
              if abs((ts - origin).total_seconds()) <= DECAY_OFFSET_S]
    for eid in inside:
        assert scores[eid] == round(ev[eid][1], 6)


def test_quality_classify_is_calibrated_soft_scorer(spark):
    """The distilled LR: p_keep in (0,1), keep == (p_keep >= 0.5), and
    the classifier agrees with the rule-based corpus_filter keep label
    on >= 65 % of non-injected docs (it cannot see lang/domain/dup
    rules, so perfect agreement would be a bug — it would mean the
    features leak the label)."""
    from logsentinelai_spark.operators.textstats import (
        q_corpus_filter, q_quality_classify,
    )

    sf = "/root/testdata/sf0.001"
    cls = {r.doc_id: (r.p_keep, r.keep)
           for r in q_quality_classify(spark, sf).collect()}
    assert cls, "classifier returned no rows"
    for p, keep in cls.values():
        assert 0.0 < p < 1.0
        assert keep == int(p >= 0.5)
    rules = {r.doc_id: r.keep for r in q_corpus_filter(spark, sf).collect()
             if r.doc_id < 200000}
    agree = sum(int(bool(cls[d][1]) == rules[d]) for d in rules) / len(rules)
    assert 0.65 <= agree < 1.0


def test_url_dedup_canonicalization_semantics(spark):
    """Canonicalization invariants, replayed in Python: scheme/www/
    fragment/trailing-slash stripped, utm_* params dropped, surviving
    params SORTED (so '?ref=home&utm_campaign=x&id=2' and
    '?id=2&ref=home' collapse), min doc_id keeps."""
    from logsentinelai_spark.operators.textstats import q_url_dedup

    # sf0.01: canonical groups span 140 doc_ids, so the smaller fixture
    # has no multi-member groups at all
    rows = q_url_dedup(spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_canon = {}
    for r in rows:
        # no junk survives canonicalization
        assert "://" not in r.canon_url and not r.canon_url.startswith("www.")
        assert "#" not in r.canon_url and "utm_" not in r.canon_url
        assert not r.canon_url.split("?")[0].endswith("/")
        if "?" in r.canon_url:
            ps = r.canon_url.split("?", 1)[1].split("&")
            assert ps == sorted(ps)
        by_canon.setdefault(r.canon_url, []).append((r.doc_id, r.keep))
    # min doc_id wins in every group, exactly one keeper
    for members in by_canon.values():
        keepers = [d for d, k in members if k]
        assert keepers == [min(d for d, _ in members)]
    # the param-ORDER merge really fires: some group must contain both
    # a %9==1 doc (utm_campaign variant) and a %9==2 doc (reordered)
    assert any(
        {d % 9 for d, _ in members} >= {1, 2}
        for members in by_canon.values()
    ), "param-sort merge never exercised"
    assert any(len(m) > 1 for m in by_canon.values())


def test_geo_bounds_replays_enrichment(spark):
    """geo_bounds == min/max/avg replay over the enriched events."""
    from collections import defaultdict

    from logsentinelai_spark.operators.geo import enriched_events, q_geo_bounds

    sf = "/root/testdata/sf0.001"
    got = {r.country_code: r for r in q_geo_bounds(spark, sf).collect()}
    pts = defaultdict(list)
    for r in enriched_events(spark, sf).select(
            "country_code", "lat", "lon").collect():
        pts[r.country_code].append((r.lat, r.lon))
    assert set(got) == set(pts)
    for cc, ps in pts.items():
        g = got[cc]
        lats, lons = [p[0] for p in ps], [p[1] for p in ps]
        assert g.n_events == len(ps)
        assert g.lat_min == round(min(lats), 6)
        assert g.lat_max == round(max(lats), 6)
        assert g.centroid_lat == pytest.approx(
            round(sum(lats) / len(lats), 6), abs=2e-6)
        assert g.centroid_lon == pytest.approx(
            round(sum(lons) / len(lons), 6), abs=2e-6)


def test_rare_terms_and_date_range_semantics(spark):
    """rare_terms = exact long-tail complement of the terms agg (every
    bucket <= ceiling, every excluded bucket > ceiling); date_range
    buckets are half-open [from, to) with open ends, partitioning all
    events (boundary event goes to the LATER bucket)."""
    from collections import Counter

    from logsentinelai_spark.entry_queries import (
        DATE_RANGES, RARE_MAX_DOC_COUNT, q_events_date_range,
        q_events_rare_terms,
    )

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").collect()
    counts = Counter(r.user_id for r in ev)
    got = {r.user_id: r.doc_count
           for r in q_events_rare_terms(spark, sf).collect()}
    want = {u: c for u, c in counts.items() if c <= RARE_MAX_DOC_COUNT}
    assert got == want
    assert all(c > RARE_MAX_DOC_COUNT
               for u, c in counts.items() if u not in got)

    import datetime as dt
    ranges = [(n,
               dt.datetime.fromisoformat(lo) if lo else dt.datetime.min,
               dt.datetime.fromisoformat(hi) if hi else dt.datetime.max)
              for n, lo, hi in DATE_RANGES]
    lab = Counter()
    sums = Counter()
    for r in ev:
        for n, lo, hi in ranges:
            if lo <= r.ts < hi:
                lab[n] += 1
                sums[n] += r.value
                break
    rows = {r.range_label: (r.doc_count, r.sum_value)
            for r in q_events_date_range(spark, sf).collect()}
    assert {n for n, *_ in ranges if lab[n]} == set(rows)
    for n in rows:
        assert rows[n][0] == lab[n]
        assert rows[n][1] == pytest.approx(round(sums[n], 6), abs=2e-6)
    assert sum(lab.values()) == len(ev)  # ranges partition the fixture


def test_pack_sequences_prefix_sum_and_binning(spark):
    """The distributed prefix sum must equal the serial replay at any
    parallelism, starts are contiguous (each doc starts where the
    previous ended), and bin spans replay floor arithmetic."""
    from logsentinelai_spark.operators.textstats import (
        PACK_SEQ_LEN, q_pack_sequences,
    )
    from logsentinelai_spark.functions.tokenizer import tokens

    sf = "/root/testdata/sf0.001"
    rows = sorted(q_pack_sequences(spark, sf).collect(),
                  key=lambda r: r.doc_id)
    docs = {r.doc_id: len(tokens(r.text.lower())) for r in
            spark.read.parquet(f"{sf}/documents.parquet").collect()}
    run = 0
    for r in rows:
        assert r.n_tokens == docs[r.doc_id]
        assert r.start_tok == run                 # contiguity == replay
        run += r.n_tokens
        assert r.bin_first == r.start_tok // PACK_SEQ_LEN
        last = r.start_tok + max(r.n_tokens, 1) - 1
        assert r.bin_last == last // PACK_SEQ_LEN
    # parallelism invariance of the distributed prefix sum: the gate
    # result is a pure function of the data, and re-running on the
    # same session must reproduce it exactly
    again = sorted(q_pack_sequences(spark, sf).collect(),
                   key=lambda r: r.doc_id)
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_split_assign_is_domain_atomic(spark):
    """Every document of a domain lands in ONE split (the leakage
    guarantee), thresholds replay, and at least two splits exist."""
    from logsentinelai_spark.operators.textstats import (
        SPLIT_TRAIN_LT, SPLIT_VAL_LT, q_split_assign,
    )

    rows = q_split_assign(spark, "/root/testdata/sf0.01").collect()
    assert rows
    per_domain = {}
    for r in rows:
        per_domain.setdefault(r.domain, set()).add((r.bucket, r.split))
        want = ("train" if r.bucket < SPLIT_TRAIN_LT
                else "validation" if r.bucket < SPLIT_VAL_LT else "test")
        assert r.split == want
    assert all(len(v) == 1 for v in per_domain.values())
    assert len({s for v in per_domain.values() for _, s in v}) >= 2
