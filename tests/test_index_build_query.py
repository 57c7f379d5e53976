"""Physical index build + query tests: rank-identity of both scorers
vs the numpy oracle, salted-merge correctness under forced skew,
resume-from-manifest, posting-count lineage consistency, and waves
with no postings."""

from __future__ import annotations

import numpy as np
import pytest

from logsentinelai_spark.corpus import gen_pages_df, gen_queries
from logsentinelai_spark.functions.tokenizer import tokens
from logsentinelai_spark.index.bm25 import bm25_oracle_topk
from logsentinelai_spark.index.build import IndexConfig, build_index
from logsentinelai_spark.index.query import topk, topk_local
from logsentinelai_spark.index.reader import IndexReader

N_DOCS = 1200
CFG = IndexConfig(
    shard_size=256,
    wave_shards=2,   # 512 docs/wave -> 3 waves
    n_buckets=4,
    block_size=32,   # force multi-block postings (exercises skipping)
)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("index") / "db")
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    summary = build_index(spark, pages, idx, CFG)
    # local oracle corpus with url-rank doc ids
    rows = pages.select("url", "text").collect()
    by_url = sorted((r.url, r.text) for r in rows)
    doc_tokens = {i: tokens(t) for i, (_, t) in enumerate(by_url)}
    urls = {i: u for i, (u, _) in enumerate(by_url)}
    return dict(idx=idx, summary=summary, doc_tokens=doc_tokens, urls=urls)


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A non-compacted 2-wave index (3 shards) with tombstones on top
    hits in shards 0 and 2 — the second input of the rank-identity
    tests. Stats keep counting deleted docs until compaction, so its
    oracle is the full-corpus ranking without the deleted ids."""
    from logsentinelai_spark.index.deletes import delete_docs

    idx = str(tmp_path_factory.mktemp("tombstoned") / "db")
    pages = gen_pages_df(spark, 700, partitions=4)
    build_index(spark, pages, idx, CFG)
    by_url = sorted((r.url, r.text) for r in pages.select("url", "text").collect())
    hits = [d for d, _ in topk_local(IndexReader(spark, idx), "of the and data", k=300)]
    deleted = [d for s in (0, 2) for d in [h for h in hits if h // CFG.shard_size == s][:3]]
    delete_docs(idx, deleted)
    r = IndexReader(spark, idx)
    assert len(r.waves) == 2 and set(r.deletes().tolist()) == set(deleted)
    return dict(idx=idx, doc_tokens={i: tokens(t) for i, (_, t) in enumerate(by_url)},
                deleted=set(deleted))


def _oracle(inp, text, k):
    """bm25_oracle_topk over the whole corpus, tombstoned ids dropped."""
    gone = inp.get("deleted", set())
    want = bm25_oracle_topk(inp["doc_tokens"], tokens(text), k=k + len(gone))
    return [p for p in want if p[0] not in gone][:k]


def test_build_summary_and_manifests(spark, built):
    r = IndexReader(spark, built["idx"])
    assert built["summary"]["n_docs"] == N_DOCS
    assert sorted(r.waves) == [0, 1, 2]
    N, avgdl = r.global_stats()
    assert N == N_DOCS
    want_avg = np.mean([len(t) for t in built["doc_tokens"].values()])
    assert abs(avgdl - want_avg) < 1e-9
    # lineage: total postings across partitions == distinct (doc,term) pairs
    total = sum(p["postings"] for p in r.partition_metrics())
    want = sum(len(set(t)) for t in built["doc_tokens"].values())
    assert total == want
    # per-partition elapsed is recorded (north_rule lineage fields)
    assert all(p["elapsed_ms"] >= 0 for p in r.partition_metrics())
    for m in r.waves.values():
        assert set(m["stage_elapsed_sec"]) >= {"stage2_salted_merge", "commit_metrics"}


@pytest.mark.parametrize("mode", ["acc", "wand"])
def test_topk_rank_identical_to_oracle(spark, built, mode):
    r = IndexReader(spark, built["idx"])
    queries = gen_queries()
    sel = list(queries.head(8).itertuples()) + list(queries.iloc[20:26].itertuples()) + list(queries.iloc[40:46].itertuples())
    for q in sel:
        want = bm25_oracle_topk(built["doc_tokens"], tokens(q.query_text), k=q.k)
        got = topk(r, q.query_text, k=q.k, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want], f"{mode} q{q.query_id}: {q.query_text}"
        for (wd, ws), (gd, gs) in zip(want, got):
            assert abs(ws - gs) <= 1e-6


def test_topk_with_urls(spark, built):
    r = IndexReader(spark, built["idx"])
    got = topk(r, "the data index", k=5, with_urls=True)
    assert len(got) == 5
    for d, s, u in got:
        assert u == built["urls"][d]


@pytest.mark.parametrize("mode", ["acc", "wand"])
def test_topk_local_rank_identical_to_oracle(spark, built, tombstoned, mode):
    """Driver-local (pyarrow, no Spark job) serving path: same pruning,
    same scorers, rank-identical to the oracle and the Spark path — on
    the 3-wave index and on the tombstoned 2-wave one."""
    queries = gen_queries()
    sel = list(queries.head(8).itertuples()) + list(queries.iloc[20:26].itertuples())
    for name, inp in (("built", built), ("tombstoned", tombstoned)):
        r = IndexReader(spark, inp["idx"])
        for q in sel:
            want = _oracle(inp, q.query_text, q.k)
            got = topk_local(r, q.query_text, k=q.k, mode=mode)
            assert [d for d, _ in got] == [d for d, _ in want], f"{name}/{mode} q{q.query_id}"
            for (wd, ws), (gd, gs) in zip(want, got):
                assert abs(ws - gs) <= 1e-6


def test_topk_local_with_urls(spark, built):
    r = IndexReader(spark, built["idx"])
    got = topk_local(r, "the data index", k=5, with_urls=True)
    assert len(got) == 5
    for d, s, u in got:
        assert u == built["urls"][d]


def test_topk_many_rank_identical_to_per_query(spark, built, tombstoned):
    """Batched serving (one pruned scan for N queries) must be
    rank-identical to the per-query path on BOTH the Spark and the
    driver-local route — on the 3-wave index and on the tombstoned
    2-wave one."""
    from logsentinelai_spark.index.query import topk_many, topk_many_local

    queries = gen_queries()
    sel = list(queries.head(6).itertuples()) + list(queries.iloc[20:24].itertuples())
    texts = [q.query_text for q in sel]
    for name, inp in (("built", built), ("tombstoned", tombstoned)):
        r = IndexReader(spark, inp["idx"])
        many = topk_many(r, texts, k=10)
        many_local = topk_many_local(r, texts, k=10)
        assert len(many) == len(texts) == len(many_local)
        for i, q in enumerate(sel):
            single = topk(r, q.query_text, k=10, mode="acc")
            assert many[i] == single, f"{name} spark-batched q{q.query_id}"
            assert many_local[i] == single, f"{name} local-batched q{q.query_id}"
            assert not inp.get("deleted", set()) & {d for d, _ in single}
        # url attachment matches the per-query path
        with_urls = topk_many(r, texts[:2], k=3, with_urls=True)
        for i in range(2):
            assert with_urls[i] == topk(r, texts[i], k=3, mode="acc", with_urls=True)


def test_extend_index_new_snapshot(spark, built, tmp_path):
    """Incremental epoch: build on the first 800 docs, extend with the
    full 1200-doc snapshot; results must be rank-identical to the
    oracle over the UNION corpus (with the extended id mapping —
    epoch-2 ids start at the next shard boundary)."""
    from logsentinelai_spark.index.build import extend_index

    idx = str(tmp_path / "db_inc")
    pages_all = gen_pages_df(spark, N_DOCS, partitions=8)
    # first snapshot = 800 docs (deterministic subset by url rank)
    urls_sorted = sorted(r.url for r in pages_all.select("url").collect())
    first = set(urls_sorted[:800])
    pages_v1 = pages_all.filter(pages_all.url.isin(list(first)))
    build_index(spark, pages_v1, idx, CFG)
    s = extend_index(spark, pages_all, idx)
    assert s["new_docs"] == N_DOCS - 800

    r = IndexReader(spark, idx)
    N, _ = r.global_stats()
    assert N == N_DOCS
    # oracle with the extended id mapping (ids read back from doc_stats)
    text_by_url = {u: t for u, t in ((row.url, row.text) for row in pages_all.select("url", "text").collect())}
    id_url = {row.doc_id: row.url for row in r.doc_stats_df().select("doc_id", "url").collect()}
    assert len(id_url) == N_DOCS
    doc_tokens = {d: tokens(text_by_url[u]) for d, u in id_url.items()}
    queries = gen_queries()
    for q in list(queries.head(6).itertuples()):
        want = bm25_oracle_topk(doc_tokens, tokens(q.query_text), k=q.k)
        got = topk_local(r, q.query_text, k=q.k, mode="acc")
        assert [d for d, _ in got] == [d for d, _ in want], f"inc q{q.query_id}"
        for (wd, ws), (gd, gs) in zip(want, got):
            assert abs(ws - gs) <= 1e-6


def test_resume_identical_to_uninterrupted(spark, built, tmp_path):
    idx2 = str(tmp_path / "db2")
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, idx2, CFG, fail_after_wave=0)
    # resume: wave 0 must be skipped, waves 1-2 built
    summary = build_index(spark, pages, idx2, CFG)
    assert summary["skipped_waves"] == [0]
    assert summary["built_waves"] == [1, 2]
    r2 = IndexReader(spark, idx2)
    queries = gen_queries()
    for q in list(queries.head(4).itertuples()):
        a = topk(IndexReader(spark, built["idx"]), q.query_text, k=q.k)
        b = topk(r2, q.query_text, k=q.k)
        assert a == b


def test_build_with_null_text_rows(spark, tmp_path):
    """use_text_col=True must tolerate null text (tokenized as an empty
    doc) — a null list from the tokenizer would NaN-poison the
    value_lengths -> np.repeat path in stage 1."""
    from pyspark.sql import functions as F

    from logsentinelai_spark.corpus import gen_pages_df

    pages = gen_pages_df(spark, 64, partitions=4).withColumn(
        "text", F.when(F.col("url").endswith("7"), F.lit(None)).otherwise(F.col("text"))
    )
    n_null = pages.filter(F.col("text").isNull()).count()
    assert n_null > 0
    idx = str(tmp_path / "nulltext_idx")
    cfg = IndexConfig(shard_size=32, wave_shards=2, n_buckets=2, block_size=16,
                      use_text_col=True)
    summary = build_index(spark, pages, idx, cfg)
    r = IndexReader(spark, idx)
    ds = r.doc_stats_df()
    assert ds.count() == 64
    assert ds.filter("dl = 0").count() >= n_null  # null docs indexed as empty


def test_transport_resolution(spark, tmp_path):
    """segment_transport resolution: 'auto' picks the direct POSIX fast
    path only where it is known-safe (local mode / attested shared fs)
    and the task-commit writer everywhere else; forcing 'direct' on an
    unshared cluster fails loudly."""
    from logsentinelai_spark.index.build import _resolve_transport

    class FakeSC:
        master = "spark://cluster:7077"

    class FakeSpark:
        sparkContext = FakeSC()

    assert _resolve_transport(spark, IndexConfig()) == "direct"  # local auto
    assert _resolve_transport(FakeSpark(), IndexConfig()) == "committed"
    assert _resolve_transport(
        FakeSpark(), IndexConfig(executor_shared_fs=True)) == "direct"
    assert _resolve_transport(
        FakeSpark(), IndexConfig(segment_transport="committed")) == "committed"
    with pytest.raises(RuntimeError, match="driver-shared POSIX"):
        _resolve_transport(FakeSpark(), IndexConfig(segment_transport="direct"))
    with pytest.raises(ValueError, match="unknown segment_transport"):
        _resolve_transport(spark, IndexConfig(segment_transport="nfs"))


CFG_COMMITTED = IndexConfig(
    shard_size=CFG.shard_size, wave_shards=CFG.wave_shards,
    n_buckets=CFG.n_buckets, block_size=CFG.block_size,
    segment_transport="committed",
)


def test_committed_transport_matches_direct(spark, built, tmp_path):
    """An index built with the task-commit writer (segments routed
    through Spark's partitioned write; id-map through committed
    parquet) must be indistinguishable from a direct-write build:
    same global stats, same lineage totals, rank-identical top-k on
    BOTH serving paths."""
    idxc = str(tmp_path / "db_committed")
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    build_index(spark, pages, idxc, CFG_COMMITTED)
    rc = IndexReader(spark, idxc)
    rd = IndexReader(spark, built["idx"])
    assert rc.global_stats() == rd.global_stats()
    for key in ("postings", "bytes", "n_terms", "n_blocks"):
        assert (sum(p[key] for p in rc.partition_metrics())
                == sum(p[key] for p in rd.partition_metrics())), key
    for q in list(gen_queries().head(5).itertuples()):
        assert topk(rc, q.query_text, k=q.k) == topk(rd, q.query_text, k=q.k)
        assert (topk_local(rc, q.query_text, k=q.k)
                == topk_local(rd, q.query_text, k=q.k))


def test_committed_transport_resume(spark, built, tmp_path):
    """Resume must work identically through the committed writer: kill
    after wave 0, resume, compare to the uninterrupted direct build."""
    idxc = str(tmp_path / "db_committed_resume")
    pages = gen_pages_df(spark, N_DOCS, partitions=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, idxc, CFG_COMMITTED, fail_after_wave=0)
    summary = build_index(spark, pages, idxc, CFG_COMMITTED)
    assert summary["skipped_waves"] == [0]
    assert summary["built_waves"] == [1, 2]
    rc = IndexReader(spark, idxc)
    for q in list(gen_queries().head(4).itertuples()):
        assert (topk(rc, q.query_text, k=q.k)
                == topk(IndexReader(spark, built["idx"]), q.query_text, k=q.k))


def test_extend_index_under_committed_transport(spark, built, tmp_path):
    """Incremental epochs must work through the task-commit writer too:
    extend_index reconstructs segment_transport from _meta.json, and the
    extended committed index stays rank-identical to the direct build
    over the full corpus."""
    from logsentinelai_spark.index.build import extend_index

    idx = str(tmp_path / "db_inc_committed")
    pages_all = gen_pages_df(spark, N_DOCS, partitions=8)
    urls_sorted = sorted(r.url for r in pages_all.select("url").collect())
    pages_v1 = pages_all.filter(pages_all.url.isin(list(urls_sorted[:800])))
    build_index(spark, pages_v1, idx, CFG_COMMITTED)
    s = extend_index(spark, pages_all, idx)
    assert s["new_docs"] == N_DOCS - 800
    rc = IndexReader(spark, idx)
    assert rc.global_stats()[0] == N_DOCS
    # epoch-2 ids differ from the one-shot build's, so compare by URL
    for q in list(gen_queries().head(4).itertuples()):
        a = topk(rc, q.query_text, k=q.k, with_urls=True)
        b = topk(IndexReader(spark, built["idx"]), q.query_text, k=q.k, with_urls=True)
        assert [(u, round(s_, 9)) for _, s_, u in a] == [
            (u, round(s_, 9)) for _, s_, u in b], f"q{q.query_id}"


def test_s2_snapshot_pinned_under_concurrent_append(spark, tmp_path):
    """S2 snapshot semantics of the parquet shim: a build pinned to a
    snapshot must index EXACTLY that snapshot even when new files are
    appended to the pages directory mid-build (between the crash and
    the resume), at BOTH layers:
      (a) read_snapshot pins the file list, so the resumed scan never
          sees appended files;
      (b) even a resume over the dirty directory stays exact, because
          the doc_map epoch + wave id-map drop urls that have no id in
          the pinned snapshot."""
    from pyspark.sql import functions as F

    from logsentinelai_spark.sources.io import read_snapshot

    pages_dir = str(tmp_path / "pages")
    gen_pages_df(spark, 600, partitions=4).write.parquet(pages_dir)
    snap_df, snap_files = read_snapshot(spark, pages_dir)
    snapshot_urls = sorted(r.url for r in snap_df.select("url").collect())
    cfg = IndexConfig(shard_size=128, wave_shards=2, n_buckets=4, block_size=32)

    idx = str(tmp_path / "idx_pinned")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, snap_df, idx, cfg, fail_after_wave=0)
    # concurrent append: urls interleave INSIDE the snapshot's url range
    # (suffix sorts right after each existing url), so wave url-bound
    # pruning alone cannot exclude them
    (
        gen_pages_df(spark, 600, partitions=2)
        .withColumn("url", F.concat("url", F.lit("-late")))
        .write.mode("append").parquet(pages_dir)
    )
    snap_df2, _ = read_snapshot(spark, pages_dir, files=snap_files)
    build_index(spark, snap_df2, idx, cfg)
    r = IndexReader(spark, idx)
    assert r.global_stats()[0] == 600
    assert sorted(
        row.url for row in r.doc_stats_df().select("url").collect()
    ) == snapshot_urls

    # (b) dirty-directory resume: naive re-read sees 1200 rows, yet the
    # id-map gate keeps the index exactly the 600-doc snapshot
    idx2 = str(tmp_path / "idx_dirty")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, snap_df2, idx2, cfg, fail_after_wave=0)
    dirty = spark.read.parquet(pages_dir)
    assert dirty.count() == 1200
    build_index(spark, dirty, idx2, cfg)
    r2 = IndexReader(spark, idx2)
    assert r2.global_stats() == r.global_stats()
    assert sorted(
        row.url for row in r2.doc_stats_df().select("url").collect()
    ) == snapshot_urls


def test_idmap_h64_collision_resolves_exactly(tmp_path):
    """_resolve_doc_ids' rare path: two map urls sharing an xxhash64
    value must resolve via the url column (exact), and absent urls in a
    collision run must be dropped — forced by writing a synthetic idmap
    with duplicate h values."""
    import numpy as np
    import pyarrow as pa

    from logsentinelai_spark.index.build import _IDMAP_CACHE, _resolve_doc_ids

    idmap = tmp_path / "idmap"
    idmap.mkdir()
    tbl = pa.table({
        "h": pa.array([5, 5, 9], type=pa.int64()),
        "h2": pa.array([100, 100, 7], type=pa.int32()),
        "doc_id": pa.array([11, 22, 33], type=pa.int64()),
        "url": pa.array(["u-a", "u-b", "u-c"]),
    })
    with pa.OSFile(str(idmap / "part-0.arrow"), "wb") as f:
        with pa.ipc.new_file(f, tbl.schema) as w:
            w.write_table(tbl)
    _IDMAP_CACHE.clear()
    rb = pa.record_batch({
        "url_h": pa.array([5, 5, 9, 5, 6], type=pa.int64()),
        "url_h2": pa.array([100, 100, 7, 100, 1], type=pa.int32()),
        "url": pa.array(["u-b", "u-a", "u-c", "u-zz", "u-q"]),
    })
    ids, ok = _resolve_doc_ids(rb, str(idmap))
    assert ok.tolist() == [True, True, True, False, False]
    assert ids[ok].tolist() == [22, 11, 33]
    _IDMAP_CACHE.clear()


def test_load_idmap_raises_on_invisible_directory(tmp_path):
    """An executor that cannot see the wave id-map directory (unmounted
    path, URI storage) must fail LOUDLY: an empty map would silently
    drop every row of the batch and commit an incomplete index
    (round-3 ADVICE item)."""
    from logsentinelai_spark.index.build import _IDMAP_CACHE, _load_idmap

    _IDMAP_CACHE.clear()
    missing = str(tmp_path / "no_such_wave_idmap")
    with pytest.raises(RuntimeError, match="zero non-empty"):
        _load_idmap(missing)
    (tmp_path / "empty_idmap").mkdir()
    with pytest.raises(RuntimeError, match="POSIX-visible"):
        _load_idmap(str(tmp_path / "empty_idmap"))
    _IDMAP_CACHE.clear()


@pytest.mark.parametrize("transport", ["committed", "direct"])
def test_empty_text_waves_commit_without_partitions(spark, tmp_path, transport):
    """Pages whose text is empty give stage 1 no run rows, so every
    merge group is empty (the committed transport writes no part file
    at all). Each wave still commits, with no partitions and its docs
    counted, and a query finds nothing."""
    pages = spark.createDataFrame(
        [(f"https://empty.example/{i:04d}", "", "") for i in range(64)],
        "url string, html string, text string")
    idx = str(tmp_path / transport)
    build_index(spark, pages, idx, IndexConfig(
        shard_size=16, wave_shards=2, n_buckets=2, block_size=8, use_text_col=True,
        segment_transport=transport))
    r = IndexReader(spark, idx)
    assert sorted(r.waves) == [0, 1]
    assert all(m["partitions"] == [] for m in r.waves.values())
    assert sum(m["input_docs"] for m in r.waves.values()) == 64
    assert r.global_stats() == (64, 0.0)
    assert topk_local(r, "anything at all", k=5) == []
