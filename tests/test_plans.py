"""Physical-plan audits (plans/audit.py): the scale-critical plan
properties — pushdown, pruning, join-free wave id slice — pinned so they
cannot silently regress. explain() only; no jobs run beyond tiny setup."""

from __future__ import annotations

from pyspark.sql import functions as F

from logsentinelai_spark.corpus import gen_pages_df
from logsentinelai_spark.index.build import IndexConfig
from logsentinelai_spark.index.docids import doc_map_df, wave_url_bounds, write_doc_map
from logsentinelai_spark.plans import (
    assert_pushed_filter,
    assert_read_schema_only,
    explain_str,
)

CFG = IndexConfig(shard_size=256, wave_shards=2, n_buckets=4)


def test_wave_stage1_plan_shuffle_free_and_pruned(spark, tmp_path):
    """The stage-1 input plan must be a pure map over the pages scan:
    no join, no Exchange (the id-map resolves executor-side against the
    wave idmap artifact), with the wave's url-range predicate pushed to
    the scan and columns pruned to what stage 1 reads."""
    from logsentinelai_spark.index.build import stage1_partial_runs, write_wave_idmap
    from logsentinelai_spark.plans import assert_no_shuffle

    pages_dir = str(tmp_path / "pages")
    gen_pages_df(spark, 600, partitions=4).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    dm = str(tmp_path / "dm")
    meta = write_doc_map(pages, dm)
    dslice = doc_map_df(spark, dm, meta, 0, 512)
    idmap = str(tmp_path / "idmap")
    write_wave_idmap(dslice, idmap)
    lo, hi = wave_url_bounds(meta, 0, 512)
    wave_pages = pages.filter(F.col("url").between(lo, hi))
    s1 = stage1_partial_runs(wave_pages, CFG, idmap_dir=idmap)
    assert_no_shuffle(s1)
    assert "Join" not in explain_str(s1)
    # url-range predicate reaches the parquet scan
    assert_pushed_filter(s1, "url")
    # column pruning: the scan reads only what stage 1 needs
    assert_read_schema_only(s1, {"url", "html"})


def test_idmap_slice_plan_is_join_free(spark, tmp_path):
    """The wave idmap job's doc-map slice is a pure map over the doc-map
    scan: the pid offset is a literal map lookup, so the plan holds no
    join and no exchange of any kind (not even a broadcast)."""
    pages_dir = str(tmp_path / "pages")
    gen_pages_df(spark, 400, partitions=4).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    dm = str(tmp_path / "dm")
    meta = write_doc_map(pages, dm)
    dslice = doc_map_df(spark, dm, meta, 0, 256)
    plan = explain_str(dslice)
    for node in ("Join", "BroadcastExchange", "Exchange"):
        assert node not in plan, plan[:2000]


def test_pages_lang_filter_pushdown(spark, tmp_path):
    pages_dir = str(tmp_path / "p2")
    gen_pages_df(spark, 300, partitions=2).write.parquet(pages_dir)
    q = spark.read.parquet(pages_dir).filter(F.col("lang") == "en").select("url")
    assert_pushed_filter(q, "lang")
    assert_read_schema_only(q, {"url", "lang"})


def test_explain_str_smoke(spark):
    df = spark.range(10).filter("id > 5")
    s = explain_str(df)
    assert "Physical Plan" in s or "Range" in s


def test_postings_query_scan_pruned_and_pushed(spark, tmp_path):
    """The Spark serving stage reads only what IndexReader.shard_files
    lists: the files under the query terms' term_bucket partitions,
    across every committed wave — at web scale the difference between
    reading dozens of files and the whole index. Each shard task then
    pushes `term IN` into its own pyarrow read."""
    from pathlib import Path

    from logsentinelai_spark.corpus import gen_pages_df
    from logsentinelai_spark.index.build import build_index, term_bucket_py
    from logsentinelai_spark.index.reader import IndexReader

    idx = str(tmp_path / "idx")
    build_index(spark, gen_pages_df(spark, 1200, partitions=4), idx, CFG)
    r = IndexReader(spark, idx)
    assert len(r.waves) == 3
    terms = ["the", "server"]
    buckets = {term_bucket_py(t, CFG.n_buckets) for t in terms}
    files = r.shard_files(terms)
    listed = [p for paths in files.values() for p in paths]
    assert len(listed) == len(set(listed))
    for shard, paths in files.items():
        assert all(f"/shard={shard}/" in p for p in paths)
    every = [str(p) for p in Path(idx, "postings").rglob("*.parquet")]
    want = {p for p in every
            if int(p.split("term_bucket=")[1].split("/")[0]) in buckets}
    assert set(listed) == want and len(want) < len(every)
    assert {p.split("wave=")[1].split("/")[0] for p in listed} == {str(w) for w in r.waves}


def test_pq_scoring_plan_is_broadcast_no_smj(spark):
    """PQ-ADC: the 5-row query-LUT side must broadcast (never SMJ),
    and the embedding column must not survive past the encode
    projection into the ranking exchange (only codes + adc flow)."""
    from logsentinelai_spark.operators.similarity import q_ann_pq_adc

    df = q_ann_pq_adc(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the window exchange partitions (query_id, vec_id, adc) rows only
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1)


def test_ann_lsh_joins_are_hash_not_nested_loop(spark):
    """Every LSH probe must be a broadcast HASH equi-join; an
    OR-of-tables condition would fall back to BroadcastNestedLoopJoin
    (per-row predicate scan, anti-scales with the query set). The
    inline twin keeps one join per table; the materialized path's
    single (table, bucket) join is pinned in test_ann_index.py."""
    from logsentinelai_spark.operators.similarity import N_TABLES, q_ann_lsh_inline

    plan = q_ann_lsh_inline(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == N_TABLES
    assert "BroadcastNestedLoopJoin" not in plan
