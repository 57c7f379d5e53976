"""Serving seam and `_search` body guards: driver-local serving runs no
Spark job for any body shape, Spark serving runs one single-stage RDD
job and no SQL execution per query and equals driver-local serving
across waves and tombstones, a build and a compaction run only the
jobs that move data,
the in-band segment-metrics rows never reach a query reader, a warm
Python worker re-reads no unchanged zip directory per task and reads
its input over a Unix domain socket without a transport stall, and bodies
that would be answered wrongly (aggs without a query, leaf parameters
the compiler does not implement) are refused with a ValueError."""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time
import zipfile

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from logsentinelai_spark import entry_queries as eq
from logsentinelai_spark.corpus import gen_pages_df, gen_queries
from logsentinelai_spark.index.body import search_body
from logsentinelai_spark.index.build import IndexConfig, build_index
from logsentinelai_spark.index.compact import compact_index
from logsentinelai_spark.index.deletes import delete_docs
from logsentinelai_spark.index.query import (
    bool_match_ids, bool_topk, bool_topk_local, phrase_topk, phrase_topk_local,
    topk, topk_local, topk_many, topk_many_local,
)
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.termdict import ensure_term_dict


@pytest.fixture(scope="module")
def reader(spark, sf_dir):
    r = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    ensure_term_dict(spark, r)
    return r


def test_local_serving_runs_no_spark_job(spark, reader):
    """Every body shape with serving="local" (the default), and a
    topk_many_local batch, is answered without a single Spark job."""
    page1 = search_body(spark, reader, {"query": {"match": "data network"}})["hits"]
    assert page1
    bodies = [
        {"query": {"match": "data network"}, "size": 12},
        {"query": {"bool": {"must": "data", "should": "merge",
                            "must_not": "zebra"}}},
        {"query": {"match_phrase": "data query"}},
        {"query": {"match_phrase_prefix": {"text": {
            "query": "data que", "max_expansions": 20}}}},
        {"query": {"prefix": "dat"}},
        {"query": {"wildcard": {"text": {"value": "da?a*"}}}},
        {"query": {"fuzzy": {"text": {"value": "dsta", "fuzziness": 1,
                                      "prefix_length": 1}}}},
        {"query": {"match": "data network"},
         "search_after": [page1[-1][1], page1[-1][0]]},
        {"query": {"match": "data network"}, "from": 4, "size": 6},
        {"query": {"match": "data network"},
         "rescore": {"window_size": 20, "query": {
             "rescore_query": {"match_phrase": "data query"}}}},
    ]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for body in bodies:
        assert search_body(spark, reader, body)["hits"], body
    assert all(topk_many_local(reader, ["data network", "merge", "query"], k=5))
    assert set(tracker.getJobIdsForGroup(None)) == before
    # the same check does see Spark serving
    search_body(spark, reader, bodies[0], serving="spark")
    assert set(tracker.getJobIdsForGroup(None)) != before


def test_postings_blocks_local_never_returns_metrics_rows(spark, tmp_path):
    """A committed-transport build writes one in-band segment-metrics
    row per (shard, term_bucket) into the posting files (block_id = -1,
    NULL term). A term-pruned local read never returns them — the
    `term IN (...)` predicate drops them — so the scorers need no
    filter of their own, and local serving still equals Spark serving."""
    idx = str(tmp_path / "committed")
    build_index(spark, gen_pages_df(spark, 64, partitions=2), idx, IndexConfig(
        shard_size=16, wave_shards=2, n_buckets=2, block_size=8,
        positions=True, segment_transport="committed"))
    r = IndexReader(spark, idx)
    tbl = r._postings_dataset().to_table(columns=["term", "block_id"])
    assert pc.any(pc.less(tbl["block_id"], 0)).as_py()
    terms = sorted(set(tbl["term"].drop_null().to_pylist()))
    pdf = r.postings_blocks_local(terms, with_positions=True)
    assert len(pdf) == pc.sum(pc.greater_equal(tbl["block_id"], 0)).as_py()
    assert (pdf["block_id"] >= 0).all() and pdf["term"].notna().all()
    text = " ".join(terms[:3])
    assert topk_local(r, text, k=5) == topk(r, text, k=5) != []
    assert topk_many_local(r, [text, terms[-1]], k=5) == topk_many(r, [text, terms[-1]], k=5)


def test_search_body_aggs_without_query_refused(spark, reader):
    """aggs run over the query's match set: without a query there is
    none (match_all is not supported) — a clear ValueError, not a bare
    StopIteration. Query-less bodies with only hits or only a
    suggester keep their answer."""
    aggs = {"by_lang": {"terms": {"field": "lang"}}}
    corpus = spark.createDataFrame([("doc000000000001", "en")], "url string, lang string")
    for body in ({"aggs": aggs}, {"query": {}, "aggs": aggs, "size": 0}):
        with pytest.raises(ValueError, match="aggs needs a query"):
            search_body(spark, reader, body, corpus=corpus)
    assert search_body(spark, reader, {"size": 5})["hits"] == []
    out = search_body(spark, reader, {"suggest": {
        "fix": {"text": "dataq", "term": {"fuzziness": 1}}}})
    assert out["hits"] == [] and out["suggest"]["fix"]


@pytest.mark.parametrize("query", [
    {"match": {"text": {"query": "data network", "operator": "and"}}},
    {"match": {"text": {"query": "data network", "minimum_should_match": 2}}},
    {"match": {"text": {"query": "data", "boost": 2.0}}},
    {"match_phrase": {"text": {"query": "data query", "slop": 2}}},
    {"match_phrase_prefix": {"text": {"query": "data que", "slop": 1}}},
    {"prefix": {"text": {"value": "dat", "boost": 2.0}}},
    {"wildcard": {"text": {"value": "da*", "case_insensitive": True}}},
    {"fuzzy": {"text": {"value": "dsta", "transpositions": False}}},
    {"bool": {"must": "data", "filter": "network"}},
    {"bool": {"must": "data", "should": "merge", "minimum_should_match": 1}},
], ids=["match-operator", "match-msm", "match-boost", "phrase-slop",
        "phrase_prefix-slop", "prefix-boost", "wildcard-case", "fuzzy-transpositions",
        "bool-filter", "bool-msm"])
def test_search_body_refuses_result_altering_leaf_params(spark, reader, query):
    with pytest.raises(ValueError, match="unsupported .* parameters"):
        search_body(spark, reader, {"query": query})


# ---------------------------------------------------- Spark serving stage

SHARD = 256


@pytest.fixture(scope="module")
def waved(spark, tmp_path_factory):
    """4 shards in 2 waves with positions, and tombstones on the top 3
    hits of a common query in shards 0 and 2. Returns the reader and
    that query's doc ids before the delete."""
    idx = str(tmp_path_factory.mktemp("waved") / "idx")
    build_index(spark, gen_pages_df(spark, 1000, partitions=4), idx, IndexConfig(
        shard_size=SHARD, wave_shards=2, n_buckets=4, block_size=16, positions=True))
    hits = [d for d, _ in topk_local(IndexReader(spark, idx), "of the and", k=400)]
    delete_docs(idx, [d for s in (0, 2) for d in [h for h in hits if h // SHARD == s][:3]])
    r = IndexReader(spark, idx)
    assert len(r.waves) == 2 and len(r.shard_files(["the"])) == 4
    assert {d // SHARD for d in r.deletes()} == {0, 2}
    return r, hits


def _jobs_of(spark, group: str, call):
    """Run ``call`` under a job group; its result and the group's jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]


def _last_sql_execution(spark) -> int:
    """Id of the newest SQL execution in the SQL UI store (-1 if none).
    Robust where a count is not: once the store holds
    spark.sql.ui.retainedExecutions executions it drops the oldest, so
    its count stops moving while the newest id still does."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def test_spark_serving_is_one_stage_per_query(spark, waved):
    """Each Spark-served query shape runs ONE job of ONE stage (one
    task per shard, no exchange): no schema-inference job, no shuffle,
    and no SQL execution — the job is a plain RDD job, so no Catalyst
    plan is built per query. An OOV query runs no job at all."""
    waved, _ = waved
    store = spark.sparkContext._jsc.sc().statusStore()
    qs = list(gen_queries().query_text[:4])
    shapes = {
        "topk": lambda: topk(waved, qs[0], k=10),
        "topk_many": lambda: topk_many(waved, qs, k=10),
        "phrase_topk": lambda: phrase_topk(waved, "of the", k=10),
        "bool_topk": lambda: bool_topk(waved, "the", "of", "and", k=10),
    }
    for name, call in shapes.items():
        last = _last_sql_execution(spark)
        out, jobs = _jobs_of(spark, f"one-stage-{name}", call)
        assert _last_sql_execution(spark) == last, (name, "ran a SQL execution")
        assert out, name
        assert len(jobs) == 1, (name, len(jobs))
        stages = list(jobs[0].stageIds)
        assert len(stages) == 1, (name, stages)
        stage = store.lastStageAttempt(stages[0])
        assert stage.numTasks() <= 4, name
        assert stage.shuffleWriteBytes() == 0, name
    out, jobs = _jobs_of(spark, "one-stage-oov", lambda: topk(waved, "zzqx qqzx", k=10))
    assert out == [] and jobs == []


def test_build_and_compaction_run_only_data_moving_jobs(spark, tmp_path):
    """A direct-transport build runs 3 jobs for the doc map (range
    sample, sort map side, write) and 4 per wave (id-map write, stage-1
    write, merge map and reduce side); a compaction runs 3 (posting
    rewrite map and reduce side, doc-row rewrite). Offsets, schemas,
    wave totals and merge metrics cost no job."""
    idx = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 512, partitions=4)
    cfg = IndexConfig(shard_size=128, wave_shards=2, n_buckets=4, block_size=16,
                      segment_transport="direct")
    summary, jobs = _jobs_of(spark, "jobs-build", lambda: build_index(spark, pages, idx, cfg))
    assert summary["built_waves"] == [0, 1]
    assert len(jobs) <= 3 + 4 * 2, len(jobs)
    res, jobs = _jobs_of(spark, "jobs-compact", lambda: compact_index(spark, idx))
    assert res["live_docs"] == 512
    assert len(jobs) <= 3, len(jobs)
    assert IndexReader(spark, idx).global_stats()[0] == 512


def test_term_dict_builds_in_one_aggregation(spark, tmp_path):
    """A term dictionary runs its (term -> df) aggregation once, in the
    range-partitioned write: 4 jobs (range sample, and the write's map
    and reduce side under AQE), with n_files sized from the manifests.
    Its rows are each term's Σ n and bucket over the block rows."""
    import pyarrow.dataset as pads

    from logsentinelai_spark.index.termdict import build_term_dict

    idx = str(tmp_path / "idx")
    build_index(spark, gen_pages_df(spark, 256, partitions=2), idx, IndexConfig(
        shard_size=128, wave_shards=1, n_buckets=4, block_size=16))
    res, jobs = _jobs_of(spark, "jobs-termdict", lambda: build_term_dict(spark, idx))
    assert res["n_files"] == 1
    assert len(jobs) <= 4, len(jobs)
    blocks = IndexReader(spark, idx)._postings_dataset().to_table(
        filter=pads.field("block_id") >= 0, columns=["term", "term_bucket", "n"])
    want = blocks.group_by("term").aggregate([("n", "sum"), ("term_bucket", "max")])
    want = sorted(zip(*(want[c].to_pylist() for c in ("term", "n_sum", "term_bucket_max"))))
    got = pads.dataset(res["dir"], format="parquet").to_table(columns=["term", "df", "term_bucket"])
    assert list(zip(*(got[c].to_pylist() for c in ("term", "df", "term_bucket")))) == want


def test_local_match_decodes_each_stream_once_per_shard(spark, waved, monkeypatch):
    """A driver-local 3-term match decodes each posting stream it reads
    (gaps, tfs, dls) in one vb_decode per shard, whatever the number of
    terms; and the query module holds no pandas."""
    from logsentinelai_spark.index import codec, query

    r, _ = waved
    calls = []

    def counted(data):
        calls.append(1)
        return decode(data)

    decode = codec.vb_decode
    monkeypatch.setattr(codec, "vb_decode", counted)
    monkeypatch.setattr(query, "vb_decode", counted, raising=False)
    terms = ["and", "of", "the"]
    shards = len(r.shard_files(terms))
    assert shards == 4
    hits = search_body(spark, r, {"query": {"match": " ".join(terms)}})["hits"]
    assert len(hits) == 10
    assert len(calls) <= 3 * shards, len(calls)
    assert not [n for n, v in vars(query).items() if getattr(v, "__name__", "") == "pandas"]


def test_warm_python_worker_rereads_no_unchanged_zip(spark):
    """A Python task run after a warm-up task re-reads no zip directory
    in `importlib.invalidate_caches()`, which every task's
    `setup_spark_files` calls. On CPython < 3.12 each zipimporter on the
    worker path (Spark's jar, pyspark.zip) re-read its whole archive
    there, about 190 ms per task."""
    def zip_rereads(_):
        import importlib
        import zipimport

        assert search_body  # a package global: the worker imports the package
        read, paths = zipimport._read_directory, []
        zipimport._read_directory = lambda path: paths.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return paths

    sc = spark.sparkContext
    sc.parallelize([0, 1], 2).mapPartitions(zip_rereads).collect()  # warm-up
    assert sc.parallelize([0, 1], 2).mapPartitions(zip_rereads).collect() == []


def test_python_workers_talk_to_the_jvm_over_a_unix_socket(spark):
    """Every JVM <-> Python-worker channel is a Unix domain socket: the
    session enables it, and each worker sees the mode in its env."""
    got = spark.sparkContext.parallelize([0, 1], 2).map(
        lambda _: os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")).collect()
    assert [str(v).lower() for v in got] == ["true", "true"]


def test_python_task_reads_its_input_without_a_transport_stall(spark):
    """A one-row `mapInArrow` task has read its whole input within a few
    ms of its function start. Over loopback TCP each task waited ~40 ms
    there: the JVM's second small write sat behind Nagle's algorithm
    until the worker's delayed ACK. (Without the package imported in
    the worker, each task's zip-directory re-read delays the function
    start enough to hide the stall.)"""
    def read_ms(batches):
        assert search_body  # a package global: the worker imports the package
        t = time.perf_counter()
        rows = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict({"ms": [(time.perf_counter() - t) * 1e3],
                                          "rows": [rows]})

    def run():
        return spark.range(0, 1, 1, 1).mapInArrow(read_ms, "ms double, rows long").collect()

    run()  # warm-up
    got = [row for _ in range(20) for row in run()]
    assert [r.rows for r in got] == [1] * 20
    assert statistics.median(r.ms for r in got) < 15, [round(r.ms, 1) for r in got]


def test_invalidate_caches_rereads_a_rewritten_zip(tmp_path, monkeypatch):
    """With the package imported, a zip on `sys.path` that is rewritten
    (new size and mtime) is still re-read by the next
    `importlib.invalidate_caches()`."""
    zpath = tmp_path / "mods.zip"

    def write(src):
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("m.py", src)

    write("X = 1\n")
    monkeypatch.syspath_prepend(str(zpath))
    try:
        assert importlib.import_module("m").X == 1
        importlib.invalidate_caches()  # unchanged: the directory is kept
        write("# rewritten: a stale directory reads the wrong bytes\nX = 22\n")
        importlib.invalidate_caches()
        del sys.modules["m"]
        assert importlib.import_module("m").X == 22
    finally:
        sys.modules.pop("m", None)


def test_spark_serving_equals_local_across_waves_and_tombstones(spark, waved):
    """Spark serving reads each shard's files in its own task; across
    2 waves and tombstones in 2 shards it returns exactly the
    driver-local answers (ids and scores) for every query shape."""
    r, before = waved
    dels = set(r.deletes().tolist())
    qs = list(gen_queries().query_text[::10])
    for q in qs:
        for mode in ("acc", "wand"):
            got = topk(r, q, k=10, mode=mode)
            assert got == topk_local(r, q, k=10, mode=mode), (q, mode)
            assert not dels & {d for d, _ in got}
        page = topk_local(r, q, k=5, mode="acc")
        if page:
            after = (page[-1][1], page[-1][0])
            assert topk(r, q, k=5, search_after=after) == \
                topk_local(r, q, k=5, search_after=after), q
    assert topk_many(r, qs, k=10) == topk_many_local(r, qs, k=10)
    # the tombstones were top hits: the page is the old ranking without them
    assert [d for d, _ in topk(r, "of the and", k=10)] == \
        [d for d in before if d not in dels][:10]
    for phrase in ("of the", "in the", "and the"):
        got = phrase_topk(r, phrase, k=10)
        assert got and got == phrase_topk_local(r, phrase, k=10), phrase
    got = sorted(x.doc_id for x in bool_match_ids(r, "the of", "", "and").collect())
    want = sorted(d for d, _ in bool_topk_local(r, "the of", "", "and", k=1 << 30))
    assert got and got == want
    assert not dels & set(got)
