"""Multi-executor deployment rehearsal (S8 / north_rule spark-submit
shape): build on ``local-cluster[2,2,1024]`` — Spark's real cluster
scheduler with SEPARATE executor JVMs on one box — and verify the
committed segment transport end-to-end: transport auto-resolves to
"committed" (local-cluster is not in-process local mode), segments land
through Spark's task-commit protocol, and the result is rank-identical
to the in-process oracle."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import uuid
import zipfile
from pathlib import Path
from types import SimpleNamespace

REPO = Path(__file__).resolve().parent.parent


def test_local_cluster_committed_build_and_query(spark, tmp_path):
    from logsentinelai_spark.corpus import gen_pages_df, gen_queries
    from logsentinelai_spark.functions.tokenizer import tokens
    from logsentinelai_spark.index.bm25 import bm25_oracle_topk
    from logsentinelai_spark.index.query import topk_local
    from logsentinelai_spark.index.reader import IndexReader

    idx = str(tmp_path / "lc_idx")
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "build_index.py"),
         "--synthetic", "2000", "--out", idx,
         "--shard-size", "512", "--wave-shards", "2",
         "--master", "local-cluster[2,2,1024]", "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=str(REPO),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_docs"] == 2000

    # committed layout: Spark-committer-named files under the hive
    # dirs (never the direct writer's part-0.parquet), _SUCCESS marker
    seg_files = list(Path(idx, "postings").rglob("part-*.parquet"))
    assert seg_files
    assert all(".c000." in p.name for p in seg_files), seg_files[:3]
    assert any(p.name == "_SUCCESS" for w in Path(idx, "postings").iterdir()
               for p in w.iterdir() if p.is_file())

    # rank-identity vs the numpy oracle over the same deterministic corpus
    rows = gen_pages_df(spark, 2000, partitions=4).select("url", "text").collect()
    by_url = sorted((row.url, row.text) for row in rows)
    doc_tokens = {i: tokens(t) for i, (_, t) in enumerate(by_url)}
    reader = IndexReader(spark, idx)
    assert reader.global_stats()[0] == 2000
    for q in list(gen_queries().head(4).itertuples()):
        want = bm25_oracle_topk(doc_tokens, tokens(q.query_text), k=q.k)
        got = topk_local(reader, q.query_text, k=q.k, mode="acc")
        assert [d for d, _ in got] == [d for d, _ in want], f"lc q{q.query_id}"
        for (wd, ws), (gd, gs) in zip(want, got):
            assert abs(ws - gs) <= 1e-6


def test_local_cluster_ann_build(spark, tmp_path):
    """The ANN build ships the same way (spark-submit shape on separate
    executor JVMs): artifacts land through the DataFrame writer's
    task-commit protocol and are value-identical to an in-process
    build."""
    from logsentinelai_spark.index import ann
    from logsentinelai_spark.operators import similarity as sim

    out = str(tmp_path / "lc_ann")
    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "build_ann.py"),
         "--embeddings", emb_path, "--out", out,
         "--master", "local-cluster[2,2,1024]", "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=str(REPO),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_vectors"] == 500

    # committed layout: Spark-committer-named files + _SUCCESS (per
    # epoch dir since the transactional-extend change — each epoch is
    # its own overwrite-idempotent commit unit)
    files = list(Path(out, "ivfpq_lists").rglob("part-*.parquet"))
    assert files and all(".c000." in p.name for p in files), files[:3]
    assert (Path(out) / "ivfpq_lists" / "epoch=0" / "_SUCCESS").exists()

    # value identity vs an in-process build on the same fixture
    emb = spark.read.parquet(emb_path).select("vec_id", "embedding")
    d_local = str(tmp_path / "ip_ann")
    ann.build_ann(spark, emb, d_local,
                  sim._centroid_rows_from(emb), sim._pq_codebooks_from(emb))
    cols = ["vec_id"] + [f"code{m}" for m in range(sim.M_SUB)]
    assert sorted(map(tuple, ann.read_pq_codes(spark, out).select(*cols).collect())) == \
        sorted(map(tuple, ann.read_pq_codes(spark, d_local).select(*cols).collect()))
    assert sorted(map(tuple, ann.read_ivfpq_lists(spark, out)
                      .select("vec_id", "list_id", "code0").collect())) == \
        sorted(map(tuple, ann.read_ivfpq_lists(spark, d_local)
                   .select("vec_id", "list_id", "code0").collect()))


def test_local_cluster_compaction(spark, tmp_path):
    """Compaction ships the same way (separate executor JVMs, segment
    rows through the task-commit writer): build on local-cluster,
    compact on local-cluster (4x re-shard), then verify the flipped
    generation is rank-identical to the numpy oracle and the old
    layout is gone from the serving path."""
    from logsentinelai_spark.corpus import gen_pages_df, gen_queries
    from logsentinelai_spark.functions.tokenizer import tokens
    from logsentinelai_spark.index.bm25 import bm25_oracle_topk
    from logsentinelai_spark.index.query import topk_local
    from logsentinelai_spark.index.reader import IndexReader

    idx = str(tmp_path / "lc_cidx")
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "build_index.py"),
         "--synthetic", "2000", "--out", idx,
         "--shard-size", "256", "--wave-shards", "2",
         "--master", "local-cluster[2,2,1024]", "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=str(REPO),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    r2 = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "maintain_index.py"),
         "--index", idx, "--master", "local-cluster[2,2,1024]",
         "--cpus", "4", "compact"],
        capture_output=True, text=True, timeout=300, cwd=str(REPO),
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    summary = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary["generation"] == 1
    assert summary["shard_size"] == 1024
    assert summary["files_after"] < summary["files_before"]
    assert (Path(idx) / "_generation.json").exists()

    rows = gen_pages_df(spark, 2000, partitions=4).select("url", "text").collect()
    by_url = sorted((row.url, row.text) for row in rows)
    doc_tokens = {i: tokens(t) for i, (_, t) in enumerate(by_url)}
    reader = IndexReader(spark, idx)
    assert str(reader.dir).endswith("gen_1")
    assert reader.global_stats()[0] == 2000
    for q in list(gen_queries().head(4).itertuples()):
        want = bm25_oracle_topk(doc_tokens, tokens(q.query_text), k=q.k)
        got = topk_local(reader, q.query_text, k=q.k, mode="acc")
        assert [d for d, _ in got] == [d for d, _ in want], f"lcc q{q.query_id}"


def test_ship_package_ships_the_current_source(tmp_path, monkeypatch):
    """The shipped zip is named by its content: a zip another process
    left where a same-pid process would have looked (the old
    ``logsentinelai_spark_{pid}.zip`` name) is never shipped, and the
    shipped archive holds this checkout's files."""
    from logsentinelai_spark.session import ship_package

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"logsentinelai_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("logsentinelai_spark/__init__.py", "raise ImportError('stale')\n")
    shipped: list[str] = []
    ship_package(SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append)))
    assert len(shipped) == 1 and Path(shipped[0]) != stale
    with zipfile.ZipFile(shipped[0]) as z:
        assert z.read("logsentinelai_spark/__init__.py") == \
            (REPO / "logsentinelai_spark" / "__init__.py").read_bytes()


_SERVE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from logsentinelai_spark.corpus import gen_queries
from logsentinelai_spark.index.query import topk, topk_many
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.session import get_spark

spark = get_spark("lc_serve", cpus=4, master="local-cluster[2,2,1024]")
reader = IndexReader(spark, sys.argv[2])
qs = list(gen_queries().head(4).query_text)
hits = [topk(reader, q, k=10, mode="acc") for q in qs]
many = topk_many(reader, qs, k=10)
execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1


def zip_rereads(_):
    import importlib, zipimport
    assert IndexReader  # a package global: the executor imports the package
    read, paths = zipimport._read_directory, []
    zipimport._read_directory = lambda path: paths.append(path) or read(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return paths


rereads = spark.sparkContext.parallelize([0], 1).mapPartitions(zip_rereads).collect()
uds = spark.sparkContext.parallelize([0], 1).map(
    lambda _: os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")).collect()[0]
print(json.dumps({"queries": qs, "topk": hits, "many": many, "executors": execs,
                  "zip_rereads": rereads, "uds": uds}))
"""


def test_local_cluster_spark_serving(spark, tmp_path):
    """Spark serving on separate executor JVMs: each shard task reads
    its segment files in an executor's own Python worker, and the
    answers equal driver-local serving. A task after the queries
    re-reads no zip directory in `importlib.invalidate_caches()`; the
    executor imports the package from the shipped zip. Executor
    workers talk to their JVM over a Unix domain socket."""
    from logsentinelai_spark.corpus import gen_pages_df
    from logsentinelai_spark.index.build import IndexConfig, build_index
    from logsentinelai_spark.index.query import topk_local
    from logsentinelai_spark.index.reader import IndexReader

    idx = str(tmp_path / "lc_serve_idx")
    build_index(spark, gen_pages_df(spark, 2000, partitions=4), idx,
                IndexConfig(shard_size=512, wave_shards=2))
    r = subprocess.run(
        [sys.executable, "-c", _SERVE, str(REPO), idx],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["executors"] == 2
    assert out["zip_rereads"] == []
    assert str(out["uds"]).lower() == "true"
    reader = IndexReader(spark, idx)
    want = [[list(h) for h in topk_local(reader, q, k=10, mode="acc")]
            for q in out["queries"]]
    assert any(want)
    assert out["topk"] == want
    assert out["many"] == want


_WORK_DIR = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from logsentinelai_spark.session import get_spark, work_dir

spark = get_spark("work_dir", cpus=2)
assert spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
print(json.dumps({"dir": work_dir(), "files": os.listdir(work_dir())}))
spark.stop()
"""


def test_session_work_dir_is_short_and_removed_at_exit(tmp_path):
    """A session keeps its worker sockets and the shipped package zip in
    one private directory, removed when the process exits. With a temp
    dir too long for a socket path (perfbench nests ``TMPDIR`` in its
    checkout) the directory still fits the 107-byte limit, and nothing
    is left in the temp dir."""
    tmpdir = tmp_path / ("t" * 64)
    tmpdir.mkdir()
    r = subprocess.run(
        [sys.executable, "-c", _WORK_DIR, str(REPO)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env={**os.environ, "TMPDIR": str(tmpdir)},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert [f for f in out["files"] if f.endswith(".sock")]
    assert [f for f in out["files"] if f.startswith("logsentinelai_spark_")]
    assert len(os.fsencode(f"{out['dir']}/.{uuid.uuid4()}.sock")) <= 107
    assert not os.path.exists(out["dir"])
    assert not [p for p in tmpdir.rglob("*")
                if p.name.endswith(".sock") or p.name.startswith("logsentinelai_spark_")]


def test_worker_sockets_only_on_single_host_masters():
    """Unix domain sockets need the driver's socket dir on every
    executor host, so only ``local`` and ``local-cluster`` masters get
    them; every other master keeps Spark's loopback-TCP default."""
    from logsentinelai_spark.session import _worker_socket_conf, work_dir

    for master in ("local", "local[4]", "local[*]", "local-cluster[2,2,1024]"):
        assert _worker_socket_conf(master) == {
            "spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": work_dir()}, master
    for master in ("yarn", "spark://cluster:7077", "k8s://https://api:6443", "mesos://m:5050"):
        assert _worker_socket_conf(master) == {}, master
