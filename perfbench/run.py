"""Benchmark for the BM25 index engine.

    python3 perfbench/run.py --workload ingest|interactive|batch|churn \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client, Spark
on ``local[nproc]``. Set-up (session start, corpus synthesis, any
prebuilt index, warm-up, term dictionary) is timed as ``setup_s``; then
the workload runs for at least ``--seconds`` and every answer it times
is checked. Lines starting with ``#`` report the run by the engine's own
metric names; the last line is one JSON object with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Everything the run writes lives under ``.bench_work/`` (removed at
exit) and ``.bench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ("ingest", "interactive", "batch")

END_TO_END = {
    "setup_s": "s",
    "rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
    "index_bytes_per_text_byte": "ratio",
}

SELF_LAYERS = ("setup", "functions", "build", "compact", "retention", "reader",
               "query", "termdict", "body", "spark", "bench", "probe")

PER_LAYER = {
    **{f"setup.{p}_s": "s" for p in ("session", "corpus", "prebuild", "warmup", "termdict")},
    "functions.extract_tokenize_s": "s", "functions.docs_per_s": "docs/s",
    **{f"build.{k}": "s" for k in ("doc_map_s", "wave_idmap_s", "stage1_s", "merge_s",
                                    "commit_s")},
    "build.merge_task_ms_max": "ms", "build.merge_task_ms_p50": "ms",
    "build.postings": "count", "build.blocks": "count", "build.waves": "count",
    "compact.call_s": "s", "compact.postings_s": "s", "compact.files_before": "count",
    "compact.files_after": "count", "compact.bytes_rewritten": "bytes",
    "index.postings_bytes": "bytes", "index.docs_bytes": "bytes", "index.files": "count",
    "index.bytes_per_posting": "bytes",
    "reader.open_ms": "ms", "reader.read_ms": "ms", "reader.blocks_per_query": "count",
    "reader.postings_per_hit": "ratio", "reader.doc_urls_ms": "ms",
    **{f"query.local_ms_p50.{s}": "ms" for s in ("common", "rare", "mixed", "oov")},
    "query.score_ms": "ms", "query.msearch_local_ms": "ms",
    "termdict.build_s": "s",
    **{f"termdict.expand_ms.{s}": "ms" for s in ("prefix", "wildcard", "fuzzy")},
    "termdict.terms_per_expansion": "count",
    **{f"body.ms_p50.{s}": "ms" for s in ("match", "bool", "match_phrase", "prefix",
                                          "wildcard", "fuzzy", "search_after")},
    "body.overhead_ms": "ms",
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count", "spark.task_ms_per_query": "ms",
    "spark.outside_task_share": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_ms_max_over_p50": "ratio", "spark.gc_s": "s",
    "retention.retire_s": "s", "retention.tick_s": "s", "retention.compactions": "count",
    "deletes.tombstones": "count",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "share.build_compact": "ratio", "share.spark_serving": "ratio",
    "trace.overhead_share": "ratio", "trace.spans": "count",
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every 0.5 s. Each
    process counts its proportional set size, so pages that forked Python
    workers share are counted once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_ev = threading.Event()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/smaps_rollup") as f:
                    pss = next(ln for ln in f if ln.startswith("Pss:"))
                rss[int(d)] = int(pss.split()[1]) * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                continue  # the process ended between listdir and open
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += children.get(p, [])
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(0.5):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()
        self.peak = max(self.peak, self.sample())


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_spark(work: Path, nproc: int, trace: bool):
    from logsentinelai_spark.session import get_spark

    conf = {
        # A heap that is committed and touched at start: the JVM's share
        # of rss_mb is then a constant, not the heap's adaptive growth.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=nproc, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM (it exits when its stdin closes;
    its Python workers exit with it) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def traced_layers(run, spark_by_span: dict, t_start: float, t_end: float,
                  main_op: str) -> None:
    """Per-layer values that come from the spans and the event log."""
    from spans import covered_ms, self_times

    # the timed phase, then the traced run's own probes after it
    after = [s for s in run.tracer.spans if s["start"] >= t_start]
    timed = [s for s in after if s["end"] <= t_end]

    def spark_totals(names):
        """Spark work of the spans with these names, and their wall time."""
        out = {"n": 0, "jobs": 0, "stages": 0, "tasks": [], "wall_ms": 0.0,
               "covered_ms": 0.0, "skew": []}
        for s in after:
            if s["name"] not in names:
                continue
            out["n"] += 1
            out["wall_ms"] += 1000 * (s["end"] - s["start"])
            r = spark_by_span.get(s["id"])
            if r is None:
                continue
            out["jobs"] += r["jobs"]
            out["stages"] += len(r["stages"])
            out["tasks"] += r["tasks"]
            out["covered_ms"] += covered_ms([(t["launch"], t["finish"]) for t in r["tasks"]])
            for st in r["stages"]:
                if len(st) > 1:
                    ms = sorted(t["finish"] - t["launch"] for t in st)
                    out["skew"].append(ms[-1] / max(ms[len(ms) // 2], 1))
        return out

    L = run.layer
    q = spark_totals({"spark.search", "body.search"})
    n = q["n"] or 1
    L["spark.jobs_per_query"] = q["jobs"] / n
    L["spark.stages_per_query"] = q["stages"] / n
    L["spark.tasks_per_query"] = len(q["tasks"]) / n
    L["spark.task_ms_per_query"] = sum(t["finish"] - t["launch"] for t in q["tasks"]) / n
    L["spark.outside_task_share"] = 1 - q["covered_ms"] / q["wall_ms"] if q["wall_ms"] else 0.0
    w = spark_totals({"build.index", "compact.index"})
    nw = w["n"] or 1
    L["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in w["tasks"]) / nw
    L["spark.spill_bytes"] = sum(t["spill"] for t in w["tasks"]) / nw
    L["spark.task_ms_max_over_p50"] = statistics.median(w["skew"]) if w["skew"] else 0.0
    L["spark.gc_s"] = sum(t["gc_ms"] for t in w["tasks"]) / 1000 / nw

    self_t = self_times(after)
    self_t["setup"] = self_times(run.tracer.spans).get("setup", 0.0)
    for layer in SELF_LAYERS:
        L[f"self_s.{layer}"] = self_t.get(layer, 0.0)
    # shares of the traced requests' wall time (probes are not requests)
    self_t = self_times(timed)
    req_s = sum(s["end"] - s["start"] for s in timed if s["name"] == "bench.request")
    if req_s:
        L["share.build_compact"] = (self_t.get("build", 0.0) + self_t.get("compact", 0.0)) / req_s
        L["share.spark_serving"] = self_t.get("spark", 0.0) / req_s
    tr = run.samples.get(main_op + "@traced")
    un = run.samples.get(main_op + "@untraced")
    if tr and un:
        L["trace.overhead_share"] = statistics.median(tr) / statistics.median(un) - 1
    L["trace.spans"] = len(run.tracer.spans)


MAIN_OP = {"ingest": "build", "interactive": "search", "batch": "spark_search"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import logsentinelai_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS, Run

    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = str(work / "tmp")

    load_before = load1()
    ticks_before = cpu_ticks()
    rss = RssSampler()
    rss.start()
    session_s: list[float] = []

    def start_session():
        t = time.perf_counter()
        spark = start_spark(work, nproc, bool(args.trace))
        session_s.append(time.perf_counter() - t)
        return spark

    pool = ThreadPoolExecutor(max_workers=1)
    session = pool.submit(start_session)
    try:
        try:
            tracer = Tracer(bool(args.trace))
            run = Run(session, work, args.seed, tracer)
            workload = WORKLOADS[args.workload]()
            workload.setup(run)
            spark = run.spark
            run.phases["session"] = session_s[0]  # overlaps the corpus phase
            master = spark.sparkContext.master
            tracer.spark = spark if args.trace else None
            t_start = time.monotonic()
            setup_s = t_start - T0
            e_start = time.time()
            workload.timed(run, args.seconds, time.perf_counter())
            e_end = time.time()
            timed_s = time.monotonic() - t_start
            tracer.active = tracer.enabled
            e2e = workload.finish(run)
        finally:
            # a session that failed to start has nothing to stop
            if session.exception() is None:
                stop_spark(session.result())
            pool.shutdown()
            rss.stop()
        if args.trace:
            traced_layers(run, read_event_log(work / "eventlog"), e_start, e_end,
                          MAIN_OP[args.workload])
            tracer.dump(ROOT / ".bench_out" / f"spans-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = load1()
    d = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    steal = d[7] / sum(d) if sum(d) else 0.0  # time the hypervisor gave to others

    attempted = sum(a for a, _ in run.ops.values())
    failed = sum(f for _, f in run.ops.values())
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} nproc={nproc} master={master} "
          f"load1_before={load_before:.2f} load1_after={load_after:.2f} "
          f"steal_share={steal:.3f} timed_s={timed_s:.2f}")
    for op, (a, f) in sorted(run.ops.items()):
        times = run.samples[op]
        print(f"# ops {op}: attempted={a} failed={f}"
              + (" s=" + ",".join(f"{x:.3f}" for x in times) if len(times) <= 30 else ""))
    for p, s in run.phases.items():
        print(f"# setup.{p}_s = {s:.3f} s")
    for name, (v, unit, n) in run.report.items():
        print(f"# {name} = {v:.4f} {unit} (n={n})")
    if args.trace:
        for p in ("session", "corpus", "prebuild", "warmup", "termdict"):
            run.layer[f"setup.{p}_s"] = run.phases.get(p, 0.0)
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = dict(e2e, setup_s=setup_s, rss_mb=rss.peak / 2**20)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
