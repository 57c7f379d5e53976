"""Memory-bandwidth ceiling evidence for BENCH/BASELINE.md.

Two tables, re-measured every bench_scaling run (the VM's QoS throttle
varies day to day): (1) numpy STREAM-triad GB/s per process at 1/2/8/32
concurrent processes — the box's aggregate bandwidth cap bounds what
any purely data-streaming job can show for single-box eff(N->4N)
regardless of code; (2) the stage-1 compute body (Arrow/RE2 extract +
tokenize) on DISTINCT data per process — its per-proc wall ratio
across levels is the engine's own scaling behavior, free of the
shared-bandwidth artifact to the extent the body is ALU-bound.

    python scripts/microbench_membw.py
"""

import json
import multiprocessing as mp
import sys
import time

import numpy as np

LEVELS = (1, 2, 8, 32)


def triad(q, _seed=0):
    n = 20_000_000
    a = np.random.default_rng(1).random(n)
    b = np.random.default_rng(2).random(n)
    c = np.empty(n)
    t0 = time.monotonic()
    for _ in range(5):
        np.add(a, 2.5 * b, out=c)
    dt = time.monotonic() - t0
    q.put(5 * 3 * 8 * n / dt / 1e9)


def body_distinct(q, seed):
    sys.path.insert(0, "/root/repo")
    import pyarrow as pa

    from logsentinelai_spark.corpus import gen_pages_pandas
    from logsentinelai_spark.functions.extract import extract_arrow
    from logsentinelai_spark.functions.tokenizer import arrow_sep_pattern, tokens_arrow

    pdf = gen_pages_pandas(6000, seed=seed)
    htmls = pa.array(pdf["html"].tolist(), type=pa.binary())
    sep_pattern = arrow_sep_pattern()
    t0 = time.monotonic()
    for _ in range(3):
        tokens_arrow(extract_arrow(htmls), sep_pattern)
    q.put((time.monotonic() - t0) / 3)


def _run(fn):
    out = {}
    for k in LEVELS:
        q = mp.Queue()
        ps = [mp.Process(target=fn, args=(q, 100 + i)) for i in range(k)]
        for p in ps:
            p.start()
        res = [q.get() for _ in ps]
        for p in ps:
            p.join()
        out[k] = round(sum(res) / len(res), 3)
    return out


def run_tables() -> dict:
    """{"triad": {level: GB/s per proc}, "body_wall": {level: sec per
    proc}} — importable by bench_scaling.py."""
    return {"triad": _run(triad), "body_wall": _run(body_distinct)}


if __name__ == "__main__":
    t = run_tables()
    print(json.dumps({"triad_GBps_per_proc": t["triad"]}))
    print(json.dumps({"extract_tok_sec_distinct": t["body_wall"]}))
