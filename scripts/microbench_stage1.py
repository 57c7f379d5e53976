"""Parallel-scaling microbench of the stage-1 batch body (outside
Spark): run the identical per-batch work — HTML extract, Arrow
tokenize, tf + block encode — in K concurrent processes and report
per-process wall at each K. Degradation vs K=1 isolates single-box
memory-bandwidth / allocator contention from Spark overheads.

    python scripts/microbench_stage1.py --batch 10000 --rounds 3 --levels 1,2,8
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _make_batch(n: int):
    from logsentinelai_spark.corpus import gen_pages_pandas

    pdf = gen_pages_pandas(n)
    return pdf["html"].tolist()


def _body(htmls, phases: str) -> dict:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from logsentinelai_spark.functions.extract import extract_series
    from logsentinelai_spark.functions.tokenizer import arrow_sep_pattern, tokens_arrow
    from logsentinelai_spark.index.build import encode_blocks_grouped, term_bucket_py

    sep_pattern = arrow_sep_pattern()  # stage 1 builds it on the driver
    t = {}
    t0 = time.monotonic()
    text_series = extract_series(pd.Series(htmls))
    t["extract"] = time.monotonic() - t0
    if phases == "extract":
        return t
    t0 = time.monotonic()
    text_arr = pa.array(text_series, type=pa.string())
    parts = tokens_arrow(text_arr, sep_pattern)
    t["tokenize"] = time.monotonic() - t0
    t0 = time.monotonic()
    nrows = len(htmls)
    raw_lens = parts.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
    flat = parts.flatten()
    nonempty = pc.utf8_length(flat).to_numpy(zero_copy_only=False) > 0
    doc_local = np.repeat(np.arange(nrows, dtype=np.int64), raw_lens)[nonempty]
    lens = np.bincount(doc_local, minlength=nrows).astype(np.int64)
    de = flat.filter(pa.array(nonempty)).dictionary_encode()
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = de.dictionary  # matches build.py: no object round-trip
    nvocab = len(vocab)
    key = doc_local * nvocab + codes
    if nrows * nvocab < 2**31:
        key = key.astype(np.int32)
    ks = np.sort(key)
    starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
    tfs = np.diff(np.append(starts, ks.size)).astype(np.int64)
    ukey = ks[starts]
    udoc_idx = ukey // nvocab
    ucode = (ukey % nvocab).astype(np.int64)
    doc_ids = np.arange(nrows, dtype=np.int64)
    docs = doc_ids[udoc_idx]
    dls = lens[udoc_idx]
    shards = docs // 1_000_000
    order = np.lexsort((docs, ucode, shards))
    docs, tfs, dls, ucode, shards = (
        docs[order], tfs[order], dls[order], ucode[order], shards[order])
    newgrp = np.concatenate(
        ([True], (ucode[1:] != ucode[:-1]) | (shards[1:] != shards[:-1])))
    group_starts = np.flatnonzero(newgrp)
    np.fromiter(
        (term_bucket_py(x, 16) for x in vocab.to_pylist()),
        dtype=np.int32, count=nvocab)
    enc = encode_blocks_grouped(
        docs, tfs, dls, group_starts, shards[group_starts] * 1_000_000, 128)
    import pyarrow.compute as _pc
    _pc.take(vocab, pa.array(ucode[group_starts][enc["gid"]]))  # term emission
    t["tf_encode"] = time.monotonic() - t0
    return t


def _worker(htmls, phases, rounds, q):
    # warmup round then timed rounds
    _body(htmls, phases)
    walls = []
    per_phase: dict[str, float] = {}
    for _ in range(rounds):
        t0 = time.monotonic()
        ph = _body(htmls, phases)
        walls.append(time.monotonic() - t0)
        for k, v in ph.items():
            per_phase[k] = per_phase.get(k, 0.0) + v
    q.put((min(walls), {k: v / rounds for k, v in per_phase.items()}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=10000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--levels", default="1,2,8,32")
    ap.add_argument("--phases", default="all", choices=["all", "extract"])
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]

    htmls = _make_batch(args.batch)
    base = None
    for k in levels:
        q: mp.Queue = mp.Queue()
        procs = [
            mp.Process(target=_worker, args=(htmls, args.phases, args.rounds, q))
            for _ in range(k)
        ]
        t0 = time.monotonic()
        for p in procs:
            p.start()
        results = [q.get() for _ in procs]
        for p in procs:
            p.join()
        wall = time.monotonic() - t0
        best = min(r[0] for r in results)
        worst = max(r[0] for r in results)
        phases = {}
        for _, ph in results:
            for name, v in ph.items():
                phases[name] = max(phases.get(name, 0.0), v)
        if base is None:
            base = best
        print(json.dumps({
            "procs": k,
            "per_proc_best_sec": round(best, 3),
            "per_proc_worst_sec": round(worst, 3),
            "slowdown_vs_1": round(worst / base, 3),
            "phase_worst_sec": {n: round(v, 3) for n, v in phases.items()},
            "total_wall": round(wall, 1),
        }))


if __name__ == "__main__":
    main()
