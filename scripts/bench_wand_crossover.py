"""Measure the acc-vs-WAND crossover on synthetic posting lists.

`mode="auto"` in index/query.py routes a query to the exhaustive
accumulate scorer below AUTO_WAND_POSTINGS candidate postings and to
windowed block-max WAND above. Round 2 asserted that constant; this
script MEASURES it: build posting lists of increasing length directly
(numpy -> codec.encode_blocks, no Spark — the scorers consume the
exact same block-row table either way: a pyarrow Table, as the
serving seam hands them), verify both scorers return identical
rankings, and time them.

The workload is the shape WAND exists for: one long, low-signal term
(tf mostly 1) plus selective terms with a heavy tf tail — block maxima
vary, so the threshold θ learned from the selective terms lets WAND
skip most of the long list's blocks, while acc must decode all of it.

    python scripts/bench_wand_crossover.py [--scales 1e5,1e6,1e7]

Prints one JSON line per scale plus a "crossover" summary line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from logsentinelai_spark.index.bm25 import idf as idf_fn  # noqa: E402
from logsentinelai_spark.index.codec import encode_blocks  # noqa: E402
from logsentinelai_spark.index.query import (  # noqa: E402
    _score_shard_acc,
    _score_shard_wand,
)

BLOCK = 128
K = 10
RNG_SEED = 20250817


def _posting_list(rng, n_docs: int, df: int, tf_tail: float):
    docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    # tf: mostly 1, geometric tail; tf_tail scales the tail weight so
    # selective terms carry high-tf outliers (what drives θ up early)
    tfs = 1 + rng.geometric(p=1.0 / (1.0 + tf_tail), size=df).astype(np.int64) - 1
    dls = rng.integers(200, 800, size=df).astype(np.int64)
    return docs, tfs, dls


def build_frame(n_docs: int, long_df: int, sel_ratio: int = 500):
    """3-term query block rows, as a pyarrow Table: one long low-tf
    list + two SELECTIVE heavy-tail lists (df = long_df/sel_ratio).
    Selectivity is what gives WAND long skip windows: once θ exceeds
    the long term's solo upper bound, scoring only needs the
    neighborhoods of selective-term hits, and whole long-list blocks
    between hits are never decoded.
    Dense 'selective' terms (ratio ~50) make windows hop every few
    docs and the cursor loop's Python overhead dominates — acc wins
    at any size there (measured)."""
    rng = np.random.default_rng(RNG_SEED)
    rows = []
    spec = [("longterm", long_df, 0.05),
            ("mid1", max(50, long_df // sel_ratio), 6.0),
            ("mid2", max(50, long_df // sel_ratio), 6.0)]
    dfs = {}
    for term, df, tail in spec:
        docs, tfs, dls = _posting_list(rng, n_docs, df, tail)
        dfs[term] = df
        for blk in encode_blocks(docs, tfs, dls, base=0, block_size=BLOCK):
            rows.append(dict(blk, term=term))
    tbl = pa.Table.from_pylist(rows)
    avgdl = 500.0
    idfs = {t: idf_fn(n_docs, d) for t, d in dfs.items()}
    return tbl, idfs, avgdl, sum(dfs.values())


def time_scorer(fn, tbl, idfs, avgdl, repeats: int):
    walls, res = [], None
    for _ in range(repeats):
        t0 = time.monotonic()
        res = fn(tbl, idfs, avgdl, K, 0)
        walls.append(time.monotonic() - t0)
    return min(walls), res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1e5,3e5,1e6,3e6,1e7")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sel-ratio", type=int, default=2000,
                    help="long_df / companion_df; 2000 shows the wand-wins "
                         "regime, 50-500 the dense regime where acc wins")
    args = ap.parse_args()
    crossover = None
    for s in args.scales.split(","):
        long_df = int(float(s))
        n_docs = long_df * 3
        tbl, idfs, avgdl, total = build_frame(n_docs, long_df, args.sel_ratio)
        t_acc, r_acc = time_scorer(_score_shard_acc, tbl, idfs, avgdl, args.repeats)
        t_wand, r_wand = time_scorer(_score_shard_wand, tbl, idfs, avgdl, args.repeats)
        assert [d for d, _ in r_acc] == [d for d, _ in r_wand], f"rank mismatch at {s}"
        for (da, sa), (dw, sw) in zip(r_acc, r_wand):
            assert abs(sa - sw) <= 1e-9
        out = {
            "total_postings": total,
            "acc_sec": round(t_acc, 4),
            "wand_sec": round(t_wand, 4),
            "wand_speedup": round(t_acc / t_wand, 2),
        }
        print(json.dumps(out))
        if crossover is None and t_wand < t_acc:
            crossover = total
    print(json.dumps({"crossover_total_postings": crossover}))


if __name__ == "__main__":
    main()
