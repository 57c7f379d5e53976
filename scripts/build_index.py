"""Build (or resume) the inverted index from a pages table.

    spark-submit --py-files engine.zip scripts/build_index.py \
        --pages /data/pages_parquet --out /data/index_db \
        [--shard-size 1000000 --wave-shards 64 --n-buckets 16 \
         --block-size 128 --cpus 32 --synthetic N]

``--synthetic N`` builds from the deterministic generated corpus
instead of a parquet path (bench/test convenience).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from logsentinelai_spark.corpus import gen_pages_df, pages_from_documents  # noqa: E402
from logsentinelai_spark.sources import read_pages  # noqa: E402
from logsentinelai_spark.index.build import IndexConfig, build_index  # noqa: E402
from logsentinelai_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="Iceberg table identifier or parquet path")
    ap.add_argument("--snapshot-id", type=int, help="pin an Iceberg snapshot (time travel)")
    ap.add_argument("--synthetic", type=int)
    ap.add_argument("--from-documents", help="sf dir with documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--shard-size", type=int, default=100_000)
    ap.add_argument("--wave-shards", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--master", help="Spark master override, e.g. local-cluster[4,4,8192]")
    ap.add_argument("--use-text-col", action="store_true")
    ap.add_argument("--segment-transport", default="auto",
                    choices=["auto", "direct", "committed"])
    args = ap.parse_args()

    spark = get_spark("build_index", cpus=args.cpus, master=args.master)
    if args.synthetic:
        pages = gen_pages_df(spark, args.synthetic)
    elif args.from_documents:
        pages = pages_from_documents(spark, args.from_documents)
    elif "/" in (args.pages or ""):
        # parquet path: pin the snapshot's FILE LIST at first build and
        # persist it next to the index, so a resume after a crash reads
        # the same snapshot even if files were appended meanwhile (S2;
        # the Iceberg branch below gets this from snapshot-id natively)
        from logsentinelai_spark.sources.io import read_snapshot

        snap_path = Path(args.out) / "_snapshot_files.json"
        prev = json.loads(snap_path.read_text()) if snap_path.exists() else None
        pages, files = read_snapshot(spark, args.pages, files=prev)
        snap_path.parent.mkdir(parents=True, exist_ok=True)
        snap_path.write_text(json.dumps(files))
    else:
        # Iceberg table identifier (sources/io.py)
        pages = read_pages(spark, args.pages, snapshot_id=args.snapshot_id)
    cfg = IndexConfig(
        shard_size=args.shard_size,
        wave_shards=args.wave_shards,
        n_buckets=args.n_buckets,
        block_size=args.block_size,
        use_text_col=args.use_text_col,
        segment_transport=args.segment_transport,
    )
    t0 = time.monotonic()
    summary = build_index(spark, pages, args.out, cfg)
    elapsed = time.monotonic() - t0
    print(json.dumps(dict(summary, elapsed_sec=round(elapsed, 3),
                          docs_per_sec=round(summary["n_docs"] / elapsed, 1))))


if __name__ == "__main__":
    main()
