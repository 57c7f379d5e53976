"""Generation compaction — Lucene segment merge for this index.

``extend_index`` appends per-epoch waves forever; Lucene's core
maintenance loop is the background segment MERGE that rewrites many
small segments into one and physically drops tombstoned documents
(the ES force-merge the reference's index lifecycle relies on —
call518/LogSentinelAI INSTALL-and-USAGE.md:360-386 ILM policy).
:func:`compact_index` is that operation:

  * every committed wave's posting segments are rewritten into ONE new
    generation (``<index>/gen_K/`` — a complete, self-contained index
    dir with a single wave), via the same grouped shuffle shape as the
    build's stage-2 merge: groupBy(shard, term_bucket) →
    applyInArrow → partitioned task-commit write;
  * the generation may RE-SHARD (``shard_size`` = an integer multiple
    of the current one, default 4x): every old shard nests wholly
    inside one new shard, so the regroup is the same one shuffle —
    and since shard = doc_id // shard_size is pure arithmetic, doc ids
    NEVER change (rank identity by construction; Lucene renumbers
    docids on merge, we widen the shard arithmetic instead). This is
    what physically coalesces files: extend-epochs leave partial
    shards at every epoch boundary and one (shard, bucket) segment
    file each — k small shards fold into one;
  * the rewrite of one (new shard, term_bucket) group is the build's
    own stage-2 merge body (build._merge_group): each (term, old
    shard) block run is a doc-disjoint run based at its old shard, so
    one vectorized decode → mask → lexsort → grouped encode pass
    re-blocks every term of the group; a rewrite at the same shard
    size writes the same bytes back;
  * documents tombstoned by deletes.delete_docs are PHYSICALLY dropped:
    the merge masks their postings (positions included) before the
    doc sort; doc rows anti-joined out; manifest stats (N, avgdl,
    df-bearing block ``n``) recomputed from the survivors — after
    compaction deleted docs stop affecting BM25 stats, exactly
    Lucene's post-merge behavior;
  * the cutover is transactional: the generation dir is fully written
    and its wave manifest committed BEFORE the root ``_generation.json``
    pointer flips (atomic rename, the extend_ann discipline). A crash
    at any point leaves the previous generation served. After the flip
    the old generation's ``postings/ store/ manifest/ doc_map*`` at the
    root are dead weight and removable (pytest-pinned).

Scale shape: one wide shuffle moving COMPRESSED blocks (identical to
the build's only wide shuffle), one doc-row rewrite, no driver-sized
state — 3 Spark jobs (the rewrite's map and reduce sides, the doc-row
write; a broadcast of the tombstones when there are any). Both reads
declare their schemas (no schema-inference job); the segment metrics
and the live N / sum(dl) are driver-side pyarrow reads of the files
just written (no read-back or aggregate job). Shards are doc-disjoint
across waves by construction, so the "merge" never k-ways posting lists
across segments — within a new shard, each term's old-shard runs are
doc-disjoint.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import SparkSession, functions as F

from .build import (
    DOC_ROWS_SCHEMA, SEGMENT_ROWS_SCHEMA, _group_key, _merge_group, _segment_metrics,
    _segment_rows, config_from_meta,
)
from .deletes import clear_deletes, read_deletes, shard_slice
from .lineage import StageTimer, commit_wave, committed_waves, resolve_index_dir


def _compact_fn(old_size: int, new_size: int, block_size: int, positions: bool,
                dels: np.ndarray | None):
    """Per-(new shard, term_bucket) rewrite body: the build's merge
    (build._merge_group) over the group's committed block runs, each
    based at its old shard, with the new shard's tombstone slice
    masked. Emits the build's committed-transport rows, in-band
    metrics row included (build._segment_rows)."""

    def _fn(key, tbl):
        t_group = time.monotonic()
        shard, bucket = _group_key(key)
        pdf = tbl.to_pandas()
        pdf = pdf[pdf["block_id"] >= 0]  # the old segments' metrics rows
        base = shard * new_size
        merged = _merge_group(pdf, base, old_size, block_size, positions,
                              shard_slice(dels, base, new_size))
        return _segment_rows(shard, bucket, merged, t_group)

    return _fn


def _count_parquet_files(root: Path) -> int:
    return sum(1 for _ in root.rglob("*.parquet")) if root.exists() else 0


def compact_index(spark: SparkSession, index_dir: str,
                  shard_size: int | None = None) -> dict:
    """Rewrite the live generation into ``<index_dir>/gen_K`` and flip
    the root pointer. ``shard_size``: the new generation's shard size —
    must be an integer multiple of the current one (doc ids never
    change); default 4x current (the file-coalescing merge). Pass the
    current size for a layout-preserving rewrite. Returns a summary dict
    (generation, live/dropped docs, file counts before/after)."""
    root = Path(index_dir)
    live = resolve_index_dir(index_dir)
    meta = json.loads((live / "_meta.json").read_text())
    cfg = config_from_meta(meta)
    waves = committed_waves(str(live))
    if not waves:
        raise FileNotFoundError(f"no committed waves in {live}")
    old_size = cfg.shard_size
    new_size = int(shard_size) if shard_size else 4 * old_size
    if new_size % old_size != 0:
        raise ValueError(
            f"compacted shard_size {new_size} must be a multiple of the "
            f"current {old_size} (doc ids are shard-arithmetic, they "
            "never change)")
    dels = read_deletes(live)
    dels = dels if dels.size else None
    gen = int(meta.get("generation", 0)) + 1
    gen_dir = root / f"gen_{gen}"
    if gen_dir.exists():
        shutil.rmtree(gen_dir)  # uncommitted leftovers from a crash
    gen_dir.mkdir(parents=True)
    timer = StageTimer()
    k_fold = new_size // old_size

    # ---- postings rewrite (the one wide shuffle; compressed blocks)
    with timer.time("compact_postings"):
        post_root = live / "postings"
        src = spark.read.schema(SEGMENT_ROWS_SCHEMA).option("basePath", str(post_root)).parquet(
            *[str(post_root / f"wave={w}") for w in sorted(waves)])
        # one run per (term, old shard) in committed segments: the
        # merge's run key is (shard, salt), so salt is a constant here
        cols = [
            F.col("shard").cast("long").alias("shard"),
            F.col("term_bucket").cast("int").alias("term_bucket"),
            F.lit(0).cast("long").alias("salt"),
            "term", "block_id", "n", "gaps_vb", "tfs_vb", "dls_vb",
            *(["pos_vb"] if cfg.positions else []),
        ]
        src = src.select(*cols).withColumn(
            "shard_new", (F.col("shard") / k_fold).cast("long")
            if k_fold > 1 else F.col("shard"))
        seg_dir = gen_dir / "postings" / "wave=0"
        (
            src.groupBy("shard_new", "term_bucket")
            .applyInArrow(
                _compact_fn(old_size, new_size, cfg.block_size, cfg.positions, dels),
                schema=SEGMENT_ROWS_SCHEMA,
            )
            .write.mode("overwrite")
            .partitionBy("shard", "term_bucket")
            .parquet(str(seg_dir))
        )
        part_metrics = _segment_metrics(seg_dir)

    # ---- doc rows rewrite (anti-join drops tombstoned docs; shard
    # recomputed for the new arithmetic)
    with timer.time("compact_store"):
        store_root = live / "store"
        docs = spark.read.schema(DOC_ROWS_SCHEMA).parquet(
            *[str(store_root / f"wave={w}" / "kind=0") for w in sorted(waves)]
        ).select("doc_id", "url", "dl",
                 F.expr(f"doc_id DIV {new_size}").alias("shard"))
        if dels is not None:
            import pyarrow as pa

            del_df = spark.createDataFrame(pa.table({"doc_id": dels}))
            docs = docs.join(F.broadcast(del_df), "doc_id", "left_anti")
        store_out = gen_dir / "store" / "wave=0" / "kind=0"
        docs.write.mode("overwrite").parquet(str(store_out))
        # live N and sum(dl) from a driver-side read of the dl column
        dl = pads.dataset(str(store_out), format="parquet").to_table(columns=["dl"])["dl"]
        live_docs, live_sum_dl = len(dl), int(pc.sum(dl).as_py() or 0)

    # ---- doc_map epochs: carried into the generation so extend_index's
    # url anti-join keeps working (at deployment scale this is an
    # object-store server-side copy, not a recompute). Deleted urls stay
    # mapped — re-adding a deleted url is a no-op, the url-keyed
    # snapshot contract.
    with timer.time("copy_doc_maps"):
        for ep in meta["epochs"]:
            shutil.copytree(live / ep["dir"], gen_dir / ep["dir"])

    # ---- commit: manifest, then meta, then the root pointer LAST
    commit_wave(str(gen_dir), {
        "wave": 0,
        "input_split": {"doc_lo": 0, "doc_hi": int(meta["id_hw"])},
        "input_docs": live_docs,
        "sum_dl": live_sum_dl,
        "stage_elapsed_sec": timer.stages,
        "partitions": part_metrics,
        "compacted_from_waves": sorted(waves),
        "dropped_docs": int(dels.size) if dels is not None else 0,
    })
    gen_meta = dict(
        meta, generation=gen, shard_size=new_size,
        # wave 0 covers everything up to the compaction point; later
        # extends enumerate fresh waves from wave_base upward, and the
        # next epoch base aligns to the NEW shard arithmetic
        compacted_through=int(meta["id_hw"]),
        wave_base=1,
    )
    (gen_dir / "_meta.json").write_text(json.dumps(gen_meta, indent=1))
    ptmp = root / "._generation.json.tmp"
    ptmp.write_text(json.dumps({"dir": f"gen_{gen}", "generation": gen}))
    os.replace(ptmp, root / "_generation.json")

    # the retired generation's tombstones are now physically applied;
    # drop its pointer + versioned parquet so nothing can resurrect them
    clear_deletes(live)

    return {
        "generation": gen,
        "dir": str(gen_dir),
        "shard_size": new_size,
        "live_docs": live_docs,
        "dropped_docs": int(dels.size) if dels is not None else 0,
        "files_before": _count_parquet_files(live / "postings"),
        "files_after": _count_parquet_files(gen_dir / "postings"),
        "stage_elapsed_sec": timer.stages,
    }
