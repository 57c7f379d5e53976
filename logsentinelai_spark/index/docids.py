"""Deterministic doc_int_id assignment — SURVEY.md §4.3 item 6.

Contract: ``doc_id = rank of url in the globally url-sorted snapshot``,
stable across cluster sizes and partition counts (rank-identity killer
if wrong; `monotonically_increasing_id` is explicitly NOT acceptable).

Scalable assignment in ONE Spark job (plus the range sampler Spark runs
internally) — no count() job, no cache():
  1. range-partition + sort pages' urls; pure JVM expressions stamp
     each row with (pid = sort partition via spark_partition_id,
     local_idx = row index within the partition via the low 33 bits of
     monotonically_increasing_id) — order-preserving; write parquet.
  2. the driver reads the parquet FOOTERS (row counts + url min/max +
     pid stats per file; metadata only, no data scan) -> per-pid
     exclusive prefix offsets and per-file url bounds, persisted to
     ``_doc_map_meta.json``.
  3. ``doc_id = offset[pid] + local_idx`` is assembled lazily as a pure
     JVM-side expression (a lookup in a literal pid -> offset map: no
     join, no broadcast job) over a scan with the declared
     ``DOC_MAP_SCHEMA`` (no schema-inference job) whenever (url, doc_id)
     is needed. Robust to Spark splitting or packing the files
     arbitrarily, since every row is self-identifying.

The result is independent of the (sampled) range boundaries because
rank(url) = rows in lower partitions + index within partition, whatever
the split. Footer url bounds also give each build wave its url range
for predicate-pruned pages scans — again without a Spark job.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

META_NAME = "_doc_map_meta.json"
# the columns write_doc_map stamps (read back without schema inference)
DOC_MAP_SCHEMA = "url string, pid int, local_idx long"


def write_doc_map(pages_df: DataFrame, doc_map_dir: str, partitions: int | None = None) -> dict:
    """One sort+stamp+write job + a driver footer pass. Returns the meta
    dict (also persisted inside ``doc_map_dir``)."""
    sess = pages_df.sparkSession
    nparts = partitions or sess.sparkContext.defaultParallelism
    ranged = (
        pages_df.select("url")
        .repartitionByRange(nparts, F.col("url"))
        .sortWithinPartitions("url")
    )
    # (pid, local_idx) stamped as pure JVM expressions — no Python
    # workers or Arrow IPC in stage 0. monotonically_increasing_id() is
    # (partition_id << 33) + row-index-within-partition, so the low 33
    # bits are exactly the post-sort local index (rows per partition
    # must stay < 2^33 — 8.5e9, far above any shard sizing).
    stamped = ranged.select(
        F.col("url").cast("string").alias("url"),
        F.spark_partition_id().alias("pid"),
        (F.monotonically_increasing_id() % F.lit(1 << 33)).alias("local_idx"),
    )
    stamped.write.mode("overwrite").parquet(doc_map_dir)

    files = []
    for name in sorted(os.listdir(doc_map_dir)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(Path(doc_map_dir) / name).metadata
        if md.num_rows == 0:
            continue
        url_lo = url_hi = None
        pid = None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                leaf = col.path_in_schema
                if leaf == "url":
                    url_lo = st.min if url_lo is None else min(url_lo, st.min)
                    url_hi = st.max if url_hi is None else max(url_hi, st.max)
                elif leaf == "pid":
                    pid = int(st.min)
        files.append({"name": name, "rows": md.num_rows, "pid": pid,
                      "min_url": url_lo, "max_url": url_hi})

    pid_rows: dict[int, int] = {}
    for f in files:
        pid_rows[f["pid"]] = pid_rows.get(f["pid"], 0) + f["rows"]
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(pid_rows):
        offsets[pid] = acc
        acc += pid_rows[pid]
    # per-file doc_id start (files of one pid sort after each other by
    # name, matching write order) — used for wave -> file/url pruning
    seen_in_pid: dict[int, int] = {}
    for f in files:
        f["doc_start"] = offsets[f["pid"]] + seen_in_pid.get(f["pid"], 0)
        seen_in_pid[f["pid"]] = seen_in_pid.get(f["pid"], 0) + f["rows"]
    meta = {"n_docs": acc, "offsets": {str(k): v for k, v in offsets.items()}, "files": files}
    (Path(doc_map_dir) / META_NAME).write_text(json.dumps(meta, indent=1))
    return meta


def read_doc_map_meta(doc_map_dir: str) -> dict:
    return json.loads((Path(doc_map_dir) / META_NAME).read_text())


def doc_map_df(
    spark: SparkSession,
    doc_map_dir: str,
    meta: dict | None = None,
    doc_lo: int | None = None,
    doc_hi: int | None = None,
    id_base: int = 0,
) -> DataFrame:
    """Lazy (url, doc_id) DataFrame; optionally restricted to the files
    overlapping GLOBAL doc id range [doc_lo, doc_hi) — file-level
    pruning done driver-side from the footer meta. ``id_base`` shifts
    this map's local ranks into the global id space (incremental
    epochs start above the previous high-water mark, shard-aligned).
    Pure JVM expression, no UDF."""
    meta = meta or read_doc_map_meta(doc_map_dir)
    files = meta["files"]
    hi = (doc_hi - id_base) if doc_hi is not None else meta["n_docs"]
    lo = (doc_lo - id_base) if doc_lo is not None else None
    if lo is not None:
        files = [f for f in files if f["doc_start"] < hi and f["doc_start"] + f["rows"] > lo]
    if not files:
        return spark.createDataFrame([], "url string, doc_id long")
    paths = [str(Path(doc_map_dir) / f["name"]) for f in files]
    offsets = F.create_map(*[
        c for p, o in meta["offsets"].items()
        for c in (F.lit(int(p)), F.lit(int(o) + id_base).cast("long"))])
    out = spark.read.schema(DOC_MAP_SCHEMA).parquet(*paths).select(
        "url", (F.element_at(offsets, F.col("pid")) + F.col("local_idx")).alias("doc_id"))
    if lo is not None:
        out = out.filter((F.col("doc_id") >= lo + id_base) & (F.col("doc_id") < hi + id_base))
    return out


def wave_url_bounds(meta: dict, doc_lo: int, doc_hi: int, id_base: int = 0) -> tuple[str | None, str | None]:
    """url range covering GLOBAL doc ids [doc_lo, doc_hi), from footer
    stats — enables predicate-pruned pages scans without a Spark job."""
    lo = hi = None
    doc_lo, doc_hi = doc_lo - id_base, doc_hi - id_base
    for f in meta["files"]:
        if f["doc_start"] < doc_hi and f["doc_start"] + f["rows"] > doc_lo:
            if f["min_url"] is not None:
                lo = f["min_url"] if lo is None else min(lo, f["min_url"])
            if f["max_url"] is not None:
                hi = f["max_url"] if hi is None else max(hi, f["max_url"])
    return lo, hi

