"""Document tombstones — ES/Lucene-style deletes served at query time.

Elasticsearch deletes a document by writing a tombstone that query-time
scoring honors; the segment bytes are untouched until a merge physically
drops them (the reference operates ES 9.x exactly this way —
``docker/docker-compose.yml`` + INSTALL-and-USAGE.md index lifecycle).
This module is that mechanism for our index:

  * :func:`delete_docs` records doc ids as a sorted tombstone set under
    ``<index>/deletes/v=K/`` and flips ``_deletes.json`` LAST (the same
    write-data-then-flip-pointer discipline as ann.extend_ann's
    ``committed_epoch``), so a crash mid-delete leaves the previous
    version served, never a torn one.
  * Readers (:meth:`reader.IndexReader.deletes`) load the pointed
    version once per reader; every scorer masks deleted docs after
    decode (one sorted-membership probe per shard — the same trick as
    the bool query's must_not exclusion, query.py::_score_shard_bool).
  * Stats stay Lucene-faithful: N / avgdl / df keep counting deleted
    docs until :func:`compact.compact_index` physically drops them —
    exactly how Lucene scores against an index with deletes pending
    merge.

Scale shape: the tombstone set rides into every scoring task (it is
part of the query-serving state, like the query terms themselves), so
it must stay memory-bounded. That is not a limitation of this design
but of the mechanism itself — Lucene keeps live-docs bitmaps resident
per segment for the same reason. When deletes accumulate past
``MAX_TOMBSTONES``, delete_docs refuses and tells the caller to
compact, which resets the set to empty.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np

from .lineage import resolve_index_dir

# refusal threshold: ~80 MB of int64 ids in every task closure. Lucene
# triggers merges long before a comparable fraction of an index is
# tombstoned; so should callers of this engine.
MAX_TOMBSTONES = 10_000_000

_POINTER = "_deletes.json"


def _read_pointer(index_dir: str | Path) -> dict | None:
    p = Path(index_dir) / _POINTER
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text())
    except json.JSONDecodeError:
        return None  # torn write = previous version had no pointer yet


def read_deletes(index_dir: str | Path) -> np.ndarray:
    """The committed tombstone set: sorted unique int64 doc ids
    (empty array when none). Reads only the version the pointer
    commits to — uncommitted ``v=K`` dirs are invisible. The path
    resolves through the generation pointer, so callers may pass the
    index root even after a compaction."""
    index_dir = resolve_index_dir(str(index_dir))
    ptr = _read_pointer(index_dir)
    if not ptr:
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    d = Path(index_dir) / "deletes" / f"v={ptr['version']}"
    t = pq.read_table(str(d), columns=["doc_id"])
    return np.unique(t.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64))


def delete_docs(index_dir: str | Path, doc_ids) -> dict:
    """Tombstone ``doc_ids`` (an iterable of ints, or a Spark DataFrame
    with a ``doc_id`` column — e.g. the drop list a dedup query
    produces). Unions with the committed set, writes the new version's
    parquet, then flips the pointer. Returns a summary dict.

    The DataFrame collect is bounded by the same MAX_TOMBSTONES
    contract that bounds the tombstone set itself (see module
    docstring) — a drop list too large to collect is a drop list too
    large to serve, and the answer to both is compact_index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # tombstones belong to the LIVE generation: resolve the pointer so
    # a root-path delete after a compaction is seen by readers (which
    # resolve the same way) instead of landing in a dead directory
    index_dir = resolve_index_dir(str(index_dir))

    if hasattr(doc_ids, "select"):  # Spark DataFrame duck-type
        ids = doc_ids.select("doc_id").limit(MAX_TOMBSTONES + 1).toArrow()
        if ids.num_rows > MAX_TOMBSTONES:
            # detect truncation at the collect itself: a drop list
            # bigger than the cap may dedup/overlap its way UNDER the
            # cap after the union, silently leaving the uncollected
            # tail live — refuse before that can happen
            raise ValueError(
                f"drop list exceeds MAX_TOMBSTONES={MAX_TOMBSTONES}; "
                "run compact_index first, then retry the delete")
        new = ids.column("doc_id").to_numpy().astype(np.int64)
    else:
        new = np.fromiter((int(d) for d in doc_ids), dtype=np.int64)
    cur = read_deletes(index_dir)
    merged = np.unique(np.concatenate([cur, new])) if new.size else cur
    if merged.size > MAX_TOMBSTONES:
        raise ValueError(
            f"{merged.size} tombstones exceeds MAX_TOMBSTONES="
            f"{MAX_TOMBSTONES}; run compact_index to drop them physically")
    ptr = _read_pointer(index_dir)
    version = (ptr["version"] + 1) if ptr else 1
    d = Path(index_dir) / "deletes" / f"v={version}"
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / ".part-0.parquet.tmp"
    pq.write_table(pa.table({"doc_id": pa.array(merged, type=pa.int64())}),
                   str(tmp))
    os.replace(tmp, d / "part-0.parquet")
    ptmp = Path(index_dir) / f".{_POINTER}.tmp"
    ptmp.write_text(json.dumps(
        {"version": version, "n_deleted": int(merged.size)}))
    os.replace(ptmp, Path(index_dir) / _POINTER)
    return {"version": version, "n_deleted": int(merged.size),
            "newly_deleted": int(merged.size - cur.size)}


def clear_deletes(index_dir: str | Path) -> None:
    """Reset the tombstone set: unlink the pointer AND drop the
    versioned parquet dirs. compact_index calls this on the OLD live
    directory after the generation pointer flips — the new generation
    starts clean by construction (no ``_deletes.json`` is ever written
    there), and the old generation's stale pointer + parquet must not
    linger where a future refactor that copies pointers between
    generations could resurrect them. ``index_dir`` is taken verbatim
    (NOT pointer-resolved): the caller targets the retired dir, which
    resolution would skip past."""
    p = Path(index_dir) / _POINTER
    if p.exists():
        p.unlink()
    import shutil

    d = Path(index_dir) / "deletes"
    if d.exists():
        shutil.rmtree(d, ignore_errors=True)


def shard_slice(dels: np.ndarray | None, base: int, shard_size: int):
    """The tombstones falling inside one shard's global id range, or
    None when the shard has none — scorers mask against this slice so
    per-shard probe cost tracks the shard's own tombstones, not the
    index's."""
    if dels is None or len(dels) == 0:
        return None
    lo, hi = np.searchsorted(dels, [base, base + shard_size])
    return dels[lo:hi] if hi > lo else None
