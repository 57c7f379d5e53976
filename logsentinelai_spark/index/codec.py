"""Posting-list physical format: docID-gap compression, 128-posting
blocks with block-max annotations. Pure numpy, fully vectorized (no
per-element Python loops — the only loops are over the ≤10 byte
positions of a varbyte group), so it runs hot inside applyInPandas
build/query UDFs.

One segment codec: LEB128-style LSB-first continuation-bit varbyte
(Scholer et al. SIGIR'02 / Anh-Moffat). It is self-delimiting, so a
term's concatenated block blobs decode in ONE vectorized pass.
``_meta.json`` records it as the format (``CODEC``;
build.config_from_meta refuses any other). Block-max annotations:
Ding & Suel SIGIR'11 "Faster top-k document retrieval using block-max
indexes".

Block row layout (one row per (term, block)) — written to parquet:
  term, block_id, n, first_doc, last_doc, max_tf, min_dl,
  gaps_vb, tfs_vb, dls_vb

``gaps_vb`` encodes [first_doc - base, then successive deltas] so
decode = base + cumsum. The block-max annotation is (max_tf, min_dl):
BM25's per-posting contribution tf/(tf + k1*(1-b+b*dl/avgdl)) is
increasing in tf and decreasing in dl, so
``idf * max_tf/(max_tf + k1*(1-b+b*min_dl/avgdl))`` is a valid block
upper bound computed AT QUERY TIME with the final (N, avgdl, df).
Storing raw (max_tf, min_dl) instead of a precomputed score keeps the
build single-pass and incremental: new waves shift avgdl without
invalidating previously written blocks, and salted partial runs never
need global stats.
"""

from __future__ import annotations

import numpy as np

from .bm25 import B, K1

BLOCK_SIZE = 128
CODEC = "varbyte"  # the one segment format, recorded in _meta.json


def block_upper_bound(max_tf, min_dl, idf_t: float, avgdl: float):
    """Query-time block (or term) score upper bound; accepts scalars or
    numpy arrays."""
    mt = np.asarray(max_tf, dtype=np.float64)
    return idf_t * mt / (mt + K1 * (1 - B + B * np.asarray(min_dl, dtype=np.float64) / avgdl))

_THRESH = [1 << (7 * i) for i in range(1, 10)]


def vb_encode_with_lens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode of a uint64 array. Returns
    (byte buffer, per-value byte lengths) so callers can slice the
    buffer at arbitrary value boundaries without re-encoding."""
    x = np.asarray(values, dtype=np.uint64)
    if x.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    lens = np.ones(x.size, dtype=np.int64)
    for t in _THRESH:
        lens += (x >= np.uint64(t)).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    buf = np.zeros(int(lens.sum()), dtype=np.uint8)
    maxlen = int(lens.max())
    for i in range(maxlen):
        sel = lens > i
        b = (x[sel] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = np.where(lens[sel] > i + 1, 0x80, 0).astype(np.uint8)
        buf[offsets[sel] + i] = b.astype(np.uint8) | cont
    return buf, lens


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    buf, _ = vb_encode_with_lens(values)
    return buf.tobytes()


def vb_decode(data: bytes | np.ndarray) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray, memoryview)) else np.asarray(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 128)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lens.max())):
        sel = lens > i
        vals[sel] |= (b[starts[sel] + i].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * i)
    return vals


def decode_stream(blobs) -> np.ndarray:
    """Decode a sequence of block blobs (one term's blocks, in block
    order) -> concatenated uint64 values: varbyte blobs are
    self-delimiting, so the whole stream decodes as one buffer."""
    return vb_decode(b"".join(blobs))


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    base: int,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Split one term's doc-sorted postings into block rows (dicts):
    :func:`encode_blocks_grouped` over a single group.

    doc_ids must be strictly increasing (globally merged run);
    base = shard_base doc id (doc ids are absolute, gaps relative to base).
    """
    enc = encode_blocks_grouped(
        np.asarray(doc_ids, dtype=np.int64), np.asarray(tfs, dtype=np.int64),
        np.asarray(dls, dtype=np.int64), np.zeros(1, dtype=np.int64),
        np.array([base], dtype=np.int64), block_size)
    cols = ("block_id", "n", "first_doc", "last_doc", "max_tf", "min_dl")
    blobs = ("gaps_vb", "tfs_vb", "dls_vb")
    return [
        {**{c: int(enc[c][i]) for c in cols},
         **{c: enc[c][i].as_py() for c in blobs}}
        for i in range(enc["gid"].size)
    ]


def encode_blocks_grouped(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    bases: np.ndarray,
    block_size: int = BLOCK_SIZE,
):
    """Encode posting blocks for MANY term groups in one vectorized pass.

    This is the hot path of the index build: a 10k-page Arrow batch
    yields ~10^5 (shard, term) groups, and calling :func:`encode_blocks`
    per group costs more in numpy call overhead than in work. Here the
    three varbyte streams are encoded over the WHOLE batch once, and the
    per-block binary cells are zero-copy slices of that single buffer
    (pyarrow BinaryArray built from offsets into it).

    Args:
      docs/tfs/dls: concatenated postings, doc-sorted within each group
        (groups contiguous, in group order).
      group_starts: int64 start index of each group (no end sentinel).
      bases: per-group shard base doc id (gap 0 is relative to it).

    Returns dict with per-block columns:
      gid (group index), block_id, n, first_doc, last_doc, max_tf,
      min_dl, and pyarrow BinaryArrays gaps_vb / tfs_vb / dls_vb;
      plus per-group ``group_sum_tf``.
    """
    import pyarrow as pa

    n = docs.size
    if n == 0:
        empty_b = pa.array([], type=pa.binary())
        z = np.empty(0, dtype=np.int64)
        return {
            "gid": z, "block_id": z, "n": z, "first_doc": z, "last_doc": z,
            "max_tf": z, "min_dl": z, "gaps_vb": empty_b, "tfs_vb": empty_b,
            "dls_vb": empty_b, "group_sum_tf": z,
        }
    group_starts = np.asarray(group_starts, dtype=np.int64)
    sizes = np.diff(np.append(group_starts, n))
    ngroups = group_starts.size
    pos = np.arange(n, dtype=np.int64) - np.repeat(group_starts, sizes)

    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = docs[1:] - docs[:-1]
    gaps[group_starts] = docs[group_starts] - np.asarray(bases, dtype=np.int64)

    block_starts = np.flatnonzero(pos % block_size == 0)
    boundaries = np.append(block_starts, n)
    block_ends = boundaries[1:]
    gid = np.repeat(np.arange(ngroups, dtype=np.int64), sizes)[block_starts]

    bufs = {}
    for name, arr in (("gaps_vb", gaps), ("tfs_vb", tfs), ("dls_vb", dls)):
        buf, lens = vb_encode_with_lens(arr.astype(np.uint64))
        cum = np.concatenate(([0], np.cumsum(lens)))
        # BinaryArray offsets are int32: a merge group whose encoded
        # stream exceeds 2 GiB would silently wrap and corrupt postings
        # (config-dependent: huge shard_size x tiny n_buckets). Fail loud.
        if cum[-1] >= 2**31:
            raise ValueError(
                f"encoded {name} stream is {int(cum[-1])} bytes >= 2 GiB; "
                "increase n_buckets (or lower shard_size) so each "
                "(shard, term_bucket) merge group stays under the int32 "
                "BinaryArray offset limit"
            )
        offsets = cum[boundaries]  # byte offset of each block boundary
        bufs[name] = pa.BinaryArray.from_buffers(
            pa.binary(), block_starts.size,
            [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
        )
    return {
        "gid": gid,
        "block_id": pos[block_starts] // block_size,
        "n": block_ends - block_starts,
        "first_doc": docs[block_starts],
        "last_doc": docs[block_ends - 1],
        "max_tf": np.maximum.reduceat(tfs, block_starts),
        "min_dl": np.minimum.reduceat(dls, block_starts),
        "group_sum_tf": np.add.reduceat(tfs, group_starts),
        **bufs,
    }


def decode_blocks(rows, base: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_blocks over an iterable of block rows (dicts or
    namedtuples with gaps_vb/tfs_vb/dls_vb, ordered by block_id).
    Returns (doc_ids, tfs, dls). Blocks chain: block b's first gap is
    relative to block b-1's last doc (or base for block 0)."""
    rows = list(rows)
    gaps = decode_stream([_field(r, "gaps_vb") for r in rows]).astype(np.int64)
    return (
        np.cumsum(gaps) + base,
        decode_stream([_field(r, "tfs_vb") for r in rows]).astype(np.int64),
        decode_stream([_field(r, "dls_vb") for r in rows]).astype(np.int64),
    )


def decode_single_block(r) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ONE block independently (for WAND block skipping): uses the
    stored absolute first_doc instead of the gap chain."""
    g = vb_decode(_field(r, "gaps_vb")).astype(np.int64)
    d = np.cumsum(g) - g[0] + int(_field(r, "first_doc"))
    return (
        d,
        vb_decode(_field(r, "tfs_vb")).astype(np.int64),
        vb_decode(_field(r, "dls_vb")).astype(np.int64),
    )


def _field(r, name):
    if isinstance(r, dict):
        return r[name]
    return getattr(r, name)


# --------------------------------------------------------- positions (phrase)

# Positional postings (Lucene .prx-style, public format family): for
# each posting (doc, term) the token positions of the term in the doc,
# delta-coded PER POSTING (first value absolute, then gaps — entries
# are self-contained, so doc-disjoint runs merge by pure slice
# reordering, no chain re-basing). Varbyte, like the posting streams.


def encode_pos_blocks(pa, deltas: np.ndarray, entry_sizes: np.ndarray,
                      block_ns: np.ndarray):
    """One varbyte blob per block row over the ordered per-entry
    position-delta stream. ``entry_sizes`` are the value counts of the
    ordered entries (= tf per posting); block b owns the contiguous
    entry slice [cum(block_ns)[b], cum(block_ns)[b+1]) — exactly how
    encode_blocks_grouped tiles ordered postings into blocks. Returns
    a zero-copy pyarrow BinaryArray."""
    buf, lens = vb_encode_with_lens(np.asarray(deltas, dtype=np.uint64))
    val_cum = np.concatenate(([0], np.cumsum(entry_sizes)))
    ent_bnd = np.concatenate(([0], np.cumsum(block_ns)))
    byte_cum = np.concatenate(([0], np.cumsum(lens)))
    offsets = byte_cum[val_cum[ent_bnd]]
    if offsets.size and offsets[-1] >= 2**31:
        raise ValueError(
            "encoded position stream >= 2 GiB in one group; raise "
            "n_buckets (same bound as the posting streams)")
    return pa.BinaryArray.from_buffers(
        pa.binary(), int(block_ns.size),
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()),
         pa.py_buffer(buf.tobytes())],
    )


def decode_positions(blobs, tfs: np.ndarray) -> np.ndarray:
    """Decode concatenated pos_vb blobs (block rows in block order)
    back to ABSOLUTE positions, aligned with the posting value stream:
    posting k owns tfs[k] consecutive values. Vectorized segmented
    cumsum (no per-posting loop)."""
    deltas = vb_decode(b"".join(blobs)).astype(np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.cumsum(tfs) - tfs
    prefix = np.concatenate(([0], np.cumsum(deltas)))
    return np.cumsum(deltas) - np.repeat(prefix[starts], tfs)


def gather_entry_slices(values: np.ndarray, entry_starts: np.ndarray,
                        entry_sizes: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Concatenate per-entry slices of ``values`` in ``order`` order —
    the position-stream companion of a posting reorder (one gather, no
    Python loop)."""
    sel_starts = entry_starts[order]
    sel_sizes = entry_sizes[order]
    total = int(sel_sizes.sum())
    out_off = np.cumsum(sel_sizes) - sel_sizes
    idx = np.repeat(sel_starts - out_off, sel_sizes) + np.arange(total, dtype=np.int64)
    return values[idx]
