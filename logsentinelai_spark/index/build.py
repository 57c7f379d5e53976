"""Distributed inverted-index build — SURVEY.md §7 steps 4-6.

Spark-first architecture (design notes for the 100 TB case inline):

  stage 0  doc_map: deterministic doc_int_id = rank(url) (docids.py),
           written once; resume reuses it (rank-identity requires ids
           never be re-derived).
  waves    the snapshot is processed in waves of ``wave_shards``
           doc-shards (shard = contiguous doc_id range of shard_size
           docs = contiguous url range, since ids are url ranks). A
           wave is the unit of checkpoint/resume; per-wave manifests
           gate visibility (lineage.py). Each wave:

    stage 1  PARTIAL RUNS (one fused Arrow pass): html -> text ->
             tokens -> per-doc tf -> per-(shard, term_bucket) varbyte
             block runs, all inside mapInPandas. Term frequency is
             intra-document, so no shuffle computes it; doc length is
             denormalized into the runs so the posting build never
             joins doc_stats (at 10^12 docs that join would shuffle
             the whole corpus). Each Arrow batch emits doc-sorted
             compressed runs keyed by a unique run id ("salt" = source
             partition/batch) — the map-side combine of the classic
             partial+final aggregation, except the partials are
             already in final (compressed block) form. Output spills
             to stage1/wave=N parquet (~10x smaller than raw posting
             rows), which is also the intra-wave resume point.

    stage 2  SALTED MERGE: the ONLY wide shuffle in the build, and it
             moves compressed blocks, not postings. groupBy(shard,
             term_bucket) k-way-merges each term's doc-disjoint salted
             runs into globally doc-sorted, block-max-annotated
             segments in one vectorized pass per group (_merge_group,
             which compaction reuses).
             Hot-term skew is defeated structurally: a hot term
             ("the" ≈ 6% of postings under Zipf) arrives as many
             small runs salted by source partition, and the merge
             group's size is bounded by compressed bytes of one
             (shard, 1/n_buckets vocabulary slice) — ~100x smaller
             than its raw postings.

    commit   per-(shard, term_bucket) postings/bytes/blocks metrics
             (the direct merge job's result, or a driver-side pyarrow
             read of the committed segments' in-band metrics rows);
             (n_docs, sum_dl) from a driver-side pyarrow read of the
             kind=2 batch-lineage rows; both land in the wave manifest
             (lineage.py). After commit the kind=1 run partitions are
             deleted; the kind=0 doc rows (doc_id, url, dl) REMAIN —
             they ARE the doc_stats table, shard-partitioned, written
             as a by-product of stage 1 (no separate write job).

The wave's url->id map never passes through the driver: a narrow
parallel job writes it as a hashed parquet artifact and stage-1
workers resolve doc_ids executor-side via searchsorted
(write_wave_idmap / _resolve_doc_ids) — replacing a per-wave broadcast
whose collect+build is serial driver time growing with wave size.

Deliberately ABSENT (driver-latency design — a 1000-executor cluster
amortizes task time, but per-JOB driver latency is serial and identical
at every cluster size, so a build runs only the jobs that move data:
stage 0's range sample, sort and write (3 jobs), then per wave the
id-map write (1), the stage-1 write (1) and the merge's map and reduce
sides (2). Every read is planned against a declared schema (no
schema-inference job), the wave's pid offsets are a literal map in the
id-map expression (no broadcast job), and wave totals and committed
merge metrics are driver-side pyarrow reads of files the driver can
already see (no aggregate job)):
  * no term_stats table — global df(t) = Σ block n over t's block
    rows, computed from the SAME pruned block scan every query already
    performs for scoring;
  * no global_stats table — N and avgdl are manifest sums (driver
    arithmetic at read time);
  * no doc_stats write — see commit above.

Final N/avgdl/df are applied at query time (see codec.py on why
blocks never bake avgdl in). Bucket hash is md5-based so the Python
query driver and JVM SQL compute identical buckets without a Spark
round-trip.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import asdict, dataclass, fields, replace
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.extract import extract_arrow
from ..functions.tokenizer import arrow_sep_pattern, tokens_arrow
from .codec import (
    CODEC, encode_blocks_grouped, encode_pos_blocks, gather_entry_slices, vb_decode,
)
from .docids import (
    DOC_MAP_SCHEMA, doc_map_df, read_doc_map_meta, wave_url_bounds, write_doc_map,
)
from .lineage import StageTimer, commit_wave, committed_waves, resolve_index_dir


@dataclass
class IndexConfig:
    shard_size: int = 1_000_000      # docs per shard (tests use ~512)
    n_buckets: int = 16              # term buckets per shard; at web-scale
                                     # vocab use 64 — see _merge_runs_fn
                                     # sizing note (bounds merge-task memory)
    block_size: int = 128            # postings per block
    wave_shards: int = 16            # shards per wave (checkpoint unit; also
                                     # bounds the per-worker id-map at ~20 B/doc)
    use_text_col: bool = False       # skip HTML extraction (pre-extracted corpus)
    positions: bool = True           # store per-posting token positions
                                     # (pos_vb, Lucene .prx-style) for
                                     # phrase queries; delta-varbyte per
                                     # posting, ~1 byte/token occurrence.
                                     # False = nulls (no phrase support).
    stopwords: tuple = ()            # analyzer chain (OFF by default —
                                     # default token stream byte-identical
                                     # to an unanalyzed build): terms
                                     # removed before tf/dl/positions
    stemmer: str | None = None       # None | "s" (minimal S-stemmer,
                                     # functions/analyzer.py); applied to
                                     # the kept stream, mirrored at query
                                     # analysis via IndexReader.analyze_terms
    executor_shared_fs: bool = False  # set True only when executors mount the
                                      # SAME POSIX fs as the driver (NFS/Lustre);
                                      # see _assert_segment_fs
    segment_transport: str = "auto"  # how executor-produced artifacts (posting
                                     # segments, wave id-map) reach storage:
                                     #  "direct"    direct POSIX writes from
                                     #              tasks (fast path; requires
                                     #              a driver-shared filesystem)
                                     #  "committed" rows returned to Spark and
                                     #              written via the DataFrame
                                     #              writer -> Hadoop task-commit
                                     #              protocol. Scope: this makes
                                     #              the WRITES atomic without a
                                     #              driver-shared fs (correct on
                                     #              object stores); executor
                                     #              id-map READS (_load_idmap)
                                     #              and driver read-back (merge
                                     #              metrics, wave totals)
                                     #              still use POSIX paths, so
                                     #              full object-store operation
                                     #              additionally needs a
                                     #              URI-aware read layer (or a
                                     #              FUSE mount)
                                     #  "auto"      direct in local mode or
                                     #              with executor_shared_fs,
                                     #              else committed

    @property
    def wave_docs(self) -> int:
        return self.shard_size * self.wave_shards


# fields the committed waves pin: a resume must build with the same
# values (segment_transport / executor_shared_fs are deployment, not
# layout, and stay the caller's)
_LAYOUT_FIELDS = ("shard_size", "n_buckets", "block_size", "wave_shards",
                  "use_text_col", "positions", "stopwords", "stemmer")


def config_from_meta(meta: dict) -> IndexConfig:
    """The IndexConfig an index's ``_meta.json`` records — the one
    reader of the format record (IndexReader, build resume,
    extend_index and compact_index). Keys a legacy meta lacks take
    their legacy values (no positions; IndexConfig defaults
    otherwise). A segment codec other than varbyte is refused: this
    engine decodes no other, and a misdecoded index would serve
    wrong answers silently."""
    codec = meta.get("codec", CODEC)
    if codec != CODEC:
        raise ValueError(
            f"index segment codec {codec!r} is not supported (this engine "
            f"reads {CODEC!r} only); rebuild the index")
    kw = {f.name: meta[f.name] for f in fields(IndexConfig) if f.name in meta}
    kw.setdefault("positions", False)
    kw["stopwords"] = tuple(kw.get("stopwords") or ())
    return IndexConfig(**kw)


# stage1 union-typed output: kind 0 = doc row (url, dl), kind 1 = run block row
STAGE1_SCHEMA = (
    "kind int, doc_id long, url string, dl long, "
    "shard long, term_bucket int, salt long, term string, block_id int, n int, "
    "first_doc long, last_doc long, max_tf long, min_dl long, sum_tf long, "
    "gaps_vb binary, tfs_vb binary, dls_vb binary, pos_vb binary"
)
MERGE_METRICS_SCHEMA = (
    "shard long, term_bucket int, n_terms long, n_blocks long, postings long, "
    "bytes long, elapsed_ms long"
)


def _ddl_columns(ddl: str) -> dict[str, str]:
    """name -> type of a flat ``"name type, ..."`` schema string."""
    return dict(c.split(" ", 1) for c in ddl.split(", "))


# the doc rows (kind=0) of every store: stage 1 writes them with all
# STAGE1_SCHEMA columns but kind, compaction with these four
DOC_ROWS_SCHEMA = ", ".join(
    f"{c} {_ddl_columns(STAGE1_SCHEMA)[c]}" for c in ("doc_id", "url", "dl", "shard"))

# committed-transport merge output: the segment block rows themselves
# (grouping keys included for the partitionBy write) plus ONE in-band
# metrics row per (shard, term_bucket) group, marked block_id = -1 with
# the metrics packed into existing columns:
#   n -> n_terms, first_doc -> postings, last_doc -> bytes,
#   max_tf -> elapsed_ms, min_dl -> n_blocks, sum_tf = -1, term = NULL.
# Query readers never see these rows: the `term IN (...)` predicate
# of every term-pruned pyarrow read (postings_blocks_local,
# term_dfs_local and the Spark serving tasks) excludes NULL terms.
# Unpruned scans (postings_blocks_all, the term dictionary build,
# compaction) filter block_id >= 0 themselves.
SEGMENT_ROWS_SCHEMA = (
    "shard long, term_bucket int, term string, block_id int, n int, "
    "first_doc long, last_doc long, max_tf long, min_dl long, sum_tf long, "
    "gaps_vb binary, tfs_vb binary, dls_vb binary, pos_vb binary"
)


def term_bucket_py(term: str, n_buckets: int) -> int:
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_col(col, n_buckets: int):
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets).cast("int")


def _bucket_np(terms: np.ndarray, n_buckets: int) -> np.ndarray:
    return np.fromiter(
        (term_bucket_py(t, n_buckets) for t in terms), dtype=np.int32, count=len(terms)
    )


# --------------------------------------------------------------------- stage 1

# Worker-resident wave id-map (url-hash -> doc_id): the idmap job
# writes per-task h-SORTED UNCOMPRESSED Arrow IPC files, and every
# Python worker MEMORY-MAPS them — the arrays live in the OS page
# cache once per host, shared by all workers, so per-worker load cost
# and private memory are ~zero at any wave size (vs. ~20 B/doc/worker
# if each worker copied and re-sorted the map). The cache below holds
# the mmap'd views; workers process one wave at a time.
_IDMAP_CACHE: dict = {}

# positional packing bound shared with index/query.py (span_near packs
# (doc << 32) | pos into one int64); enforced at encode time in stage 1
_POS_LIMIT = 1 << 32


def _check_pos_limit(max_dl: int) -> None:
    """Raise if a document's token count breaks the positional packing
    invariant (pytest-pinned; see the span_near docstring note)."""
    if max_dl >= _POS_LIMIT:
        raise ValueError(
            f"document with {max_dl} tokens exceeds the positional "
            f"packing limit 2^32 (index/query.py span_near _POS_SHIFT)")


def _load_idmap(idmap_dir: str):
    import pyarrow as pa

    cached = _IDMAP_CACHE.get(idmap_dir)
    if cached is not None:
        return cached
    files = []
    for name in sorted(Path(idmap_dir).glob("part-*.arrow")):
        mm = pa.memory_map(str(name))
        tbl = pa.ipc.open_file(mm).read_all()
        if tbl.num_rows == 0:
            continue
        h = tbl["h"].to_numpy()          # zero-copy view onto the mmap
        h2 = tbl["h2"].to_numpy()
        ids = tbl["doc_id"].to_numpy()
        files.append((h, h2, ids, tbl["url"]))
    if not files:
        # committed-transport idmap: h-sorted-within-file parquet written
        # through Spark's committer (see write_wave_idmap). Decoding
        # copies the arrays per worker (~20 B/doc) instead of sharing
        # the OS page cache — the price of object-store portability; the
        # Arrow-IPC mmap layout above remains the shared-fs fast path.
        import pyarrow.parquet as pq

        for name in sorted(Path(idmap_dir).glob("part-*.parquet")):
            tbl = pq.read_table(name, memory_map=True).combine_chunks()
            if tbl.num_rows == 0:
                continue
            files.append((
                tbl["h"].to_numpy(zero_copy_only=False),
                tbl["h2"].to_numpy(zero_copy_only=False),
                tbl["doc_id"].to_numpy(zero_copy_only=False),
                tbl["url"],
            ))
    if not files:
        # every wave covers >= 1 doc, so a correctly-delivered id-map has
        # at least one non-empty file. Zero files means the executor
        # cannot see the id-map directory (unmounted path, URI storage —
        # this read path is POSIX-only); silently returning an empty map
        # would drop EVERY row of the batch in _resolve_doc_ids and
        # commit an incomplete index with no error. Fail loudly instead.
        raise RuntimeError(
            f"wave id-map at {idmap_dir!r} resolved to zero non-empty "
            "files on this executor. The id-map READ path requires the "
            "directory to be POSIX-visible from every executor (local "
            "mode, or a shared NFS/Lustre/FUSE mount); the committed "
            "transport makes only the WRITES object-store-safe. "
            "Refusing to continue: an empty map would silently drop all "
            "rows and commit an incomplete index."
        )
    out = tuple(files)
    _IDMAP_CACHE.clear()
    _IDMAP_CACHE[idmap_dir] = out
    return out


def _resolve_doc_ids(rb, idmap_dir: str):
    """Map a batch's (url_h, url_h2, url) to doc_ids via the wave
    id-map: one searchsorted per sorted map file over memory-mapped
    hash arrays + vectorized url confirmation. Rows with no match
    (urls outside the wave's doc slice: boundary-file overflow, stale
    epoch urls) are dropped — the same filtering the former broadcast
    inner join did.

    EVERY hash match is confirmed by url equality (one Arrow take +
    equals per file over the matched subset), so the mapping is
    join-exact: a 96-bit (h64, h32) collision can never silently stamp
    a wrong doc_id. Rows whose run head fails confirmation, or whose
    h64 run is longer than 1, fall to an exact per-row url scan."""
    import pyarrow as pa
    import pyarrow.compute as pc

    files = _load_idmap(idmap_dir)
    bh = rb.column("url_h").to_numpy()
    bh2 = rb.column("url_h2").to_numpy()
    burls = rb.column("url")
    n = len(bh)
    doc_ids = np.full(n, -1, dtype=np.int64)
    n_match = np.zeros(n, dtype=np.int64)
    ambiguous = np.zeros(n, dtype=bool)
    for h, h2, ids, furls in files:
        lo = np.searchsorted(h, bh, side="left")
        hi = np.searchsorted(h, bh, side="right")
        lo_c = np.minimum(lo, len(h) - 1)
        cand = (lo < len(h)) & (h[lo_c] == bh) & (h2[lo_c] == bh2)
        confirmed = np.zeros(n, dtype=bool)
        if cand.any():
            ci = np.flatnonzero(cand)
            eq = pc.equal(
                furls.take(pa.array(lo_c[ci])), burls.take(pa.array(ci))
            ).to_numpy(zero_copy_only=False)
            confirmed[ci[eq]] = True
            # hash matched but url did not (a real h64+h32 collision
            # against an out-of-wave url): resolve exactly by url scan
            ambiguous |= cand & ~confirmed
        doc_ids = np.where(confirmed & (n_match == 0), ids[lo_c], doc_ids)
        n_match += confirmed
        # an h64 run longer than 1 inside a file needs url resolution
        ambiguous |= (hi - lo) > 1
    ok = n_match == 1
    ambiguous |= n_match > 1
    if ambiguous.any():
        urls = rb.column("url")
        for i in np.flatnonzero(ambiguous):
            u = urls[i].as_py()
            found = -1
            for h, h2, ids, furls in files:
                lo = int(np.searchsorted(h, bh[i], side="left"))
                hi = int(np.searchsorted(h, bh[i], side="right"))
                for j in range(lo, hi):
                    if furls[j].as_py() == u:
                        found = int(ids[j])
                        break
                if found >= 0:
                    break
            ok[i] = found >= 0
            doc_ids[i] = found
    return doc_ids, ok


IDMAP_SCHEMA = "n long"


def write_wave_idmap(dslice: DataFrame, idmap_dir: str, transport: str = "direct") -> None:
    """One narrow parallel job per wave: each task sorts ITS partition
    of (h=xxhash64(url), h2=murmur3(url), doc_id, url) by h and writes
    one file. No shuffle, no sampling, no driver collect — this
    replaces a driver-built broadcast whose collect+build is 10-30 s of
    SERIAL driver time per 16M-doc production wave. Files need not be
    h-disjoint: lookup probes each sorted file independently.

    transport="direct" writes uncompressed Arrow IPC files straight
    from tasks (mmap-ready, page-cache-shared across workers; see
    _load_idmap) — requires the executor-shared POSIX filesystem
    (_assert_segment_fs). transport="committed" routes the same
    h-sorted rows through Spark's parquet writer (task-commit protocol;
    works on object stores), uncompressed + per-file sorted so the
    lookup structure is identical."""
    import os

    sel = dslice.select(
        F.xxhash64("url").alias("h"),
        F.hash("url").alias("h2"),
        F.col("doc_id"),
        F.col("url"),
    )
    if transport == "committed":
        (
            sel.sortWithinPartitions("h")
            .write.mode("overwrite")
            .option("compression", "none")
            .parquet(idmap_dir)
        )
        return

    if os.path.isdir(idmap_dir):
        shutil.rmtree(idmap_dir)  # stale files from a crashed attempt
    os.makedirs(idmap_dir)

    def _write(batches):
        import uuid

        import pyarrow as pa

        rbs = [rb for rb in batches if rb.num_rows]
        n = 0
        if rbs:
            tbl = pa.Table.from_batches(rbs).combine_chunks()
            order = np.argsort(tbl["h"].to_numpy(), kind="stable")
            tbl = tbl.take(pa.array(order))
            n = tbl.num_rows
            pid = TaskContext.get().partitionId()
            tmp = f"{idmap_dir}/.part-{pid}.{uuid.uuid4().hex}.tmp"
            with pa.OSFile(tmp, "wb") as f:
                with pa.ipc.new_file(f, tbl.schema) as w:
                    w.write_table(tbl)
            os.replace(tmp, f"{idmap_dir}/part-{pid}.arrow")
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], type=pa.int64())], names=["n"])

    # the per-task n rows come back as they are: an aggregate over them
    # would plan a shuffle and cost two more jobs
    sel.mapInArrow(_write, schema=IDMAP_SCHEMA).collect()


def _stage1_arrow_schema():
    import pyarrow as pa

    return pa.schema([
        ("kind", pa.int32()), ("doc_id", pa.int64()), ("url", pa.string()),
        ("dl", pa.int64()), ("shard", pa.int64()), ("term_bucket", pa.int32()),
        ("salt", pa.int64()), ("term", pa.string()), ("block_id", pa.int32()),
        ("n", pa.int32()), ("first_doc", pa.int64()), ("last_doc", pa.int64()),
        ("max_tf", pa.int64()), ("min_dl", pa.int64()), ("sum_tf", pa.int64()),
        ("gaps_vb", pa.binary()), ("tfs_vb", pa.binary()), ("dls_vb", pa.binary()),
        ("pos_vb", pa.binary()),
    ])


def _lineage_row(pa, schema, const, pid, bi, n_docs, lens, n_blocks, n_groups, elapsed_ms):
    """kind=2: one per-batch lineage row (the engine's analog of the
    reference's per-chunk @-metrics, core/commons.py:214-237). Field
    reuse: salt=pid, block_id=batch, n=docs, first_doc=sum(dl),
    last_doc=elapsed_ms, max_tf=blocks, sum_tf=(shard,term) groups.
    The wave commit aggregates these instead of re-scanning doc rows."""
    return pa.RecordBatch.from_arrays(
        [
            const(2, np.int32, 1), const(-1, np.int64, 1),
            pa.array([f"pid={pid}/batch={bi}"], type=pa.string()),
            const(-1, np.int64, 1), const(-1, np.int64, 1),
            const(-1, np.int32, 1), const(pid, np.int64, 1),
            pa.nulls(1, pa.string()), const(bi, np.int32, 1),
            const(n_docs, np.int32, 1), const(int(lens.sum()), np.int64, 1),
            const(elapsed_ms, np.int64, 1), const(n_blocks, np.int64, 1),
            const(-1, np.int64, 1), const(n_groups, np.int64, 1),
            pa.nulls(1, pa.binary()), pa.nulls(1, pa.binary()),
            pa.nulls(1, pa.binary()), pa.nulls(1, pa.binary()),
        ],
        schema=schema,
    )


def stage1_partial_runs(
    pages_with_ids: DataFrame, cfg: IndexConfig, idmap_dir: str | None = None
) -> DataFrame:
    """Fused extract + tokenize + tf + per-batch compressed run build.

    Emits doc marker rows (kind=0: doc_id, url, dl) and run block rows
    (kind=1) in one Arrow pass (``mapInArrow``) — no posting-row shuffle
    ever exists, and no per-row Python: extraction is Arrow/RE2,
    tokenization Arrow, tf a vectorized run-length count, and ALL
    (shard, term) groups of a batch are block-encoded in one
    numpy/pyarrow pass (codec.encode_blocks_grouped) with zero-copy
    binary columns.

    With ``idmap_dir`` the input carries (url_h, url_h2) JVM-computed
    hash columns instead of doc_id, and each batch resolves doc_ids
    against the worker-resident wave id-map (see write_wave_idmap) —
    rows outside the wave's doc slice are dropped here, exactly as the
    former broadcast inner join dropped them.
    """
    use_text = cfg.use_text_col
    positions = cfg.positions
    shard_size, n_buckets, block_size = cfg.shard_size, cfg.n_buckets, cfg.block_size
    stopwords, stemmer = tuple(cfg.stopwords or ()), cfg.stemmer
    # built here, on the driver, and shipped in the closure: a worker
    # would pay ~0.5 s of Python on its first batch to build it, and the
    # index terms follow the same `re` as the driver's query tokenizer
    sep_pattern = arrow_sep_pattern()

    def _gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = _stage1_arrow_schema()
        pid = TaskContext.get().partitionId()
        for bi, rb in enumerate(batches):
            if idmap_dir is not None and rb.num_rows:
                resolved, ok = _resolve_doc_ids(rb, idmap_dir)
                if not ok.all():
                    resolved = resolved[ok]
                    rb = rb.filter(pa.array(ok))
                doc_id_arr = resolved
            else:
                doc_id_arr = None
            nrows = rb.num_rows
            if nrows == 0:
                continue
            t_batch = time.monotonic()
            run_id = pid * 1_000_000 + bi
            if use_text:
                # null texts tokenize as empty docs (a null list from
                # tokens_arrow would NaN-poison value_lengths below)
                text_arr = pc.coalesce(
                    rb.column("text").cast(pa.string()), pa.scalar("", type=pa.string()))
            else:
                # Arrow/RE2 extraction straight off the record batch —
                # the html bytes never become PyObjects
                text_arr = extract_arrow(rb.column("html"))
            # Arrow tokenization (RE2, zero PyObjects per token) —
            # byte-identical to the Python oracle by construction
            # (functions/tokenizer.py); empties from split edges dropped
            parts = tokens_arrow(text_arr, sep_pattern)
            raw_lens = parts.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
            flat = parts.flatten()
            nonempty = pc.utf8_length(flat).to_numpy(zero_copy_only=False) > 0
            if stopwords or stemmer:
                # optional analyzer chain (functions/analyzer.py):
                # stopword mask folds into the keep mask, stemming
                # rewrites the flat values in place — tf, dl, and
                # positions all derive downstream from the ANALYZED
                # stream, so the whole index is consistent by
                # construction
                from ..functions.analyzer import analyze_arrow

                keep, flat = analyze_arrow(flat, stopwords, stemmer)
                if keep is not None:
                    nonempty &= keep
            doc_local = np.repeat(np.arange(nrows, dtype=np.int64), raw_lens)[nonempty]
            lens = np.bincount(doc_local, minlength=nrows).astype(np.int64)
            doc_ids = doc_id_arr if doc_id_arr is not None else rb.column("doc_id").to_numpy()

            def const(v, dtype, n=nrows):
                return pa.array(np.full(n, v, dtype=dtype))

            yield pa.RecordBatch.from_arrays(
                [
                    const(0, np.int32), pa.array(doc_ids), rb.column("url"),
                    pa.array(lens), pa.array(doc_ids // shard_size),
                    const(-1, np.int32), const(-1, np.int64), pa.nulls(nrows, pa.string()),
                    const(-1, np.int32), const(-1, np.int32), const(-1, np.int64),
                    const(-1, np.int64), const(-1, np.int64), const(-1, np.int64),
                    const(-1, np.int64), pa.nulls(nrows, pa.binary()),
                    pa.nulls(nrows, pa.binary()), pa.nulls(nrows, pa.binary()),
                    pa.nulls(nrows, pa.binary()),
                ],
                schema=schema,
            )
            nb = 0
            if lens.sum() == 0:
                yield _lineage_row(pa, schema, const, pid, bi, nrows, lens, 0, 0,
                                   int((time.monotonic() - t_batch) * 1000))
                continue
            # term strings exist as Python objects ONLY for the (small)
            # batch vocabulary's md5 bucket pass; the token stream stays
            # in Arrow — dictionary_encode gives int codes at C speed,
            # and the output term column is materialized by a dictionary
            # take (C-level), never through an object array. Object-dtype
            # per-token work is memory-bandwidth-hostile and anti-scales
            # at 32 concurrent workers.
            de = flat.filter(pa.array(nonempty)).dictionary_encode()
            codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = de.dictionary
            nvocab = len(vocab)
            # tf(doc, term) = run lengths of the sorted (doc_idx, code)
            # key; int32 keys when the range allows (typical: 10k rows x
            # ~5k vocab) — the token-stream sort is the batch's widest
            # memory scan and half-width keys halve its DRAM traffic
            key = doc_local * nvocab + codes
            if nrows * nvocab < 2**31:
                key = key.astype(np.int32)
            if positions:
                # token index within its doc (over kept tokens) — the
                # positional payload; stable argsort keeps positions
                # ascending inside each (doc, term) entry
                off_doc = np.cumsum(lens) - lens
                pos_in_doc = (np.arange(doc_local.size, dtype=np.int64)
                              - off_doc[doc_local])
                # enforce the span_near packing invariant WHERE the
                # positions are created (query.py packs doc<<32|pos):
                # a >=2^32-token document would corrupt proximity keys
                if lens.size:
                    _check_pos_limit(int(lens.max()))
                perm = np.argsort(key, kind="stable")
                ks = key[perm]
                pos_sorted = pos_in_doc[perm]
            else:
                ks = np.sort(key)
            starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
            tfs = np.diff(np.append(starts, ks.size)).astype(np.int64)
            if positions:
                # per-entry delta coding (first value absolute): entries
                # stay self-contained so any later reorder is a gather
                pos_deltas = pos_sorted.copy()
                pos_deltas[1:] -= pos_sorted[:-1]
                pos_deltas[starts] = pos_sorted[starts]
            ukey = ks[starts]
            udoc_idx = ukey // nvocab
            ucode = (ukey % nvocab).astype(np.int64)
            docs = doc_ids[udoc_idx]
            dls = lens[udoc_idx]
            shards = docs // shard_size
            # doc-sorted runs per (shard, term): one int lexsort, then one
            # grouped encode over all contiguous (shard, term) slices
            order = np.lexsort((docs, ucode, shards))
            if positions:
                pos_stream = gather_entry_slices(pos_deltas, starts, tfs, order)
                pos_sizes = tfs[order]
            docs, tfs, dls, ucode, shards = (
                docs[order], tfs[order], dls[order], ucode[order], shards[order])
            newgrp = np.concatenate(
                ([True], (ucode[1:] != ucode[:-1]) | (shards[1:] != shards[:-1])))
            group_starts = np.flatnonzero(newgrp)
            shards_g = shards[group_starts]
            group_codes = ucode[group_starts]
            ub = np.fromiter(
                (term_bucket_py(t, n_buckets) for t in vocab.to_pylist()),
                dtype=np.int32, count=nvocab)
            buckets_g = ub[group_codes]
            enc = encode_blocks_grouped(
                docs, tfs, dls, group_starts, shards_g * shard_size, block_size)
            gid = enc["gid"]
            nb = gid.size
            pos_arr = (encode_pos_blocks(pa, pos_stream, pos_sizes, enc["n"])
                       if positions else pa.nulls(nb, pa.binary()))
            yield pa.RecordBatch.from_arrays(
                [
                    const(1, np.int32, nb), const(-1, np.int64, nb),
                    pa.nulls(nb, pa.string()), const(-1, np.int64, nb),
                    pa.array(shards_g[gid]), pa.array(buckets_g[gid]),
                    const(run_id, np.int64, nb),
                    pc.take(vocab, pa.array(group_codes[gid])),
                    pa.array(enc["block_id"].astype(np.int32)),
                    pa.array(enc["n"].astype(np.int32)),
                    pa.array(enc["first_doc"]), pa.array(enc["last_doc"]),
                    pa.array(enc["max_tf"]), pa.array(enc["min_dl"]),
                    pa.array(enc["group_sum_tf"][gid]),
                    enc["gaps_vb"], enc["tfs_vb"], enc["dls_vb"], pos_arr,
                ],
                schema=schema,
            )
            yield _lineage_row(pa, schema, const, pid, bi, nrows, lens, nb,
                               len(group_starts), int((time.monotonic() - t_batch) * 1000))

    content = "text" if use_text else "html"
    if idmap_dir is not None:
        # JVM-side hash columns (whole-stage codegen); doc_id resolves
        # worker-side against the wave id-map
        sel = pages_with_ids.select(
            F.xxhash64("url").alias("url_h"),
            F.hash("url").alias("url_h2"),
            "url", content,
        )
    else:
        sel = pages_with_ids.select("doc_id", "url", content)
    return sel.mapInArrow(_gen, schema=STAGE1_SCHEMA)


# --------------------------------------------------------------------- stage 2

def _merge_runs_fn(shard_size: int, block_size: int, seg_dir: str,
                   positions: bool = False):
    """Fully vectorized run merge — zero per-term Python.

    Within a run the per-block gap streams chain (block b's first gap is
    relative to block b-1's last doc) and varbyte is self-delimiting, so
    ALL runs of the whole (shard, term_bucket) group decode in ONE
    vb_decode over the concatenated blobs; per-run doc ids come back via
    a segmented cumsum (global cumsum minus its value at each run
    start). Runs of one term are doc-disjoint, so a single lexsort by
    (term, doc) yields every term's globally doc-sorted postings, and
    codec.encode_blocks_grouped re-blocks all terms in one pass.

    Merge-group sizing at production scale — the per-task memory bound.
    A group holds one (shard, term_bucket) slice: with shard_size=1M
    web pages at ~500 postings/doc, a shard carries ~5e8 postings, so
    n_buckets=16 puts ~31M postings in one group. Peak working set is
    the decoded int64 triple (docs/tfs/dls) + lexsort indices ≈ 32
    bytes/posting ≈ 1.0 GB/task — workable on 4 GB executors but
    tight. At web-scale vocabulary run n_buckets=64 (~8 M postings,
    ~250 MB/task): the bucket count multiplies output files per shard,
    not shuffle volume, so raising it is nearly free. The int32
    BinaryArray offset guard in codec.encode_blocks_grouped makes an
    oversized group fail loudly (>= 2 GiB encoded) rather than corrupt.
    """

    metrics_cols = list(_ddl_columns(MERGE_METRICS_SCHEMA))

    # unannotated on purpose: a partially type-hinted grouped-map
    # function makes PySpark warn that it cannot infer the eval type
    def _merge(key, pdf):
        t_group = time.monotonic()
        shard, bucket = _group_key(key)
        merged = _merge_group(pdf, shard * shard_size, shard_size, block_size,
                              positions)
        if merged is None:
            return pd.DataFrame(columns=metrics_cols)
        uniq_terms, enc, seg_bytes = merged
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(dict(_block_columns(pa, uniq_terms, enc)))
        d = f"{seg_dir}/shard={shard}/term_bucket={bucket}"
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/.part-0.{uuid.uuid4().hex}.tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, f"{d}/part-0.parquet")

        return pd.DataFrame(
            {
                "shard": np.array([shard], dtype=np.int64),
                "term_bucket": np.array([bucket], dtype=np.int32),
                "n_terms": np.array([len(uniq_terms)], dtype=np.int64),
                "n_blocks": np.array([enc["gid"].size], dtype=np.int64),
                "postings": np.array([int(enc["n"].sum())], dtype=np.int64),
                "bytes": np.array([seg_bytes], dtype=np.int64),
                # per-partition elapsed (north_rule: input split,
                # postings, bytes, ELAPSED per lineage partition) —
                # also the straggler/skew observability for the merge
                "elapsed_ms": np.array(
                    [int((time.monotonic() - t_group) * 1000)], dtype=np.int64),
            }
        )

    return _merge


def _group_key(key) -> tuple[int, int]:
    """(shard, term_bucket) of a grouped-map key: applyInPandas passes
    numpy scalars, applyInArrow pyarrow scalars."""
    shard, bucket = (int(k.as_py() if hasattr(k, "as_py") else k) for k in key)
    return shard, bucket


def _merge_group(pdf: pd.DataFrame, base: int, run_size: int, block_size: int,
                 positions: bool = False, excl: np.ndarray | None = None):
    """The one merge body: build stage 2 (see _merge_runs_fn for the
    algorithm) and compaction both run it. ``pdf`` holds varbyte block
    rows of doc-disjoint runs; a run is a maximal (term, shard, salt)
    span, and its gap chain starts at ``shard * run_size`` — the shard
    base for stage-1 salted runs, the old-shard base for compaction's
    committed runs. Postings of tombstoned docs (``excl``: the group's
    sorted tombstone slice) are masked out before the doc sort; the
    survivors re-block with every term's first gap relative to
    ``base``. Returns (uniq_terms, enc, seg_bytes), or None when no
    posting survives."""
    if len(pdf) == 0:
        return None
    pdf = pdf.sort_values(["term", "shard", "salt", "block_id"], kind="mergesort",
                          ignore_index=True)
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy(dtype=np.int64)
    salts = pdf["salt"].to_numpy()
    n_vals = pdf["n"].to_numpy(dtype=np.int64)

    gaps = vb_decode(b"".join(pdf["gaps_vb"])).astype(np.int64)
    tfs = vb_decode(b"".join(pdf["tfs_vb"])).astype(np.int64)
    dls = vb_decode(b"".join(pdf["dls_vb"])).astype(np.int64)
    if positions:
        # per-posting self-contained delta streams: the concatenated
        # run order equals the posting order of the arrays above, so
        # the doc-sort below is a pure slice gather — no re-basing
        pos_deltas = vb_decode(b"".join(pdf["pos_vb"])).astype(np.int64)

    # gap chains reset at every run start
    new_run = np.concatenate(([True], (terms[1:] != terms[:-1])
                              | (shards[1:] != shards[:-1]) | (salts[1:] != salts[:-1])))
    row_val_starts = np.concatenate(([0], np.cumsum(n_vals)))
    run_rows = np.flatnonzero(new_run)
    run_val_starts = row_val_starts[run_rows]
    run_val_sizes = np.diff(np.append(run_val_starts, gaps.size))
    csum = np.cumsum(gaps)
    csum_before = np.concatenate(([0], csum[:-1]))[run_val_starts]
    docs = csum - np.repeat(csum_before - shards[run_rows] * run_size, run_val_sizes)

    run_terms = terms[run_rows]
    new_term = np.concatenate(([True], run_terms[1:] != run_terms[:-1]))
    tid = np.repeat(np.cumsum(new_term) - 1, run_val_sizes)
    uniq_terms = run_terms[new_term]

    if excl is None:
        order = np.lexsort((docs, tid))
    else:
        live = np.flatnonzero(~np.isin(docs, excl))
        if live.size == 0:
            return None
        order = live[np.lexsort((docs[live], tid[live]))]
    if positions:
        entry_starts = np.cumsum(tfs) - tfs
        pos_stream = gather_entry_slices(pos_deltas, entry_starts, tfs, order)
        pos_sizes = tfs[order]
    docs, tfs, dls, tid = docs[order], tfs[order], dls[order], tid[order]
    group_starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    uniq_terms = uniq_terms[tid[group_starts]]  # terms with a live posting
    enc = encode_blocks_grouped(
        docs, tfs, dls, group_starts,
        np.full(group_starts.size, base, dtype=np.int64), block_size)
    import pyarrow as pa

    if positions:
        enc["pos_vb"] = encode_pos_blocks(pa, pos_stream, pos_sizes, enc["n"])
    else:
        enc["pos_vb"] = pa.nulls(int(enc["gid"].size), pa.binary())
    seg_bytes = sum(
        len(enc[c].buffers()[2]) for c in ("gaps_vb", "tfs_vb", "dls_vb"))
    if positions:
        seg_bytes += len(enc["pos_vb"].buffers()[2])
    return uniq_terms, enc, seg_bytes


def _block_columns(pa, uniq_terms, enc):
    """Ordered (name, array) pairs of the per-block segment columns."""
    gid = enc["gid"]
    return [
        ("term", pa.array(uniq_terms[gid], type=pa.string())),
        ("block_id", pa.array(enc["block_id"].astype(np.int32))),
        ("n", pa.array(enc["n"].astype(np.int32))),
        ("first_doc", pa.array(enc["first_doc"])),
        ("last_doc", pa.array(enc["last_doc"])),
        ("max_tf", pa.array(enc["max_tf"])),
        ("min_dl", pa.array(enc["min_dl"])),
        ("sum_tf", pa.array(enc["group_sum_tf"][gid])),
        ("gaps_vb", enc["gaps_vb"]),
        ("tfs_vb", enc["tfs_vb"]),
        ("dls_vb", enc["dls_vb"]),
        ("pos_vb", enc["pos_vb"]),
    ]


def _segment_rows_arrow_schema():
    import pyarrow as pa

    return pa.schema([
        ("shard", pa.int64()), ("term_bucket", pa.int32()),
        ("term", pa.string()), ("block_id", pa.int32()), ("n", pa.int32()),
        ("first_doc", pa.int64()), ("last_doc", pa.int64()),
        ("max_tf", pa.int64()), ("min_dl", pa.int64()), ("sum_tf", pa.int64()),
        ("gaps_vb", pa.binary()), ("tfs_vb", pa.binary()), ("dls_vb", pa.binary()),
        ("pos_vb", pa.binary()),
    ])


def _segment_rows(shard: int, bucket: int, merged, t_group: float):
    """One merge group's committed-transport output (schema
    SEGMENT_ROWS_SCHEMA): its block rows plus ONE in-band metrics row
    (block_id = -1, packing documented at SEGMENT_ROWS_SCHEMA). Build
    stage 2 and compaction both emit it; an empty group emits
    nothing."""
    import pyarrow as pa

    schema = _segment_rows_arrow_schema()
    if merged is None:
        return schema.empty_table()
    uniq_terms, enc, seg_bytes = merged
    nb = int(enc["gid"].size)
    blocks = pa.table(
        {
            "shard": pa.array(np.full(nb, shard, dtype=np.int64)),
            "term_bucket": pa.array(np.full(nb, bucket, dtype=np.int32)),
            **dict(_block_columns(pa, uniq_terms, enc)),
        },
        schema=schema,
    )
    metrics = dict(
        shard=shard, term_bucket=bucket, block_id=-1, n=len(uniq_terms),
        first_doc=int(enc["n"].sum()), last_doc=seg_bytes,
        max_tf=int((time.monotonic() - t_group) * 1000), min_dl=nb, sum_tf=-1)
    row = pa.table({f.name: pa.array([metrics.get(f.name)], type=f.type)
                    for f in schema}, schema=schema)
    return pa.concat_tables([blocks, row])


def segment_dataset(seg_dir):
    """pyarrow dataset over one segment directory
    (``shard=S/term_bucket=B/*.parquet``) with the declared segment row
    schema: a directory with no part files (every merge group empty) is
    an empty dataset that still has every column."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    schema = _segment_rows_arrow_schema()
    keys = pa.schema([schema.field("shard"), schema.field("term_bucket")])
    return pads.dataset(str(seg_dir), format="parquet", schema=schema,
                        partitioning=pads.partitioning(keys, flavor="hive"))


def _segment_metrics(seg_dir) -> list[dict]:
    """Per-(shard, term_bucket) merge metrics of a committed-transport
    segment directory (build stage 2 and compaction): its in-band
    block_id = -1 rows, unpacked (see SEGMENT_ROWS_SCHEMA), from a
    driver-side pyarrow read."""
    import pyarrow.dataset as pads

    tbl = segment_dataset(seg_dir).to_table(
        filter=pads.field("block_id") == -1,
        columns=["shard", "term_bucket", "n", "min_dl", "first_doc", "last_doc", "max_tf"])
    return tbl.rename_columns(list(_ddl_columns(MERGE_METRICS_SCHEMA))).to_pylist()


def _wave_totals(store_dir: Path) -> tuple[int, int]:
    """(n_docs, sum_dl) of a wave: the sums of its kind=2 batch-lineage
    rows (n = docs, first_doc = sum(dl); see _lineage_row), from a
    driver-side pyarrow read of their two columns."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    tbl = pads.dataset(str(store_dir / "kind=2"), format="parquet").to_table(
        columns=["n", "first_doc"])
    return int(pc.sum(tbl["n"]).as_py()), int(pc.sum(tbl["first_doc"]).as_py())


def _merge_rows_fn(shard_size: int, block_size: int, positions: bool = False):
    """Committed-transport merge: identical merge body, but instead of
    writing files from the task, the merged block rows are RETURNED to
    Spark (applyInArrow — no pandas object round-trip on the output)
    and land on storage through ``df.write.partitionBy(...)``, i.e. the
    Hadoop task-commit protocol: task attempts write to attempt-unique
    paths and only the committed attempt's files become visible, which
    is correct on object stores and on clusters without a driver-shared
    filesystem. Per-group metrics ride along as ONE in-band row
    (_segment_rows), read back on the driver after the write
    (_segment_metrics) — so the merge stays a single wide job either
    way.
    elapsed_ms covers the merge compute; the file write itself is
    Spark's (its cost shows up in the stage wall, not per group)."""

    def _merge(key, tbl):
        t_group = time.monotonic()
        shard, bucket = _group_key(key)
        merged = _merge_group(tbl.to_pandas(), shard * shard_size, shard_size,
                              block_size, positions)
        return _segment_rows(shard, bucket, merged, t_group)

    return _merge


# --------------------------------------------------------------------- build driver

def _assert_segment_fs(spark: SparkSession, cfg: IndexConfig) -> None:
    """The DIRECT transport's segment/id-map writes (os.makedirs +
    pq.write_table + os.replace from executor tasks) are only correct
    when every executor sees the driver's POSIX filesystem: in local
    mode always, on a cluster only with a shared mount
    (NFS/Lustre/FUSE). On executor-local disks the files would silently
    land on the wrong machines, and os.replace atomicity does not hold
    on object stores. Fail loudly instead of corrupting — or use
    segment_transport="committed", which has no such requirement."""
    master = spark.sparkContext.master
    if not master.startswith("local") and not cfg.executor_shared_fs:
        raise RuntimeError(
            f"segment_transport='direct' requires a driver-shared POSIX "
            f"filesystem; master={master!r}. On a multi-node cluster either "
            "point index_dir at a shared mount and set "
            "IndexConfig(executor_shared_fs=True), or use "
            "segment_transport='committed' (the default resolution of "
            "'auto' on a cluster) to route segments through Spark's "
            "task-commit writer."
        )


def _resolve_transport(spark: SparkSession, cfg: IndexConfig) -> str:
    """'auto' -> 'direct' where direct writes are known-safe (local
    mode, or attested shared fs), else 'committed'. An explicit
    'direct' on an unshared cluster fails loudly (_assert_segment_fs).
    """
    mode = cfg.segment_transport
    if mode == "auto":
        master = spark.sparkContext.master
        # NB: "local-cluster[...]" is NOT local mode — its executors are
        # separate JVMs (the single-box rehearsal of a real cluster), so
        # it deliberately falls through to the committed transport
        in_process_local = master == "local" or master.startswith("local[")
        mode = (
            "direct"
            if in_process_local or cfg.executor_shared_fs
            else "committed"
        )
    if mode not in ("direct", "committed"):
        raise ValueError(f"unknown segment_transport {cfg.segment_transport!r}")
    if mode == "direct":
        _assert_segment_fs(spark, cfg)
    return mode


def build_index(
    spark: SparkSession,
    pages_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    fail_after_wave: int | None = None,
) -> dict:
    """Build (or resume) the full index at index_dir. Returns a summary
    dict. ``fail_after_wave`` injects a crash for resume tests."""
    cfg = cfg or IndexConfig()
    _resolve_transport(spark, cfg)  # fail fast on a bad transport/fs combo
    # a compacted index lives in its committed generation dir — build
    # (resume) and extend both operate there (compact.compact_index)
    out = resolve_index_dir(index_dir)
    index_dir = str(out)
    out.mkdir(parents=True, exist_ok=True)
    meta_path = out / "_meta.json"

    # ---- stage 0: doc_map (write-once; ids are never re-derived).
    # One sort+stamp+write job; row count, per-pid id offsets, and
    # per-file url bounds all come from parquet footers (docids.py) —
    # no count() job, no cache, no per-wave bounds job.
    doc_map_dir = out / "doc_map"
    if meta_path.exists() and (doc_map_dir / "_SUCCESS").exists():
        meta = json.loads(meta_path.read_text())
        # committed waves pin the layout: a resume that asks for another
        # one would mix layouts (or mis-prune buckets) across waves. A
        # field the meta does not record (legacy index) takes the
        # legacy value — e.g. a pre-positions index resumes without
        # positions
        pinned = config_from_meta(meta)
        asked = replace(cfg, stopwords=tuple(cfg.stopwords or ()))
        for f in _LAYOUT_FIELDS:
            if f in meta and getattr(asked, f) != getattr(pinned, f):
                raise ValueError(
                    f"resume asks for {f}={getattr(asked, f)!r} but the index "
                    f"at {index_dir} was built with {f}={getattr(pinned, f)!r}")
        cfg = replace(pinned, segment_transport=cfg.segment_transport,
                      executor_shared_fs=cfg.executor_shared_fs)
        meta.setdefault("epochs", [{"doc_lo": 0, "doc_hi": meta["n_docs"], "dir": "doc_map"}])
        meta.setdefault("id_hw", meta["n_docs"])
    else:
        t0 = time.monotonic()
        dm_meta = write_doc_map(pages_df, str(doc_map_dir))
        stage0_sec = round(time.monotonic() - t0, 3)
        n_docs = dm_meta["n_docs"]
        meta = dict(
            asdict(cfg), codec=CODEC, n_docs=n_docs, id_hw=n_docs, created_at=time.time(),
            epochs=[{"doc_lo": 0, "doc_hi": n_docs, "dir": "doc_map"}])
        meta_path.write_text(json.dumps(meta, indent=1))
        return dict(
            _run_waves(spark, pages_df, index_dir, cfg, meta, fail_after_wave),
            stage0_doc_map_sec=stage0_sec)
    return _run_waves(spark, pages_df, index_dir, cfg, meta, fail_after_wave)


def extend_index(spark: SparkSession, pages_df: DataFrame, index_dir: str) -> dict:
    """Incremental build over a NEW snapshot of the pages table (the
    engine's analog of the reference's realtime tail, which indexes
    only lines past the last position — core/monitoring.py:158-245;
    ours indexes only urls past the last committed epoch).

    New urls (anti-joined against every committed epoch's url map) get
    ids ranked among themselves, starting at the next SHARD boundary
    above the previous id high-water mark — the padding keeps the
    invariant that a shard never spans waves (scorers chain a term's
    blocks per (wave, shard) run). Existing urls are immutable (url =
    snapshot key); their pages are skipped. Everything else — waves,
    manifests, resume, readers — is unchanged: old waves stay
    committed, new waves cover only the new id range, and N / avgdl /
    df at query time already aggregate across all committed waves.
    """
    out = resolve_index_dir(index_dir)
    index_dir = str(out)
    meta = json.loads((out / "_meta.json").read_text())
    cfg = config_from_meta(meta)
    _resolve_transport(spark, cfg)
    known = None
    for ep in meta["epochs"]:
        u = spark.read.schema(DOC_MAP_SCHEMA).parquet(str(out / ep["dir"])).select("url")
        known = u if known is None else known.union(u)
    new_pages = pages_df.join(known, "url", "left_anti")
    epoch_idx = len(meta["epochs"])
    ep_dir_name = f"doc_map_epoch_{epoch_idx}"
    dm_meta = write_doc_map(new_pages, str(out / ep_dir_name))
    if dm_meta["n_docs"] == 0:
        return dict(_run_waves(spark, pages_df, index_dir, cfg, meta, None), new_docs=0)
    base = -(-meta["id_hw"] // cfg.shard_size) * cfg.shard_size  # next shard boundary
    meta["epochs"].append(
        {"doc_lo": base, "doc_hi": base + dm_meta["n_docs"], "dir": ep_dir_name})
    meta["n_docs"] += dm_meta["n_docs"]
    meta["id_hw"] = base + dm_meta["n_docs"]
    (out / "_meta.json").write_text(json.dumps(meta, indent=1))
    return dict(_run_waves(spark, pages_df, index_dir, cfg, meta, None),
                new_docs=dm_meta["n_docs"])


def _enumerate_waves(cfg: IndexConfig, epochs: list[dict],
                     compacted_through: int = 0,
                     wave_base: int = 0) -> list[tuple[int, int, int, int]]:
    """[(wave_idx, doc_lo, doc_hi, epoch_idx)] — each epoch split into
    wave_docs chunks; boundaries stay shard-aligned because epoch
    doc_lo is shard-aligned and wave_docs is a shard multiple.

    A compacted generation (compact.compact_index) covers every doc id
    below ``compacted_through`` with its single committed wave, so
    those epoch ranges are not re-enumerated; fresh waves (epochs
    appended by extend_index after the compaction) number from
    ``wave_base`` to stay clear of the compact wave's number."""
    waves = []
    for ei, ep in enumerate(epochs):
        if ep["doc_hi"] <= compacted_through:
            continue  # fully inside the compacted generation's wave
        lo = max(ep["doc_lo"], compacted_through)
        while lo < ep["doc_hi"]:
            hi = min(lo + cfg.wave_docs, ep["doc_hi"])
            waves.append((wave_base + len(waves), lo, hi, ei))
            lo = hi
    return waves


def _run_waves(spark, pages_df, index_dir, cfg: IndexConfig, meta: dict, fail_after_wave):
    out = Path(index_dir)
    epochs = meta["epochs"]
    compacted_through = int(meta.get("compacted_through", 0))
    ep_metas = {
        ep["dir"]: read_doc_map_meta(str(out / ep["dir"]))
        for ep in epochs if ep["doc_hi"] > compacted_through
    }
    waves = _enumerate_waves(cfg, epochs, compacted_through,
                             int(meta.get("wave_base", 0)))
    done = committed_waves(index_dir)
    summary = {"n_docs": meta["n_docs"], "n_waves": len(waves),
               "skipped_waves": sorted(done), "built_waves": []}
    for wave, lo, hi, ei in waves:
        if wave in done:
            continue
        ep = epochs[ei]
        _build_one_wave(
            spark, pages_df, str(out / ep["dir"]), ep_metas[ep["dir"]],
            ep["doc_lo"], index_dir, cfg, wave, lo, hi)
        summary["built_waves"].append(wave)
        if fail_after_wave is not None and wave >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {wave}")
    return summary


def _build_one_wave(spark, pages_df, doc_map_dir: str, dm_meta: dict, id_base: int,
                    index_dir, cfg: IndexConfig, wave: int, lo: int, hi: int):
    out = Path(index_dir)
    timer = StageTimer()
    store_dir = out / "store" / f"wave={wave}"
    transport = _resolve_transport(spark, cfg)

    # resume-safe: runs (kind=1) are deleted after commit, so an
    # uncommitted wave with a half-gone store is recomputed
    if not ((store_dir / "_SUCCESS").exists() and (store_dir / "kind=1").exists()):
        idmap_dir = out / "idmap" / f"wave={wave}"
        with timer.time("wave_idmap"):
            # file-pruned id slice + footer-derived url bounds (both
            # driver-side metadata, no Spark job) so each wave scans
            # only its slice of the (url-sorted, min-max-pruned) table
            dslice = doc_map_df(spark, doc_map_dir, dm_meta, lo, hi, id_base=id_base)
            # The wave id-map ships to stage-1 workers as a parquet
            # artifact resolved executor-side (write_wave_idmap): the
            # alternatives both serialize — a sort-merge join shuffles
            # every html byte of the wave, and a broadcast join spends
            # 10-30 s of serial DRIVER time per 16M-doc wave collecting
            # and building the broadcast. This path keeps the id-map
            # distribution parallel at any cluster size.
            write_wave_idmap(dslice, str(idmap_dir), transport=transport)
        with timer.time("stage1_partial_runs"):
            url_lo, url_hi = wave_url_bounds(dm_meta, lo, hi, id_base=id_base)
            wave_pages = pages_df.filter(F.col("url").between(url_lo, url_hi))
            # partitionBy kind ONLY: the (shard, term_bucket) routing is
            # the merge shuffle's job, and hive-partitioning the store by
            # them costs a per-task sort + hundreds of tiny files per
            # task (measured ~3.4x stage-1 wall at 32 cores). doc rows
            # (kind=0) keep shard as a data column; parquet row-group
            # stats still prune doc_id lookups.
            (
                stage1_partial_runs(wave_pages, cfg, idmap_dir=str(idmap_dir))
                .write.mode("overwrite")
                .partitionBy("kind")
                .parquet(str(store_dir))
            )

    runs = (
        spark.read.schema(STAGE1_SCHEMA).parquet(str(store_dir))
        .filter(F.col("kind") == 1).drop("kind", "doc_id", "url", "dl")
    )

    with timer.time("stage2_salted_merge"):
        seg_dir = out / "postings" / f"wave={wave}"
        if transport == "direct":
            if seg_dir.exists():
                shutil.rmtree(seg_dir)  # uncommitted leftovers from a crash
            seg_dir.mkdir(parents=True, exist_ok=True)
            # merge tasks write their own segment files (_merge_runs_fn);
            # the job's RESULT is the per-(shard, bucket) metrics — one
            # action, no second scan, no dynamic-partition write sort
            part_metrics = [
                r.asDict()
                for r in runs.groupBy("shard", "term_bucket")
                .applyInPandas(
                    _merge_runs_fn(cfg.shard_size, cfg.block_size, str(seg_dir),
                                   cfg.positions),
                    schema=MERGE_METRICS_SCHEMA,
                )
                .collect()
            ]
        else:
            # committed transport: the merge returns the block rows and
            # Spark's partitioned write commits them (correct without a
            # shared fs / on object stores); metrics ride in-band and
            # are read back on the driver (_segment_metrics)
            (
                runs.groupBy("shard", "term_bucket")
                .applyInArrow(
                    _merge_rows_fn(cfg.shard_size, cfg.block_size, cfg.positions),
                    schema=SEGMENT_ROWS_SCHEMA,
                )
                .write.mode("overwrite")
                .partitionBy("shard", "term_bucket")
                .parquet(str(seg_dir))
            )
            part_metrics = _segment_metrics(seg_dir)

    with timer.time("commit_metrics"):
        n_docs, sum_dl = _wave_totals(store_dir)

    commit_wave(
        index_dir,
        {
            "wave": wave,
            "input_split": {"doc_lo": lo, "doc_hi": hi},
            "input_docs": n_docs,
            "sum_dl": sum_dl,
            "stage_elapsed_sec": timer.stages,
            "partitions": part_metrics,
        },
    )
    # runs + id-map served their purpose; doc rows remain as the
    # doc_stats table
    shutil.rmtree(store_dir / "kind=1", ignore_errors=True)
    shutil.rmtree(out / "idmap" / f"wave={wave}", ignore_errors=True)
