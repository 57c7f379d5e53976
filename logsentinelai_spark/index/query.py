"""Query-time BM25 top-k over the physical index.

Two scorers, both rank-identical to the numpy oracle (pinned tie-break:
descending score, ascending doc_id):

  * ``acc``  — vectorized per-shard score accumulation: decode every
    posting block of the query terms, accumulate idf·tf_norm with
    numpy, top-k via lexsort. Simple, exhaustive, fast for short
    posting lists; the correctness baseline for WAND.
  * ``wand`` — block-max WAND (Broder et al. CIKM'03; Ding & Suel
    SIGIR'11): document-at-a-time cursors with a bounded "min-heap"
    (k-best under the tie-break order), term- and block-level upper
    bounds from the (max_tf, min_dl) annotations, skipping whole
    blocks whose UB sum cannot beat the current threshold θ.

Execution shape (SURVEY.md §3.3): every query shape has ONE body, fed
by ONE seam (:class:`_ShardScan`). The seam hands a per-shard function
the shard's pruned posting blocks as a pyarrow Table (never a pandas
frame) and its tombstone slice, and the body df per term and
N/avgdl; the function returns plain row tuples — at most the shard's
page, so the driver merges shards × k rows (no wide shuffle).
``serving`` picks where the shards run:

  * ``"spark"`` (default) — df from a driver-local (term, n) read, the
    driver lists each shard's segment files under the query buckets,
    then ONE single-stage RDD job:
    ``sc.parallelize(shards).mapPartitions(task).collect()`` with a task
    per shard that reads its own files with pyarrow — no Catalyst plan,
    no SQL execution, no exchange; only shard ids go in and each
    shard's page of row tuples comes out. The batch / scale-out regime.
    The same task body (:func:`_shard_task`) also runs under
    ``mapInArrow`` (:func:`_shard_frame`), only for bool_match_ids,
    whose match set flows uncollected into aggregations.
  * ``"local"`` — the same pruned blocks read straight off storage with
    pyarrow, df from that same table, and the driver loops over the
    shards itself: no Spark job, so latency is file-read-bound (ms)
    instead of job-scheduling-bound. The interactive serving path; the
    ``*_local`` names are forwards with ``serving="local"``.

Both modes run the same shard function over the same blocks, so they
are rank-identical by construction. Scaling: each shard scores
independently; doc-sharding spreads hot terms evenly, so query work
per task is ~|postings(q) ∩ shard|. Posting streams decode in two
places only: :class:`_Postings` (each stream of a whole shard in one
vb_decode, sliced per term) and :class:`_Cursor` (WAND's per-block
decode).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import functions as F

from ..functions.tokenizer import tokens as tokenize
from .bm25 import B, K1, idf as idf_fn
from .codec import block_upper_bound, decode_positions, decode_single_block, vb_decode
from .deletes import shard_slice
from .reader import IndexReader

_UB_MARGIN = 1.0 + 1e-12  # float-safety margin on upper bounds


def _qtokens(reader, text: str) -> list[str]:
    """Query-side analysis: tokenize, then mirror the index's analyzer
    chain (ES's search analyzer defaults to the index analyzer —
    functions/analyzer.py). Identity for the default empty chain, so
    every pre-analyzer gate is byte-identical. Order-preserving, so
    phrase queries match the analyzed positional stream (positions are
    assigned over KEPT tokens at build time)."""
    return reader.analyze_terms(tokenize(text))


# ----------------------------------------------------------------- serving seam

def _shard_task(reader: IndexReader, terms: list[str], fn, with_positions: bool = False):
    """The one Spark serving task body: ``(shards, per_task)``, where
    ``per_task(shard_ids)`` reads each shard's segment files with
    pyarrow (``term IN`` pushed into the parquet read, ``pos_vb``
    projected only ``with_positions``) and yields the rows of
    ``fn(tbl, base=, excl=)`` over its pruned posting blocks. The
    driver lists the files (IndexReader.shard_files); only plain values
    cross into the closure (the file map, the terms and each queried
    shard's tombstone slice; never the reader), so it pickles to
    executors. ``shards`` is empty when no shard holds a term."""
    files = reader.shard_files(terms)
    shards = sorted(files)
    size = reader.cfg.shard_size
    dels = reader.deletes()
    excls = {s: shard_slice(dels, s * size, size) for s in shards}

    def per_task(shard_ids):
        import pyarrow.dataset as pads

        filt = pads.field("term").isin(terms)
        for shard in shard_ids:
            ds = pads.dataset(files[shard], format="parquet")
            cols = [c for c in ds.schema.names if with_positions or c != "pos_vb"]
            tbl = ds.to_table(filter=filt, columns=cols)
            if tbl.num_rows:
                yield from fn(tbl, base=shard * size, excl=excls[shard])

    return shards, per_task


def _shard_frame(reader: IndexReader, terms: list[str], fn, schema: str,
                 with_positions: bool = False):
    """:func:`_shard_task` as an uncollected DataFrame of ``schema``, for
    a match set that must flow into aggregations (bool_match_ids):
    ``spark.range(shards).mapInArrow``, one narrow stage, a task per
    shard, no exchange. Collected callers use :meth:`_ShardScan.run`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    spark = reader.spark
    shards, per_task = _shard_task(reader, terms, fn, with_positions)
    if not shards:
        return spark.createDataFrame([], schema)
    out_schema = to_arrow_schema(DataType.fromDDL(schema))

    def to_arrow(batches):
        for batch in batches:
            rows = list(per_task(shards[i] for i in batch.column(0).to_pylist()))
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(zip(*rows), out_schema)],
                    schema=out_schema)

    n = len(shards)
    return (spark.range(n, numPartitions=min(n, spark.sparkContext.defaultParallelism))
            .mapInArrow(to_arrow, schema))


class _ShardScan:
    """The serving seam: the pruned posting blocks of a term set plus
    what every scorer needs — ``dfs`` (term -> df, present terms only),
    ``N``/``avgdl`` and, per shard, the tombstone slice. :meth:`run`
    applies a shard function ``fn(tbl, base=, excl=) -> [row tuple]``
    to every shard's block rows (a pyarrow Table) and returns all rows.

    ``serving="local"``: one pyarrow read (postings_table_local), df
    from that same table, the rows grouped by one stable sort on shard
    and a driver loop over the contiguous shard slices — no Spark job
    and no pandas. ``serving="spark"``: df from term_dfs_local, then
    one RDD job of one stage with a task per shard
    (``sc.parallelize(shards).mapPartitions`` over :func:`_shard_task`)
    over the present terms, collected as plain tuples — no DataFrame,
    so no Catalyst plan and no SQL execution."""

    def __init__(self, reader: IndexReader, terms: list[str],
                 serving: str = "spark", with_positions: bool = False):
        if serving not in ("local", "spark"):
            raise ValueError(f"serving must be 'local' or 'spark', got {serving!r}")
        self.reader, self.serving, self.with_positions = reader, serving, with_positions
        self.N, self.avgdl = reader.global_stats()
        if serving == "local":
            tbl = reader.postings_table_local(terms, with_positions)
            uniq, inv = np.unique(tbl.column("term").to_numpy(), return_inverse=True)
            dfs = dict(zip(uniq.tolist(), np.bincount(
                inv, weights=tbl.column("n").to_numpy(), minlength=len(uniq)).tolist()))
            self.tbl = tbl.take(np.argsort(tbl.column("shard").to_numpy(), kind="stable"))
        else:
            dfs = reader.term_dfs_local(terms)
        self.dfs = {t: int(n) for t, n in dfs.items() if n}

    def idfs(self, terms) -> dict[str, float]:
        return {t: idf_fn(self.N, self.dfs[t]) for t in terms if t in self.dfs}

    def run(self, fn) -> list[tuple]:
        if not self.dfs:
            return []
        reader = self.reader
        if self.serving == "spark":
            # a present term (df > 0) has a block, so shards is never empty
            shards, per_task = _shard_task(reader, sorted(self.dfs), fn, self.with_positions)
            sc = reader.spark.sparkContext
            return (sc.parallelize(shards, min(len(shards), sc.defaultParallelism))
                    .mapPartitions(per_task).collect())
        size = reader.cfg.shard_size
        dels = reader.deletes()
        shard = self.tbl.column("shard").to_numpy()
        cut = np.append(np.flatnonzero(np.diff(shard)) + 1, len(shard))
        rows: list[tuple] = []
        for s, e in zip(np.append(0, cut[:-1]), cut):
            base = int(shard[s]) * size
            rows += fn(self.tbl.slice(s, e - s), base=base,
                       excl=shard_slice(dels, base, size))
        return rows


class _Postings:
    """The one posting decoder: one shard's block rows, sorted once by
    (term, block_id). Block gap streams chain within a term's run and
    varbyte is self-delimiting, so each stream column's blobs, in row
    order, form ONE buffer that decodes in one vb_decode for the whole
    shard. Term i's postings are the contiguous slice ``span(i)``;
    ``tix`` maps each posting to its term. Streams decode on first
    use — a scorer pays only for the columns it reads — and
    :meth:`block` decodes a single block row for WAND's lazy cursors."""

    def __init__(self, tbl, base: int = 0):
        import pyarrow.compute as pc

        self.tbl = tbl.sort_by([("term", "ascending"), ("block_id", "ascending")])
        self.base, self._cols, self._streams = base, {}, {}
        term = self.tbl.column("term")
        new = np.ones(len(term), dtype=bool)
        new[1:] = pc.not_equal(term[1:], term[:-1]).to_numpy()
        # term i owns block rows rows[i]:rows[i+1], postings offs[i]:offs[i+1]
        self.rows = np.append(np.flatnonzero(new), len(term))
        self.terms = term.take(self.rows[:-1]).to_pylist()
        n = self.col("n").astype(np.int64)
        self.offs = np.concatenate(([0], np.cumsum(n)))[self.rows]
        self.tix = np.repeat(np.arange(len(self.terms)), np.diff(self.offs))

    def span(self, i: int) -> slice:
        return slice(self.offs[i], self.offs[i + 1])

    def mask(self, terms) -> np.ndarray:
        """Per-posting mask of the postings of ``terms``."""
        return np.isin(self.tix, [i for i, t in enumerate(self.terms) if t in terms])

    def col(self, name: str) -> np.ndarray:
        """A fixed-width column as numpy (cached)."""
        if name not in self._cols:
            self._cols[name] = self.tbl.column(name).to_numpy()
        return self._cols[name]

    def _blobs(self, name: str):
        """(offsets, bytes) of a binary column: rows r0..r1 hold the
        byte slice bytes[offsets[r0]:offsets[r1]]."""
        if name not in self._cols:
            import pyarrow as pa

            arr = self.tbl.column(name).combine_chunks()
            _, offs, data = arr.buffers()
            wide = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
            self._cols[name] = (
                np.frombuffer(offs, wide)[arr.offset:arr.offset + len(arr) + 1],
                np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8))
        return self._cols[name]

    def run_bytes(self, name: str, r0: int, r1: int) -> np.ndarray:
        offs, data = self._blobs(name)
        return data[offs[r0]:offs[r1]]

    def stream(self, name: str, dtype=np.float64) -> np.ndarray:
        """One value stream (``tfs_vb`` / ``dls_vb``) of the whole
        shard, decoded once."""
        if name not in self._streams:
            self._streams[name] = vb_decode(self.run_bytes(name, 0, self.tbl.num_rows))
        return self._streams[name].astype(dtype)

    def docs(self) -> np.ndarray:
        """Doc ids: each term's gap stream prefix-summed from the
        shard base (one segmented cumsum)."""
        c = np.concatenate(([0], np.cumsum(self.stream("gaps_vb", np.int64))))
        return c[1:] - np.repeat(c[self.offs[:-1]], np.diff(self.offs)) + self.base

    def positions(self, tfs: np.ndarray) -> np.ndarray:
        """Absolute token positions, aligned with np.repeat(docs, tfs)."""
        return decode_positions([self.run_bytes("pos_vb", 0, self.tbl.num_rows)], tfs)

    def block(self, r: int):
        """(docs, tfs, dls) of block row ``r`` alone (WAND)."""
        return decode_single_block(
            {c: self.run_bytes(c, r, r + 1) for c in ("gaps_vb", "tfs_vb", "dls_vb")}
            | {"first_doc": self.col("first_doc")[r]})


def _mask_deleted(uniq: np.ndarray, sums: np.ndarray, excl):
    """Drop tombstoned docs from a scored (uniq docs, sums) pair —
    one sorted-membership probe (deletes.py; same shape as the bool
    query's must_not exclusion). excl is the shard's tombstone slice
    (global ids) or None."""
    if excl is None or not len(uniq):
        return uniq, sums
    m = ~np.isin(uniq, excl, assume_unique=True)
    return uniq[m], sums[m]


def _contrib(tfs: np.ndarray, dls: np.ndarray, w: float, avgdl: float) -> np.ndarray:
    return w * tfs / (tfs + K1 * (1 - B + B * dls / avgdl))


def _top(uniq: np.ndarray, sums: np.ndarray, k: int) -> list[tuple[int, float]]:
    order = np.lexsort((uniq, -sums))[:k]
    return [(int(uniq[i]), float(sums[i])) for i in order]


def _topk_merge(pairs: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    return sorted(pairs, key=lambda p: (-p[1], p[0]))[:k]


def _with_urls(reader: IndexReader, tops: list[list[tuple]]) -> list[list[tuple]]:
    """Append each hit's url (one driver-local read for all lists)."""
    urls = reader.doc_urls_local(sorted({t[0] for top in tops for t in top}))
    return [[(*t, urls.get(t[0])) for t in top] for top in tops]


# ----------------------------------------------------------------- shard scorers

def _after_mask(uniq: np.ndarray, sums: np.ndarray, after):
    """ES ``search_after`` cursor: keep only docs STRICTLY after the
    cursor in (score desc, doc_id asc) order. Applied before per-shard
    top-k selection — a shard's page-N hits need not be in its local
    page-1 top-k.

    Score equality against the cursor is RELATIVE-TOLERANCE banded,
    not bit-exact: the cursor score may come from a page 1 served by
    _score_shard_wand (mode auto/wand), which accumulates a doc's
    per-term contributions in cursor-advance order, while this forced
    accumulator sums in term order — for 3+-term matches the
    non-associative float adds can differ by an ulp, which a strict
    ``==`` would turn into a duplicated or dropped hit at the page
    boundary. Within the band the doc_id tiebreak decides, exactly as
    for a true tie; 1e-9 relative is ~1e7 ulps wide yet far below the
    spacing of distinct BM25 sums (distinct (tf, dl) inputs)."""
    if after is None or not len(uniq):
        return uniq, sums
    s_c, d_c = float(after[0]), int(after[1])
    tol = 1e-9 * max(1.0, abs(s_c))
    m = (sums < s_c - tol) | ((np.abs(sums - s_c) <= tol) & (uniq > d_c))
    return uniq[m], sums[m]


def _score_shard_acc(tbl, idfs: dict[str, float], avgdl: float, k: int, base: int, excl=None, after=None, boost=None):
    """Whole-shard decode (:class:`_Postings`): contributions in (term,
    block) order, summed per doc by one bincount. ``excl``: the
    shard's tombstone slice, masked before top-k selection. ``after``:
    search_after cursor (score, doc_id), masked before top-k selection.
    ``boost``: function_score hook — a callable mapping the per-doc dl
    array to a multiplier, applied to every candidate BEFORE top-k
    selection (a doc-field factor reorders beyond any window, so it
    cannot be a rescore)."""
    p = _Postings(tbl, base)
    if not p.terms:
        return []
    dl = p.stream("dls_vb")
    w = np.array([idfs[t] for t in p.terms])[p.tix]
    uniq, inv = np.unique(p.docs(), return_inverse=True)
    sums = np.bincount(inv, weights=_contrib(p.stream("tfs_vb"), dl, w, avgdl))
    if boost is not None:
        # per-doc dl: every posting of a doc carries the same dl, so a
        # scatter-max over the inverse index recovers it exactly
        dlu = np.zeros(len(uniq))
        np.maximum.at(dlu, inv, dl)
        sums = sums * boost(dlu)
    uniq, sums = _mask_deleted(uniq, sums, excl)
    uniq, sums = _after_mask(uniq, sums, after)
    return _top(uniq, sums, k)


class _Cursor:
    """Per-term posting cursor with lazy block decode + block skipping."""

    __slots__ = ("p", "r0", "last", "n", "idf", "avgdl", "bi", "docs", "tfs", "dls", "pos", "cur",
                 "term_ub", "block_ubs")

    def __init__(self, p: _Postings, i: int, idf_t: float, avgdl: float):
        # term i's block rows r0.. of the shard decoder, in block_id order
        self.p, self.r0 = p, int(p.rows[i])
        rows = slice(self.r0, int(p.rows[i + 1]))
        self.last = p.col("last_doc")[rows].tolist()
        self.n = int(p.offs[i + 1] - p.offs[i])
        self.idf = idf_t
        self.avgdl = avgdl
        self.block_ubs = block_upper_bound(
            p.col("max_tf")[rows], p.col("min_dl")[rows], idf_t, avgdl) * _UB_MARGIN
        self.term_ub = float(self.block_ubs.max())
        self.bi = -1
        self._load(0)

    def _load(self, bi: int) -> None:
        if bi >= len(self.last):
            self.cur = None
            return
        self.bi = bi
        self.docs, self.tfs, self.dls = self.p.block(self.r0 + bi)
        self.pos = 0
        self.cur = int(self.docs[0])

    def stream(self, col: str) -> np.ndarray:
        """One whole value stream of the term (every block), decoded."""
        return vb_decode(self.p.run_bytes(col, self.r0, self.r0 + len(self.last))
                         ).astype(np.float64)

    def block_ub(self) -> float:
        return float(self.block_ubs[self.bi])

    def block_last(self) -> int:
        return self.last[self.bi]

    def seek(self, target: int) -> None:
        """Advance to first doc >= target, skipping blocks via last_doc."""
        if self.cur is None or self.cur >= target:
            return
        bi = self.bi
        if self.last[bi] < target:
            # skip undecoded blocks by annotation only
            while bi < len(self.last) and self.last[bi] < target:
                bi += 1
            if bi >= len(self.last):
                self.cur = None
                return
            self._load(bi)
        p = int(np.searchsorted(self.docs, target, side="left"))
        if p >= self.docs.size:
            self._load(self.bi + 1)
        else:
            self.pos = p
            self.cur = int(self.docs[p])

    def next(self) -> None:
        p = self.pos + 1
        if p >= self.docs.size:
            self._load(self.bi + 1)
        else:
            self.pos = p
            self.cur = int(self.docs[p])

    def contrib_at_cur(self) -> float:
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        return self.idf * tf / (tf + K1 * (1 - B + B * dl / self.avgdl))

    def slice_window(self, hi: int):
        """(docs, contribs) of this cursor's postings in [cur, hi] —
        all inside the current decoded block (callers guarantee
        hi <= block_last). Vectorized; does not advance the cursor."""
        p_hi = int(np.searchsorted(self.docs, hi, side="right"))
        d = self.docs[self.pos:p_hi]
        t = self.tfs[self.pos:p_hi].astype(np.float64)
        dl = self.dls[self.pos:p_hi].astype(np.float64)
        return d, self.idf * t / (t + K1 * (1 - B + B * dl / self.avgdl))


class _TopK:
    """k-best under ordering (-score, doc) with threshold θ."""

    def __init__(self, k: int):
        self.k = k
        self.items: list[tuple[int, float]] = []

    def push(self, doc: int, score: float) -> None:
        self.items.append((doc, score))
        if len(self.items) > 4 * self.k:
            self._trim()

    def push_many(self, docs, scores) -> None:
        self.items.extend(zip(docs.tolist(), scores.tolist()))
        if len(self.items) > 4 * self.k:
            self._trim()

    def _trim(self) -> None:
        self.items = sorted(self.items, key=lambda p: (-p[1], p[0]))[: self.k]

    def theta(self) -> float:
        if len(self.items) < self.k:
            return -1.0
        self._trim()
        return self.items[-1][1]

    def result(self) -> list[tuple[int, float]]:
        return sorted(self.items, key=lambda p: (-p[1], p[0]))[: self.k]


def _score_shard_wand(tbl, idfs: dict[str, float], avgdl: float, k: int, base: int = 0, excl=None):
    """Windowed block-max WAND: classic WAND pivoting (term-UB prefix
    sums over cur-sorted cursors) + block-max pruning, but instead of
    scoring one pivot doc per iteration, every surviving iteration
    fully scores the whole window [pivot_doc, W] vectorized, where
      W = min(block_last of pivot-prefix cursors, next cursor's cur - 1)
    Within that window (a) only the prefix cursors can hold postings
    (every later cursor's cur > W), and (b) each prefix cursor's
    postings lie inside its current decoded block — so the window's
    scores are complete, computed with numpy slices, and docs outside
    any surviving window are exactly those WAND proves cannot beat θ.
    One cursor per term, in term order, over the shard decoder's
    block rows; blocks decode one at a time, on demand."""
    p = _Postings(tbl, base)
    cursors = [_Cursor(p, i, idfs[t], avgdl) for i, t in enumerate(p.terms)]
    heap = _TopK(k)
    # θ warm-start: the k-th best SINGLE-term contribution of the most
    # selective term is a sound floor for the k-th best final score
    # (those k docs' final scores only grow), so pruning can kick in
    # before the heap fills. One vectorized pass over one term's run.
    theta_floor = -1.0
    seed = max(cursors, key=lambda c: c.term_ub, default=None)
    # with tombstones the warm-start is skipped: the seed's k-th best
    # single-term contribution could come from deleted docs, making the
    # floor exceed the true k-th live score — an UNSOUND prune. Deletes
    # are transient (compaction clears them), so the lost warm-start is
    # the cheap, always-correct choice.
    if excl is not None:
        seed = None
    if seed is not None and seed.n >= k:
        con = _contrib(seed.stream("tfs_vb"), seed.stream("dls_vb"), seed.idf, avgdl)
        theta_floor = float(np.partition(con, con.size - k)[con.size - k]) if con.size >= k else -1.0
    live = [c for c in cursors if c.cur is not None]
    while live:
        live.sort(key=lambda c: c.cur)
        theta = max(heap.theta(), theta_floor)
        # pivot: first prefix whose term-UB sum can beat θ
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(live):
            acc += c.term_ub
            if acc >= theta:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # no prefix can beat θ
        pivot_doc = live[pivot_i].cur
        if live[0].cur < pivot_doc:
            # advance the leading cursors up to pivot_doc
            for c in live[:pivot_i]:
                if c.cur < pivot_doc:
                    c.seek(pivot_doc)
            live = [c for c in live if c.cur is not None]
            continue
        # include all cursors already positioned on pivot_doc
        while pivot_i + 1 < len(live) and live[pivot_i + 1].cur == pivot_doc:
            pivot_i += 1
        prefix = live[: pivot_i + 1]
        w_hi = min(c.block_last() for c in prefix)
        if pivot_i + 1 < len(live):
            w_hi = min(w_hi, live[pivot_i + 1].cur - 1)
        w_hi = max(w_hi, pivot_doc)
        # block-max check: current-block UB sum of the window's cursors
        if sum(c.block_ub() for c in prefix) >= theta:
            parts = [c.slice_window(w_hi) for c in prefix]
            docs = np.concatenate([p[0] for p in parts])
            con = np.concatenate([p[1] for p in parts])
            uniq, inv = np.unique(docs, return_inverse=True)
            uniq, sums = _mask_deleted(
                uniq, np.bincount(inv, weights=con), excl)
            heap.push_many(uniq, sums)
        # advance every window cursor past the (scored or pruned) window
        for c in prefix:
            c.seek(w_hi + 1)
        live = [c for c in live if c.cur is not None]
    return heap.result()


# ----------------------------------------------------------------- disjunctive top-k

# auto-mode routing, CALIBRATED by scripts/bench_wand_crossover.py
# (synthetic posting lists, identical rankings asserted, min-of-3
# timings). WAND's cost is ~per-window Python iteration (~150-250 us)
# plus the blocks it actually decodes; acc's is ~0.4 us per posting
# for the exhaustive vectorized decode. WAND therefore wins only when
# the query mixes one long list with SELECTIVE companions — iteration
# count ~ (total - max_df) — and loses at ANY size when all terms are
# dense. Measured (3-term query, one long low-tf list + two
# heavy-tail companions; total ≈ long_df):
#   total=10.4M, total-max=400k  (ratio 26):  wand 0.55x acc  -> acc
#   total=10.0M, total-max=40k   (ratio 251): wand 0.79x acc  -> acc
#   total=3.0M,  total-max=3k    (ratio 1e3): wand 3.0x  acc  -> wand
#   total=10.0M, total-max=4k    (ratio 2.5e3): wand 4.4x acc -> wand
#   total=30.0M, total-max=6k    (ratio 5e3): wand 5.7x  acc  -> wand
# Crossover sits near ratio ~400-500 once total > ~2M; below the
# posting floor the fixed cursor setup never amortizes.
AUTO_WAND_MIN_POSTINGS = 2_000_000
AUTO_WAND_SELECTIVITY = 450


def _pick_scorer(mode: str, dfs_values):
    if mode == "auto":
        dfs_values = list(dfs_values)
        total = sum(dfs_values)
        rest = total - max(dfs_values, default=0)
        mode = (
            "wand"
            if total > AUTO_WAND_MIN_POSTINGS
            and rest > 0
            and total > AUTO_WAND_SELECTIVITY * rest
            else "acc"
        )
    return _score_shard_wand if mode == "wand" else _score_shard_acc


def topk(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    mode: str = "auto",
    with_urls: bool = False,
    search_after: tuple[float, int] | None = None,
    serving: str = "spark",
) -> list[tuple]:
    """BM25 top-k. Returns [(doc_id, score[, url])].

    ``mode="auto"`` (default) routes on the MEASURED crossover (see
    _pick_scorer): block-max WAND when the query pairs a long posting
    list with selective companions (>2M candidate postings and
    total > ~450x the non-longest lists — where skipping whole blocks
    beats exhaustive decode by 3-6x), the vectorized accumulator
    everywhere else (dense terms: acc wins at any size).
    ``search_after=(score, doc_id)`` pages past a cursor (see
    topk_terms); ``serving`` as in the module docstring."""
    return topk_terms(reader, _qtokens(reader, query_text), k, mode,
                      with_urls, search_after, serving)


def topk_terms(
    reader: IndexReader,
    qterms: list[str],
    k: int = 10,
    mode: str = "auto",
    with_urls: bool = False,
    search_after: tuple[float, int] | None = None,
    serving: str = "spark",
) -> list[tuple]:
    """:func:`topk` over an explicit term list — the disjunctive
    scoring core shared by plain text queries and dictionary-expanded
    prefix / wildcard / fuzzy / more_like_this queries.

    ``search_after=(score, doc_id)``: ES deep pagination — return the
    next k hits STRICTLY after the cursor in (score desc, doc_id asc)
    order. Forces the accumulator scorer (the cursor mask needs every
    candidate's exact score, which block-max skipping doesn't
    produce) — the same trade ES makes when a cursor disables its
    top-score pruning."""
    qterms = sorted(set(qterms))
    if not qterms:
        return []
    scan = _ShardScan(reader, qterms, serving)
    if search_after is not None:
        after = (float(search_after[0]), int(search_after[1]))
        score_fn = functools.partial(_score_shard_acc, after=after)
    else:
        score_fn = _pick_scorer(mode, scan.dfs.values())
    fn = functools.partial(score_fn, idfs=scan.idfs(qterms), avgdl=scan.avgdl, k=k)
    top = _topk_merge(scan.run(fn), k)
    return _with_urls(reader, [top])[0] if with_urls else top


def topk_local(reader: IndexReader, query_text: str, k: int = 10, mode: str = "auto",
               with_urls: bool = False, search_after=None) -> list[tuple]:
    """:func:`topk` with ``serving="local"``."""
    return topk(reader, query_text, k, mode, with_urls, search_after, "local")


def topk_local_terms(reader: IndexReader, qterms: list[str], k: int = 10, mode: str = "auto",
                     with_urls: bool = False, search_after=None) -> list[tuple]:
    """:func:`topk_terms` with ``serving="local"``."""
    return topk_terms(reader, qterms, k, mode, with_urls, search_after, "local")


def _score_shard_acc_many(
    tbl,
    qterms_list: list[list[str]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    base: int,
    excl=None,
):
    """Batched accumulate scorer: decode every query term's postings
    ONCE per shard, then score all queries against the shared decoded
    arrays. The amortization is exactly why the batched path uses acc
    and not WAND — block skipping is per-query, shared decode is not."""
    p = _Postings(tbl, base)
    if not p.terms:
        return []
    docs = p.docs()
    con = _contrib(p.stream("tfs_vb"), p.stream("dls_vb"),
                   np.array([idfs[t] for t in p.terms])[p.tix], avgdl)
    at = {t: i for i, t in enumerate(p.terms)}
    out = []
    for qi, qterms in enumerate(qterms_list):
        spans = [p.span(at[t]) for t in qterms if t in at]
        if not spans:
            continue
        uniq, inv = np.unique(np.concatenate([docs[s] for s in spans]), return_inverse=True)
        sums = np.bincount(inv, weights=np.concatenate([con[s] for s in spans]))
        uniq, sums = _mask_deleted(uniq, sums, excl)
        out += [(qi, d, s) for d, s in _top(uniq, sums, k)]
    return out


def topk_many(
    reader: IndexReader,
    query_texts: list[str],
    k: int = 10,
    with_urls: bool = False,
    serving: str = "spark",
) -> list[list[tuple]]:
    """Batched BM25 top-k: ONE pruned block scan serves the whole query
    set (dashboards' worth of queries in one job instead of one Spark
    job per query). Returns one [(doc_id, score[, url])] list per input
    query, each rank-identical to :func:`topk` with mode="acc"
    (pytest-pinned).

    Plan shape: the scan is pruned to the UNION of the queries' term
    buckets with `term IN (union terms)` pushed down; each shard
    decodes every term once and accumulates all queries against the
    shared arrays (_score_shard_acc_many); the driver merges
    queries x shards x k rows. Scaling: work per shard is
    |postings(union q) ∩ shard| — the same scan a single worst-case
    query would do, amortized over the whole batch."""
    qterms_list = [sorted(set(_qtokens(reader, q))) for q in query_texts]
    all_terms = sorted({t for qt in qterms_list for t in qt})
    if not all_terms:
        return [[] for _ in query_texts]
    scan = _ShardScan(reader, all_terms, serving)
    fn = functools.partial(_score_shard_acc_many, qterms_list=qterms_list,
                           idfs=scan.idfs(all_terms), avgdl=scan.avgdl, k=k)
    by_q: dict[int, list[tuple[int, float]]] = {}
    for qi, d, s in scan.run(fn):
        by_q.setdefault(qi, []).append((d, s))
    tops = [_topk_merge(by_q.get(qi, []), k) for qi in range(len(query_texts))]
    return _with_urls(reader, tops) if with_urls else tops


def topk_many_local(reader: IndexReader, query_texts: list[str], k: int = 10) -> list[list[tuple]]:
    """:func:`topk_many` with ``serving="local"``."""
    return topk_many(reader, query_texts, k, serving="local")


# ------------------------------------------------------- function_score

def _fvf_log1p(factor: float):
    """ES field_value_factor(modifier=log1p): value = ln(1 + factor·f).
    The field here is dl (document token length) — the one numeric
    doc field the postings already carry, decoded anyway for BM25."""
    def f(dl: np.ndarray) -> np.ndarray:
        return np.log1p(factor * dl)
    return f


def function_score_topk_local(reader: IndexReader, query_text: str,
                              k: int = 10, factor: float = 0.05
                              ) -> list[tuple[int, float]]:
    """ES ``function_score`` (field_value_factor on doc length,
    modifier=log1p, boost_mode=multiply): every candidate's BM25 sum
    is multiplied by ln(1 + factor·dl) INSIDE the per-shard
    accumulator, before top-k selection — a doc-field factor reorders
    beyond any window, so unlike rescore it cannot be applied to a
    served page. Costs one scatter-max per shard on arrays the scorer
    already decoded."""
    qterms = sorted(set(_qtokens(reader, query_text)))
    if not qterms:
        return []
    scan = _ShardScan(reader, qterms, "local")
    fn = functools.partial(_score_shard_acc, idfs=scan.idfs(qterms), avgdl=scan.avgdl,
                           k=k, boost=_fvf_log1p(factor))
    return _topk_merge(scan.run(fn), k)


# ------------------------------------------------------------ rescore

def rescore_topk_local(reader: IndexReader, query_text: str,
                       phrase_text: str, k: int = 10, window: int = 50,
                       query_weight: float = 1.0,
                       rescore_weight: float = 1.0,
                       mode: str = "auto") -> list[tuple[int, float]]:
    """ES ``rescore``: re-rank the base query's top ``window`` hits
    with a phrase-proximity secondary query, combined as
    ``query_weight·base + rescore_weight·phrase`` (ES ``total``
    score_mode). The phrase component is the match_phrase pseudo-term
    BM25 (df over the whole index — the rescore query scores
    normally, only its APPLICATION is windowed); window docs without
    the phrase keep their base score. Cost: one plain top-window
    serving call + one positional candidate scan bounded by the
    phrase's selectivity."""
    base = topk_local(reader, query_text, k=window, mode=mode)
    if not base:
        return []
    matches = phrase_match_local(reader, [phrase_text])[0]
    N, avgdl = reader.global_stats()
    w = idf_fn(N, len(matches)) if matches else 0.0
    ph = {d: w * c / (c + K1 * (1 - B + B * l / avgdl))
          for d, c, l in matches}
    combined = [(d, query_weight * s + rescore_weight * ph.get(d, 0.0))
                for d, s in base]
    return sorted(combined, key=lambda p: (-p[1], p[0]))[:k]


# ------------------------------------------------------------ explain

def explain_score(reader: IndexReader, query_text: str, doc_id: int
                  ) -> dict:
    """ES ``_explain`` analog: the per-term BM25 breakdown for one
    (query, document) pair — tf, df, idf, dl, avgdl and each term's
    contribution, summing to exactly the score every scorer returns
    (same decode + float pipeline). Reads only the query terms'
    pruned blocks and decodes only the document's shard."""
    doc_id = int(doc_id)
    qterms = sorted(set(_qtokens(reader, query_text)))
    out = {"doc_id": doc_id, "total": 0.0, "matched": False, "terms": {}}
    if not qterms:
        return out
    scan = _ShardScan(reader, qterms, "local")
    if not scan.dfs:
        return out
    out["avgdl"] = float(scan.avgdl)
    dels = reader.deletes()
    if dels is not None and doc_id in set(int(x) for x in dels):
        out["deleted"] = True
        return out
    size = reader.cfg.shard_size

    def postings_of_doc(tbl, base, excl):
        if base != doc_id // size * size:
            return []
        p = _Postings(tbl, base)
        # a term's doc stream is unique, so each term hits at most once
        hit = np.flatnonzero(p.docs() == doc_id)
        if not hit.size:
            return []
        tfs, dls = p.stream("tfs_vb"), p.stream("dls_vb")
        return [(p.terms[p.tix[i]], float(tfs[i]), float(dls[i])) for i in hit]

    for term, tf, dl in scan.run(postings_of_doc):
        w = idf_fn(scan.N, scan.dfs[term])
        contrib = float(_contrib(np.array([tf]), np.array([dl]), w, scan.avgdl)[0])
        out["terms"][term] = {"tf": tf, "df": scan.dfs[term], "idf": float(w),
                              "dl": dl, "contribution": contrib}
        out["total"] += contrib
        out["matched"] = True
    return out


# --------------------------------------------------------- more_like_this

def mlt_select_terms(reader: IndexReader, seed_text: str,
                     max_query_terms: int = 25) -> list[str]:
    """ES ``more_like_this`` term selection: the seed's terms ranked
    by tf·idf WITHIN the seed (Lucene's interestingTerms), capped at
    ``max_query_terms`` (ES default 25), ties broken term-asc. The df
    probe reads only the thin (term, n) block columns for the seed's
    own distinct terms — O(seed vocabulary), no posting decode."""
    from collections import Counter

    tf = Counter(_qtokens(reader, seed_text))
    if not tf:
        return []
    dfs = reader.term_dfs_local(sorted(tf))
    N, _ = reader.global_stats()
    scored = sorted(
        ((tf[t] * idf_fn(N, df), t) for t, df in dfs.items() if df),
        key=lambda p: (-p[0], p[1]))
    return [t for _, t in scored[:max_query_terms]]


def mlt_topk(reader: IndexReader, seed_text: str,
             exclude_doc: int | None = None, k: int = 10,
             max_query_terms: int = 25, mode: str = "auto",
             serving: str = "spark") -> list[tuple]:
    """ES ``more_like_this``: select the seed's interesting terms, run
    the disjunctive BM25 scorer bucket-pruned on them, and drop the
    seed itself from the page (ES excludes ``like`` docs from the
    hits)."""
    terms = mlt_select_terms(reader, seed_text, max_query_terms)
    if not terms:
        return []
    extra = 1 if exclude_doc is not None else 0
    res = topk_terms(reader, terms, k + extra, mode, serving=serving)
    return [p for p in res if p[0] != exclude_doc][:k]


def mlt_topk_local(reader: IndexReader, seed_text: str, exclude_doc: int | None = None,
                   k: int = 10, max_query_terms: int = 25, mode: str = "auto") -> list[tuple]:
    """:func:`mlt_topk` with ``serving="local"``."""
    return mlt_topk(reader, seed_text, exclude_doc, k, max_query_terms, mode, "local")


# ----------------------------------------------------------------- phrase search

# local-doc position keys: key = local_doc * 2^32 + token_position.
# Positions are bounded by dl < 2^32 (a single document with 4B+
# tokens is not a document) and local docs by shard_size, so the key
# fits int64 with no overlap — the shard-local twin of the global-id
# discipline everywhere else.
_POS_SHIFT = np.int64(1) << np.int64(32)


def _require_positions(reader: IndexReader, what: str) -> None:
    if not reader.positions:
        raise ValueError(
            f"index was built with positions=False; {what} needs the "
            "positional payload (rebuild with IndexConfig(positions=True))")


def _decode_term_positions(tbl):
    """Decode one shard's posting runs INCLUDING the positional
    payload. Returns {term: (docs, dls, doc_rep, pos)} where docs/dls
    align per posting (shard-local doc ids) and doc_rep/pos align per
    token occurrence (np.repeat(docs, tfs)): slices of the shard's
    one-pass decode."""
    p = _Postings(tbl)
    docs = p.docs()
    tfs = p.stream("tfs_vb", np.int64)
    dls = p.stream("dls_vb", np.int64)
    rep, pos = np.repeat(docs, tfs), p.positions(tfs)
    tok = np.concatenate(([0], np.cumsum(tfs)))[p.offs]  # term i's token offsets
    return {t: (docs[p.span(i)], dls[p.span(i)], rep[tok[i]:tok[i + 1]], pos[tok[i]:tok[i + 1]])
            for i, t in enumerate(p.terms)}


def _phrase_hits(decoded: dict, slots: list[list[str]]
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Positional intersection for ONE phrase in ONE shard. ``slots``
    holds, per phrase position, the terms that may fill it: one term
    each for match_phrase; the prefix's dictionary expansions in the
    last slot of match_phrase_prefix (Lucene MultiPhraseQuery). Slot j
    contributes the sorted-unique key set {doc * 2^32 + (pos - j)}
    over its terms; the running np.intersect1d leaves exactly the
    phrase START positions, so overlapping occurrences count —
    match_phrase semantics, identical to the naive in-row scan
    (entry_queries._ptf_expr, pytest-pinned). Returns shard-local
    (docs, ptf, dl) or None when a slot has no term in the shard."""
    keys = None
    for j, slot in enumerate(slots):
        parts = []
        for t in slot:
            if t in decoded:
                _, _, doc_rep, pos = decoded[t]
                m = pos >= j
                parts.append(doc_rep[m] * _POS_SHIFT + (pos[m] - j))
        if not parts:
            return None
        kj = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        keys = kj if keys is None else np.intersect1d(keys, kj, assume_unique=True)
        if keys.size == 0:
            return None
    udoc, ptf = np.unique(keys // _POS_SHIFT, return_counts=True)
    docs0, dls0, _, _ = decoded[slots[0][0]]  # the first slot is one fixed term
    return udoc, ptf.astype(np.int64), dls0[np.searchsorted(docs0, udoc)]


def _phrase_shard(tbl, base: int, excl, slots_list: list):
    """Every live candidate of each phrase in one shard, as
    (phrase index, global docs, ptf, dl). The tombstone mask runs on
    the candidates, so the phrase pseudo-term df counts live matches
    only."""
    decoded = _decode_term_positions(tbl)
    for pi, slots in enumerate(slots_list):
        hits = _phrase_hits(decoded, slots) if slots else None
        if hits is None:
            continue
        doc, ptf, dl = hits
        doc = doc + base
        if excl is not None:
            m = ~np.isin(doc, excl, assume_unique=True)
            doc, ptf, dl = doc[m], ptf[m], dl[m]
        yield pi, doc, ptf, dl


def _phrase_match_rows(tbl, base, excl, slots_list):
    """One shard of _phrase_match: (phrase index, doc_id, ptf, dl)."""
    return [(pi, int(d), int(c), int(l))
            for pi, doc, ptf, dl in _phrase_shard(tbl, base, excl, slots_list)
            for d, c, l in zip(doc, ptf, dl)]


def _phrase_page_rows(tbl, base, excl, slots, k, avgdl):
    """One shard's share of a phrase top-k, chosen before df is known:
    idf is one positive constant across the phrase's candidates, so
    the page order is the order of the df-free factor
    ptf / (ptf + K1·(1 − B + B·dl/avgdl)). Keeps the top k by that
    factor plus every candidate within the float margin of the k-th
    value (the driver's score rounds differently), at most k (by
    doc_id) per identical (ptf, dl) pair — those score identically.
    Rows are (doc_id, ptf, dl, n); the shard's live candidate count n
    rides on its first row (0 on the rest), and the driver sums it
    into df."""
    for _, doc, ptf, dl in _phrase_shard(tbl, base, excl, [slots]):
        n = len(doc)
        if n > k:
            f = ptf / (ptf + K1 * (1 - B + B * dl / avgdl))
            kth = np.partition(f, n - k)[n - k] if k > 0 else np.inf
            o = np.flatnonzero(f * _UB_MARGIN >= kth)
            o = o[np.lexsort((doc[o], dl[o], ptf[o]))]
            first = np.concatenate(([True], (ptf[o][1:] != ptf[o][:-1])
                                    | (dl[o][1:] != dl[o][:-1])))
            idx = np.arange(len(o))
            rank = idx - np.maximum.accumulate(np.where(first, idx, 0))
            o = np.sort(o[rank < k])
            doc, ptf, dl = doc[o], ptf[o], dl[o]
        return [(int(d), int(c), int(l), n if i == 0 else 0)
                for i, (d, c, l) in enumerate(zip(doc, ptf, dl))]
    return []


def _phrase_topk(reader: IndexReader, slots: list[list[str]], k: int,
                 serving: str) -> list[tuple[int, int, float]]:
    """BM25 top-k of one phrase (given as slots, see _phrase_hits)
    scored as ONE pseudo-term: tf = phrase start count, df = live docs
    containing the phrase — ES match_phrase scoring."""
    scan = _ShardScan(reader, sorted({t for s in slots for t in s}), serving,
                      with_positions=True)
    fn = functools.partial(_phrase_page_rows, slots=slots, k=k, avgdl=scan.avgdl)
    rows = scan.run(fn)
    df = sum(r[3] for r in rows)
    if not df:
        return []
    w = idf_fn(scan.N, df)
    avgdl = scan.avgdl
    scored = [(d, ptf, w * ptf / (ptf + K1 * (1 - B + B * dl / avgdl)))
              for d, ptf, dl, _ in rows]
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:k]


def _phrase_match(reader: IndexReader, slots_list: list
                  ) -> list[list[tuple[int, int, int]]]:
    """ALL live candidates of each phrase (slots, see _phrase_hits) as
    [(doc_id, phrase_tf, dl)] — one driver-local read of the union
    terms WITH pos_vb, shared per-term decode per shard."""
    out: list[list[tuple[int, int, int]]] = [[] for _ in slots_list]
    terms = sorted({t for slots in slots_list for s in slots for t in s})
    if not terms:
        return out
    scan = _ShardScan(reader, terms, "local", with_positions=True)
    fn = functools.partial(_phrase_match_rows, slots_list=slots_list)
    for pi, d, c, l in scan.run(fn):
        out[pi].append((d, c, l))
    return out


def phrase_match_local(
    reader: IndexReader, phrase_texts: list[str]
) -> list[list[tuple[int, int, int]]]:
    """Exact-phrase candidate scan over the positional index (driver-
    local): ONE pruned pyarrow read of the union terms WITH pos_vb,
    shared per-term decode per shard, per-phrase positional
    intersection. Returns, per phrase, ALL matching docs as
    [(doc_id, phrase_tf, dl)] — candidates are bounded by min(df of
    the phrase terms), which is what makes phrases cheap: selectivity
    compounds.

    This is the reference's ES match_phrase analog
    (INSTALL-and-USAGE.md query examples); Lucene answers it from the
    .prx positions exactly this way (doc-at-a-time position
    intersection)."""
    _require_positions(reader, "phrase queries")
    return _phrase_match(reader, [[[t] for t in _qtokens(reader, p)]
                                  for p in phrase_texts])


def phrase_topk(
    reader: IndexReader, phrase_text: str, k: int = 10,
    with_urls: bool = False, serving: str = "spark",
) -> list[tuple]:
    """BM25-scored exact-phrase top-k from the positional index: the
    phrase scores as ONE pseudo-term (tf = phrase start count, df =
    docs containing the phrase) — ES match_phrase scoring. Returns
    [(doc_id, phrase_tf, score[, url])] under the pinned
    (-score, doc_id) tie-break; rank-identical to the naive Catalyst
    scorer entry_queries.q_phrase_topk (pytest-pinned).

    Plan shape mirrors :func:`topk`: ONE pruned posting scan (pos_vb
    read ONLY here), the positional intersection per shard against
    shard-local arrays, and each shard returns its candidate count plus
    its page (_phrase_page_rows) — candidates never concentrate on the
    driver, which is what a million-hit phrase needs."""
    _require_positions(reader, "phrase queries")
    pterms = _qtokens(reader, phrase_text)
    if not pterms:
        return []
    top = _phrase_topk(reader, [[t] for t in pterms], k, serving)
    return _with_urls(reader, [top])[0] if with_urls else top


def phrase_topk_local(reader: IndexReader, phrase_text: str, k: int = 10
                      ) -> list[tuple[int, int, float]]:
    """:func:`phrase_topk` with ``serving="local"``."""
    return phrase_topk(reader, phrase_text, k, serving="local")


def _phrase_prefix_slots(reader: IndexReader, phrase_text: str,
                         max_terms: int) -> list[list[str]]:
    """match_phrase_prefix slots: the fixed tokens, then the last
    token's dictionary expansions (termdict.expand_prefix, max_terms
    cap, highest-df kept) as the final slot."""
    from .termdict import ensure_term_dict, expand_prefix

    _require_positions(reader, "match_phrase_prefix")
    toks = _qtokens(reader, phrase_text)
    if len(toks) < 2:
        raise ValueError(
            "match_phrase_prefix needs >= 2 tokens; use prefix_topk "
            "for a single prefix term")
    ensure_term_dict(reader.spark, reader)
    exp_terms, _ = expand_prefix(reader, toks[-1], max_terms)
    return [[t] for t in toks[:-1]] + [exp_terms]


def phrase_prefix_topk_local(
    reader: IndexReader, phrase_text: str, k: int = 10,
    max_terms: int = 50,
) -> list[tuple[int, int, float]]:
    """ES ``match_phrase_prefix`` (query-bar autocomplete on a phrase):
    the LAST token of ``phrase_text`` is a prefix, expanded through the
    term-dictionary sidecar; the phrase then matches where the fixed
    tokens are followed by ANY expansion at the next position (Lucene
    MultiPhraseQuery). Scored as one pseudo-term like phrase_topk
    (tf = start-position count, df = matching docs). Returns
    [(doc_id, ptf, score)]; requires >= 2 tokens (a single prefix
    token is a plain prefix query — use termdict.prefix_topk)."""
    slots = _phrase_prefix_slots(reader, phrase_text, max_terms)
    return _phrase_topk(reader, slots, k, "local") if slots[-1] else []


# --------------------------------------------------- significant terms

def significant_terms(
    reader: IndexReader,
    match_df,
    top_n: int = 10,
):
    """ES ``significant_terms`` aggregation served from the index: for
    every term, compare its document frequency INSIDE a match set
    (foreground) against the whole index (background) with the JLH
    score — (fg% − bg%) · (fg% / bg%), keeping terms more frequent in
    the foreground (the ES definition; public ES docs). This is the
    "what is unusual about these matching docs" Kibana panel.

    Scale shape: the match set never passes through the driver — it is
    CO-GROUPED with the posting blocks on the shard key (one shuffle of
    (doc_id) rows + the block scan both engines already do), each shard
    task probes its decoded doc streams against ITS OWN match slice
    (sorted searchsorted membership), and only (term, fg_df, df)
    partials re-aggregate. ES itself caps this cost with shard-level
    sampling; at 10^12 docs you would bound match_df the same way.

    Returns a DataFrame (term, fg_df, bg_df, jlh) of the top_n terms
    by (jlh desc, term asc)."""
    spark = reader.spark
    shard_size = reader.cfg.shard_size
    n_fg = match_df.count()
    if n_fg == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, jlh double")
    N, _ = reader.global_stats()
    # cogroup keys must agree in TYPE: the hive partition column reads
    # back int32 while doc_id arithmetic is int64 — mismatched key
    # types silently mispair the groups
    blocks = reader.postings_blocks_all().withColumn(
        "shard", F.col("shard").cast("long"))
    match_sharded = match_df.withColumn(
        "shard", (F.col("doc_id") / shard_size).cast("long"))

    def _per_shard(key, blocks_tbl, match_tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        # the unpruned scan also returns the in-band segment-metrics
        # rows (block_id = -1, term NULL): drop them here
        blocks_tbl = blocks_tbl.filter(pc.greater_equal(blocks_tbl["block_id"], 0))
        match_ids = np.sort(match_tbl.column("doc_id").to_numpy())
        p = _Postings(blocks_tbl, key[0].as_py() * shard_size)
        terms, fg, df = [], np.empty(0, np.int64), np.empty(0, np.int64)
        if match_ids.size and p.terms:
            # background df deliberately counts tombstoned docs — like N
            # (global_stats), stats include deletes until compaction
            # (Lucene behavior); the FOREGROUND is tombstone-clean
            # because the match set (bool_match_ids) already masks
            d = p.docs()
            hit = match_ids[np.minimum(np.searchsorted(match_ids, d), match_ids.size - 1)] == d
            terms, df = p.terms, np.diff(p.offs)
            fg = np.bincount(p.tix[hit], minlength=len(terms))
        return pa.table({"term": pa.array(terms, pa.string()),
                         "fg_df": pa.array(fg, pa.int64()),
                         "df_part": pa.array(df, pa.int64())})

    partials = (
        blocks.groupby("shard")
        .cogroup(match_sharded.groupby("shard"))
        .applyInArrow(_per_shard, schema="term string, fg_df long, df_part long")
    )
    agg = partials.groupBy("term").agg(
        F.sum("fg_df").alias("fg_df"), F.sum("df_part").alias("bg_df"))
    fg_pct = F.col("fg_df") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df") / F.lit(float(N))
    return (
        agg.filter(F.col("fg_df") > 0)
        .withColumn("jlh", F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6))
        .filter(fg_pct > bg_pct)
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(top_n)
    )


def _span_near_rows(tbl, base, excl, pairs):
    """One shard of span_near_local: (pair index, doc_id, n_pairs)."""
    decoded = _decode_term_positions(tbl)
    rows = []
    for pi, (ta, tb, w) in enumerate(pairs):
        if ta not in decoded or tb not in decoded:
            continue
        _, _, rep_a, pos_a = decoded[ta]
        _, _, rep_b, pos_b = decoded[tb]
        ka = rep_a * _POS_SHIFT + pos_a
        kb = rep_b * _POS_SHIFT + pos_b
        lo = np.maximum(ka - w, rep_a * _POS_SHIFT)
        counts = (np.searchsorted(kb, ka + w, side="right")
                  - np.searchsorted(kb, lo, side="left"))
        m = counts > 0
        if not m.any():
            continue
        udoc, inv = np.unique(rep_a[m], return_inverse=True)
        npairs = np.bincount(inv, weights=counts[m]).astype(np.int64)
        gdoc = udoc + base
        if excl is not None:
            keep = ~np.isin(gdoc, excl, assume_unique=True)
            gdoc, npairs = gdoc[keep], npairs[keep]
        rows += [(pi, int(d), int(c)) for d, c in zip(gdoc, npairs)]
    return rows


def span_near_local(
    reader: IndexReader, pairs: list[tuple[str, str, int]]
) -> list[list[tuple[int, int]]]:
    """ES ``span_near`` analog over the positional payload: for each
    (term_a, term_b, window) return every doc containing the terms
    within ``window`` token positions of each other (either order),
    with the PAIR COUNT — |{(p_a, p_b) : |p_a - p_b| <= window}| — as
    the proximity strength. Driver-local like phrase_match_local; one
    pruned pyarrow read for the union of the pairs' terms.

    Per shard the count is one vectorized two-sided searchsorted over
    the (doc, pos) key arrays (window < 2^32 keeps a doc's key range
    disjoint from its neighbors', so clamping the low bound at the
    doc's base is the only boundary care needed) — no per-doc loop.

    Returns, per pair, [(doc_id, n_pairs)] with n_pairs > 0."""
    _require_positions(reader, "span_near")
    all_terms = sorted({t for a, b, _ in pairs for t in (a, b)})
    out: list[list[tuple[int, int]]] = [[] for _ in pairs]
    if not all_terms:
        return out
    scan = _ShardScan(reader, all_terms, "local", with_positions=True)
    fn = functools.partial(_span_near_rows, pairs=pairs)
    for pi, d, c in scan.run(fn):
        out[pi].append((d, c))
    return out


# ----------------------------------------------------------------- bool queries

def _score_shard_bool(
    tbl,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    base: int,
    must: frozenset,
    must_not: frozenset,
    excl=None,
):
    """Accumulator scorer with ES ``bool`` gating. ``idfs`` holds the
    SCORING terms (must + should); ``must_not`` terms appear in the
    shard's blocks only as exclusion sources. A doc survives iff it
    carries every ``must`` term and no ``must_not`` term; its score is
    the plain BM25 sum over the scoring terms it contains — exactly
    Lucene's BooleanQuery scoring (must_not never contributes, should
    affects only the score).

    The must gate is a bincount over each scoring doc's count of
    distinct must terms (per-(term,shard) doc streams are unique, so
    count == membership); exclusion is one sorted-side searchsorted
    membership probe. Everything stays vectorized numpy — the bool
    gate adds no decode work beyond the extra must_not postings."""
    p = _Postings(tbl, base)
    sel = p.mask(idfs)
    if not sel.any():
        return []
    docs = p.docs()
    w = np.array([idfs.get(t, 0.0) for t in p.terms])[p.tix[sel]]
    uniq, inv = np.unique(docs[sel], return_inverse=True)
    sums = np.bincount(inv, weights=_contrib(
        p.stream("tfs_vb")[sel], p.stream("dls_vb")[sel], w, avgdl))
    mask = np.ones(len(uniq), dtype=bool)
    if must:
        mdocs = docs[p.mask(must)]
        # every must doc is also a scoring doc, so searchsorted hits exactly
        cnt = np.bincount(np.searchsorted(uniq, mdocs), minlength=len(uniq))
        mask &= cnt == len(must)
    # tombstones join the must_not exclusion stream — one shared probe
    bad = docs[p.mask(must_not)]
    if excl is not None:
        bad = np.concatenate((bad, np.asarray(excl, dtype=np.int64)))
    if bad.size:
        mask &= ~np.isin(uniq, np.unique(bad), assume_unique=True)
    return _top(uniq[mask], sums[mask], k)


def _bool_terms(reader, must_text: str, should_text: str,
                must_not_text: str):
    must = frozenset(_qtokens(reader, must_text))
    should = frozenset(_qtokens(reader, should_text))
    must_not = frozenset(_qtokens(reader, must_not_text))
    if must & must_not:
        # a term required and forbidden at once can match nothing
        return None
    return must, should - must_not, must_not


def bool_topk(
    reader: IndexReader,
    must: str,
    should: str = "",
    must_not: str = "",
    k: int = 10,
    serving: str = "spark",
) -> list[tuple[int, float]]:
    """ES ``bool`` query (Lucene BooleanQuery semantics): docs matching
    ALL ``must`` terms and NO ``must_not`` term, scored by the BM25 sum
    over the distinct must+should terms they contain, ties broken by
    doc_id. One pruned block scan covers scoring AND exclusion terms;
    the bool gate runs inside the same per-shard vectorized scorer as
    :func:`topk`, so the driver merge still sees at most shards x k
    rows."""
    parsed = _bool_terms(reader, must, should, must_not)
    if parsed is None:
        return []
    mset, sset, nset = parsed
    scoring = sorted(mset | sset)
    if not scoring:
        return []
    scan = _ShardScan(reader, sorted(mset | sset | nset), serving)
    if any(t not in scan.dfs for t in mset):
        return []  # a required term absent from the corpus matches nothing
    fn = functools.partial(_score_shard_bool, idfs=scan.idfs(scoring), avgdl=scan.avgdl,
                           k=k, must=mset, must_not=nset)
    return _topk_merge(scan.run(fn), k)


def bool_topk_local(reader: IndexReader, must: str, should: str = "", must_not: str = "",
                    k: int = 10) -> list[tuple[int, float]]:
    """:func:`bool_topk` with ``serving="local"``."""
    return bool_topk(reader, must, should, must_not, k, "local")


def _match_shard_bool(tbl, base: int, excl, must: frozenset,
                      should: frozenset, must_not: frozenset):
    """Filter-context bool matching for one shard: doc ids carrying
    every must term (or, with no must, any should term) and no
    must_not term — NO scores, NO top-k truncation, and only the gap
    stream decodes (tf/dl are never touched, the cheapest possible
    pass over the blocks). Returns ``(doc_id,)`` rows of global doc
    ids, ascending."""
    p = _Postings(tbl, base)
    docs = p.docs()
    if must:
        if sum(t in must for t in p.terms) < len(must):
            return []  # a required term absent from this shard
        uniq, cnt = np.unique(docs[p.mask(must)], return_counts=True)
        matched = uniq[cnt == len(must)]
    else:
        matched = np.unique(docs[p.mask(should)])
    bad = docs[p.mask(must_not)]
    if excl is not None:  # tombstones join the must_not exclusion
        bad = np.concatenate((bad, np.asarray(excl, dtype=np.int64)))
    if bad.size and matched.size:
        matched = matched[~np.isin(matched, np.unique(bad), assume_unique=True)]
    return list(zip(matched.tolist()))


def bool_match_ids(
    reader: IndexReader,
    must: str,
    should: str = "",
    must_not: str = "",
):
    """Distributed bool MATCH SET — the ``query`` half of an ES
    ``_search`` body with ``aggs`` (every Kibana panel): ALL doc ids
    matching the bool filter, as a DataFrame[doc_id] that downstream
    aggregations join against. Unlike :func:`bool_topk` there is no
    top-k and no scoring — filter-context semantics (ES skips scoring
    there too), so only the gap streams decode.

    Scale shape: the match set never concentrates on the driver — the
    shard frame is returned uncollected and flows task-to-task into the
    aggregation join (AQE converts that join to broadcast at runtime
    when the match set turns out small, the common dashboard-filter
    case)."""
    spark = reader.spark
    schema = "doc_id long"
    parsed = _bool_terms(reader, must, should, must_not)
    if parsed is None:
        return spark.createDataFrame([], schema)
    mset, sset, nset = parsed
    match_terms = sorted(mset) if mset else sorted(sset)
    if not match_terms:
        return spark.createDataFrame([], schema)
    fn = functools.partial(_match_shard_bool, must=mset, should=sset,
                           must_not=nset)
    return _shard_frame(reader, sorted(set(match_terms) | nset), fn, schema)
