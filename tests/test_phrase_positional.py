"""Positional postings (pos_vb) + phrase search tests.

Pins: (1) the position codec round-trips (per-entry delta varbyte,
block-tiled exactly like the posting streams); (2) phrase_match_local
over the physical index counts phrase occurrences identically to a
naive token-window scan — including OVERLAPPING occurrences and
phrases crossing posting-block boundaries; (3) an index built with
positions=False stores nulls, serves BM25 unchanged, and fails phrase
queries loudly; (4) BM25 serving never reads pos_vb (plan-pinned
column pruning on both the Spark scan and the pyarrow local scan);
(5) the gated naive scorer and the positional-index gate agree.
"""

from __future__ import annotations

import numpy as np
import pytest

from logsentinelai_spark.functions.tokenizer import tokens
from logsentinelai_spark.index.build import IndexConfig, build_index, extend_index
from logsentinelai_spark.index.codec import (
    decode_positions, encode_pos_blocks, gather_entry_slices,
)
from logsentinelai_spark.index.query import (
    phrase_match_local, phrase_topk_local, topk_local,
)
from logsentinelai_spark.index.reader import IndexReader

# handcrafted corpus: overlap runs, cross-doc repeats, long docs that
# force multi-block postings at block_size=4
_TEXTS = {
    "a": "alpha beta gamma alpha beta delta",
    "b": "alpha alpha alpha beta",          # "alpha alpha" overlaps -> ptf 2
    "c": "beta gamma " * 9 + "alpha",       # dense beta/gamma postings
    "d": "solo",
    "e": "gamma alpha beta gamma alpha beta gamma",
    "f": "alpha beta " * 7,                  # ptf("alpha beta") = 7
    "g": "x " * 3,                           # "x x x": ptf("x x") = 2
    "h": "beta",
}
_CFG = IndexConfig(shard_size=4, wave_shards=1, n_buckets=2, block_size=4,
                   use_text_col=True, positions=True)


def _pages(spark, texts: dict[str, str]):
    return spark.createDataFrame(
        [(u, t) for u, t in texts.items()], "url string, text string")


def _naive_phrase(texts: dict[str, str], phrase: str) -> dict[int, tuple[int, int]]:
    """doc(url-rank) -> (ptf with overlaps, dl)."""
    pts = phrase.split()
    L = len(pts)
    out = {}
    for i, u in enumerate(sorted(texts)):
        toks = tokens(texts[u])
        c = sum(1 for j in range(len(toks) - L + 1) if toks[j:j + L] == pts)
        if c:
            out[i] = (c, len(toks))
    return out


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("posidx") / "db")
    build_index(spark, _pages(spark, _TEXTS), idx, _CFG)
    return idx


# --------------------------------------------------------------- codec

def test_pos_codec_roundtrip():
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 9, size=64).astype(np.int64)
    pos = np.concatenate([
        np.sort(rng.choice(10_000, size=t, replace=False)) for t in tfs
    ]).astype(np.int64)
    starts = np.cumsum(tfs) - tfs
    deltas = pos.copy()
    deltas[1:] -= pos[:-1]
    deltas[starts] = pos[starts]
    import pyarrow as pa
    # tile the 64 entries into blocks of uneven sizes
    block_ns = np.array([10, 20, 30, 4], dtype=np.int64)
    arr = encode_pos_blocks(pa, deltas, tfs, block_ns)
    assert len(arr) == 4
    got = decode_positions([arr[i].as_py() for i in range(4)], tfs)
    np.testing.assert_array_equal(got, pos)


def test_gather_entry_slices_matches_loop():
    rng = np.random.default_rng(3)
    sizes = rng.integers(0, 5, size=40).astype(np.int64)
    vals = rng.integers(0, 1000, size=int(sizes.sum())).astype(np.int64)
    starts = np.cumsum(sizes) - sizes
    order = rng.permutation(40)
    got = gather_entry_slices(vals, starts, sizes, order)
    exp = np.concatenate([
        vals[starts[i]:starts[i] + sizes[i]] for i in order
    ]) if sizes.sum() else np.empty(0, dtype=np.int64)
    np.testing.assert_array_equal(got, exp)


# -------------------------------------------------------- phrase identity

@pytest.mark.parametrize("phrase", [
    "alpha beta",        # common bigram, multi-doc
    "alpha alpha",       # overlap semantics (doc b: ptf 2)
    "x x",               # overlap inside "x x x" -> ptf 2
    "beta gamma alpha",  # trigram crossing block boundaries in doc c
    "alpha beta gamma",  # trigram hitting docs a and e (doc e twice)
    "solo solo",         # zero hits
    "solo",              # single-term phrase
    "missing term",      # term absent from the vocabulary
])
def test_phrase_match_identical_to_naive(spark, built, phrase):
    r = IndexReader(spark, built)
    got = {d: (p, l) for d, p, l in phrase_match_local(r, [phrase])[0]}
    assert got == _naive_phrase(_TEXTS, phrase)


def test_phrase_batch_and_topk(spark, built):
    r = IndexReader(spark, built)
    batch = phrase_match_local(r, ["alpha beta", "x x"])
    assert {d: (p, l) for d, p, l in batch[0]} == _naive_phrase(_TEXTS, "alpha beta")
    assert {d: (p, l) for d, p, l in batch[1]} == _naive_phrase(_TEXTS, "x x")
    top = phrase_topk_local(r, "alpha beta", k=3)
    assert len(top) == 3
    scores = [s for _, _, s in top]
    assert scores == sorted(scores, reverse=True)
    # doc f (rank 5) holds the most "alpha beta" starts -> highest tf
    by_doc = {d: ptf for d, ptf, _ in top}
    assert by_doc[5] == 7


def test_phrase_survives_extend_index(spark, built, tmp_path):
    idx = str(tmp_path / "db")
    v1 = {u: t for u, t in _TEXTS.items() if u < "e"}
    build_index(spark, _pages(spark, v1), idx, _CFG)
    extend_index(spark, _pages(spark, _TEXTS), idx)
    r = IndexReader(spark, idx)
    got = {d: (p, l) for d, p, l in phrase_match_local(r, ["alpha beta"])[0]}
    # extend ranks NEW urls among themselves above the old id high-water
    # mark (next shard boundary) — recompute the expected id mapping
    old = sorted(v1)
    new = sorted(set(_TEXTS) - set(v1))
    hw = len(old)
    id_base = ((hw + _CFG.shard_size - 1) // _CFG.shard_size) * _CFG.shard_size
    ids = {u: i for i, u in enumerate(old)}
    ids.update({u: id_base + i for i, u in enumerate(new)})
    exp = {}
    for u, t in _TEXTS.items():
        toks = tokens(t)
        c = sum(1 for j in range(len(toks) - 1) if toks[j:j + 2] == ["alpha", "beta"])
        if c:
            exp[ids[u]] = (c, len(toks))
    assert got == exp


# ---------------------------------------------------- positions=False path

def test_positions_off_nulls_and_loud_failure(spark, tmp_path):
    idx = str(tmp_path / "db")
    cfg = IndexConfig(shard_size=4, wave_shards=1, n_buckets=2, block_size=4,
                      use_text_col=True, positions=False)
    build_index(spark, _pages(spark, _TEXTS), idx, cfg)
    r = IndexReader(spark, idx)
    assert r.positions is False
    pdf = r.postings_blocks_local(["alpha"], with_positions=True)
    assert pdf["pos_vb"].isna().all()
    with pytest.raises(ValueError, match="positions=False"):
        phrase_match_local(r, ["alpha beta"])
    # BM25 serving is unaffected by the missing payload
    assert topk_local(r, "alpha beta", k=3)


# ------------------------------------------------------- pruning plan pins

def test_bm25_scan_never_reads_pos_vb(spark, built):
    """A BM25 shard task projects the positional column away before
    its parquet read; a phrase task reads it. Pinned on the columns the
    Spark serving tasks hand their shard function — through both
    wrappers of the one task body, the collected RDD job
    (_ShardScan.run) and the mapInArrow frame (_shard_frame) — and on
    the local read."""
    from logsentinelai_spark.index.query import _shard_frame, _ShardScan

    def fn(tbl, base, excl):
        return [(",".join(tbl.column_names),)]

    def rdd_columns(with_positions):
        rows = _ShardScan(r, ["alpha"], "spark", with_positions).run(fn)
        return [set(cols.split(",")) for cols, in rows]

    def frame_columns(with_positions):
        frame = _shard_frame(r, ["alpha"], fn, "cols string", with_positions)
        return [set(row.cols.split(",")) for row in frame.collect()]

    r = IndexReader(spark, built)
    for task_columns in (rdd_columns, frame_columns):
        narrow = task_columns(False)
        assert narrow and all("pos_vb" not in c and "gaps_vb" in c for c in narrow), \
            f"BM25 Spark tasks must prune the positional column ({task_columns.__name__})"
        wide = task_columns(True)
        assert wide and all("pos_vb" in c for c in wide), task_columns.__name__
    pdf = r.postings_blocks_local(["alpha"])
    assert "pos_vb" not in pdf.columns


# ----------------------------------------------------- gate cross-identity

def test_gate_naive_vs_positional_index(spark):
    from logsentinelai_spark.entry_queries import q_phrase_topk, q_phrase_topk_idx

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, q_phrase_topk(spark, sf).collect()))
    b = sorted(map(tuple, q_phrase_topk_idx(spark, sf).collect()))
    assert a == b


def test_phrase_topk_spark_rank_identical_to_local(spark, built):
    from logsentinelai_spark.index.query import phrase_topk

    r = IndexReader(spark, built)
    for phrase in ("alpha beta", "alpha alpha", "beta gamma alpha", "solo"):
        local = phrase_topk_local(r, phrase, k=5)
        dist = phrase_topk(r, phrase, k=5)
        assert [(d, p) for d, p, _ in dist] == [(d, p) for d, p, _ in local]
        for (_, _, a), (_, _, b) in zip(dist, local):
            assert abs(a - b) <= 1e-9
    assert phrase_topk(r, "solo solo", k=5) == []
    with_urls = phrase_topk(r, "alpha beta", k=2, with_urls=True)
    assert all(isinstance(u, str) for *_, u in with_urls)


def test_span_near_identical_to_naive(spark, built):
    from logsentinelai_spark.index.query import span_near_local

    r = IndexReader(spark, built)
    pairs = [("alpha", "beta", 2), ("beta", "gamma", 1),
             ("gamma", "delta", 4), ("solo", "alpha", 3)]
    got = span_near_local(r, pairs)
    for (a, b, w), lst in zip(pairs, got):
        exp = {}
        for i, u in enumerate(sorted(_TEXTS)):
            toks = tokens(_TEXTS[u])
            pa = [j for j, t in enumerate(toks) if t == a]
            pb = [j for j, t in enumerate(toks) if t == b]
            n = sum(1 for x in pa for y in pb if abs(x - y) <= w)
            if n:
                exp[i] = n
        assert dict(lst) == exp, (a, b, w)
