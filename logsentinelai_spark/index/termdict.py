"""Sorted term dictionary sidecar + prefix / wildcard / fuzzy queries.

ES ``prefix`` / ``wildcard`` / ``fuzzy`` / ``match_phrase_prefix`` /
query-bar autocomplete are all Lucene term-dictionary walks (range
scans or automaton intersections over the ``.tim`` terms index). Our
posting layout prunes by HASHED ``term_bucket`` (build.py), so a prefix
query cannot prune postings by itself — it first needs the dictionary:

  * :func:`build_term_dict` writes ``<index>/term_dict/`` — one row per
    distinct term ``(term, df, term_bucket)``, GLOBALLY SORTED by term
    (repartitionByRange + sortWithinPartitions), so parquet row-group
    min/max stats serve a dictionary range scan with a pruned read.
    Committed by flipping ``_term_dict.json`` (which pins the wave set
    it was built from) after the data lands — stale sidecars are
    detected and rebuilt, never silently served.
  * :func:`expand_prefix` resolves ``pre*`` to its matching terms with
    one pruned pyarrow range read (``term >= p AND term < p + '{'`` —
    exact for the tokenizer's [a-z0-9]+ alphabet), capped ES-style at
    ``max_terms`` keeping the HIGHEST-df terms (Lucene's ``top_terms_N``
    rewrite; the cap and whether it truncated are returned, never
    silent).
  * :func:`prefix_topk` (``serving="spark"|"local"``, as in query.py;
    ``prefix_topk_local`` forwards with "local") then scores the
    expansion as a disjunctive BM25 over the existing machinery — the
    postings read stays bucket-pruned by the EXPANDED terms' hashes,
    identical to a plain multi-term query.

Scale shape: the dictionary is O(vocabulary) — tens of GB at
web-vocabulary scale, parquet-sorted so a prefix touches a handful of
row groups; building it is ONE narrow aggregation over the already
thin (term, term_bucket, n) block columns (no posting decode, no new
scan shape). Reference parity: ES query_string prefix queries in the
reference's Kibana setup (call518/LogSentinelAI INSTALL-and-USAGE.md
dashboard query bar).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
from pyspark.sql import SparkSession, functions as F

from .build import SEGMENT_ROWS_SCHEMA
from .lineage import resolve_index_dir

_POINTER = "_term_dict.json"


def _pointer(index_dir: Path) -> dict | None:
    p = index_dir / _POINTER
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text())
    except json.JSONDecodeError:
        return None


def build_term_dict(spark: SparkSession, index_dir: str,
                    n_files: int | None = None) -> dict:
    """One narrow aggregation over the committed block rows' thin
    columns -> globally term-sorted parquet sidecar. ``n_files``
    controls the range partition count (default: one file per ~256k
    terms is plenty; the fixture scale gets 1). The default is sized
    from the wave manifests' per-(shard, term_bucket) term counts —
    an upper bound on distinct terms (a term counts once per shard
    that holds it) — so the aggregation runs once, in the write."""
    from .lineage import committed_waves

    live = resolve_index_dir(index_dir)
    waves = committed_waves(str(live))
    if not waves:
        raise FileNotFoundError(f"no committed waves in {live}")
    root = live / "postings"
    blocks = spark.read.schema(SEGMENT_ROWS_SCHEMA).option("basePath", str(root)).parquet(
        *[str(root / f"wave={w}") for w in sorted(waves)])
    # column-pruned scan: term, term_bucket, n only (no posting blobs)
    dic = (
        blocks.filter(F.col("block_id") >= 0)
        .groupBy("term")
        .agg(F.sum("n").alias("df"),
             F.first("term_bucket").cast("int").alias("term_bucket"))
    )
    out = live / "term_dict"
    if n_files is None:
        n_terms = sum(p["n_terms"] for m in waves.values() for p in m["partitions"])
        n_files = max(1, n_terms // 262_144)
    (
        dic.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(str(out))
    )
    tmp = live / f".{_POINTER}.tmp"
    tmp.write_text(json.dumps({"waves": sorted(waves)}))
    os.replace(tmp, live / _POINTER)
    return {"dir": str(out), "n_files": n_files}


def ensure_term_dict(spark: SparkSession, reader) -> None:
    """Build (or rebuild) the sidecar iff missing or built from a
    different committed-wave set than the reader serves."""
    ptr = _pointer(reader.dir)
    if ptr is None or sorted(ptr.get("waves", [])) != sorted(reader.waves):
        build_term_dict(spark, str(reader.dir))


def expand_prefix(reader, prefix: str, max_terms: int = 50
                  ) -> tuple[list[str], bool]:
    """Dictionary range scan for ``prefix*``. Returns (terms,
    truncated): terms capped at ``max_terms`` keeping highest-df
    (ties: term asc — deterministic), truncated=True when the cap hit.
    The '{' upper bound is exact for the [a-z0-9]+ token alphabet
    ('{' = 'z' + 1 in ASCII)."""
    import pyarrow.dataset as pads

    if not prefix:
        raise ValueError("empty prefix")
    d = reader.dir / "term_dict"
    if _pointer(reader.dir) is None:
        raise FileNotFoundError(
            f"no committed term_dict in {reader.dir}; run build_term_dict")
    ds = pads.dataset(str(d), format="parquet")
    t = ds.to_table(
        filter=(pads.field("term") >= prefix)
        & (pads.field("term") < prefix + "{"),
        columns=["term", "df"],
    )
    pairs = sorted(zip(t.column("term").to_pylist(),
                       t.column("df").to_pylist()),
                   key=lambda p: (-p[1], p[0]))
    truncated = len(pairs) > max_terms
    return [p[0] for p in pairs[:max_terms]], truncated


def _literal_prefix(pattern: str) -> str:
    """Chars before the first wildcard metachar — the dictionary range
    scan can prune by this literal (Lucene's term-index seek before the
    automaton walk). Empty for leading-wildcard patterns, which is
    exactly why ES warns about them: the scan degrades to full-dict."""
    out = []
    for ch in pattern:
        if ch in "*?":
            break
        out.append(ch)
    return "".join(out)


def _wildcard_regex(pattern: str):
    """ES/Lucene wildcard -> anchored regex: ``*`` = any run, ``?`` =
    any single char, everything else literal."""
    import re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return re.compile("^" + "".join(parts) + "$")


def _read_dict_range(reader, lo: str | None, columns=("term", "df")):
    """One pruned pyarrow range read of the sorted sidecar: ``lo`` is a
    literal prefix bound (None = full dictionary — disclosed by the
    callers that need it). Row-group min/max stats on the term-sorted
    files serve the prune."""
    import pyarrow.dataset as pads

    d = reader.dir / "term_dict"
    if _pointer(reader.dir) is None:
        raise FileNotFoundError(
            f"no committed term_dict in {reader.dir}; run build_term_dict")
    ds = pads.dataset(str(d), format="parquet")
    flt = None
    if lo:
        flt = (pads.field("term") >= lo) & (pads.field("term") < lo + "{")
    t = ds.to_table(filter=flt, columns=list(columns))
    return t


def _cap_by_df(pairs: list[tuple[str, int]], max_terms: int
               ) -> tuple[list[str], bool]:
    """ES ``top_terms_N`` blended-rewrite cap: keep the highest-df
    expansions (ties: term asc — deterministic), report truncation."""
    pairs = sorted(pairs, key=lambda p: (-p[1], p[0]))
    truncated = len(pairs) > max_terms
    return [p[0] for p in pairs[:max_terms]], truncated


def expand_wildcard(reader, pattern: str, max_terms: int = 50
                    ) -> tuple[list[str], bool]:
    """ES ``wildcard`` query expansion: dictionary scan pruned by the
    pattern's literal prefix (when one exists), anchored-regex match on
    the surviving terms, capped like :func:`expand_prefix`. A
    leading-wildcard pattern scans the whole dictionary — the honest
    Lucene behavior (and ES's documented anti-pattern); the dictionary
    is O(vocabulary) thin columns, not postings, so even that scan
    never touches a posting blob."""
    if not pattern.strip("*?"):
        raise ValueError("wildcard pattern needs at least one literal char")
    rx = _wildcard_regex(pattern)
    t = _read_dict_range(reader, _literal_prefix(pattern) or None)
    pairs = [(term, df) for term, df in
             zip(t.column("term").to_pylist(), t.column("df").to_pylist())
             if rx.match(term)]
    return _cap_by_df(pairs, max_terms)


def _lev_bounded(term: str, cands: list[str], d: int) -> np.ndarray:
    """Levenshtein distance from ``term`` to every candidate, capped at
    ``d + 1`` (exact when it is <= d). One banded DP over all candidates
    at once: a length-band mask first, then a code-point matrix and one
    vector step per (term char, band offset); candidates whose whole
    band row exceeds ``d`` drop out, since no later row can recover."""
    la, inf = len(term), d + 1
    out = np.full(len(cands), inf, dtype=np.int8)
    lens = np.fromiter(map(len, cands), dtype=np.int64, count=len(cands))
    idx = np.flatnonzero(np.abs(lens - la) <= d)
    if not len(idx):
        return out
    b = np.array([cands[i] for i in idx], dtype="U")
    # mat[c] = code point c of every candidate (0 past its end)
    mat = np.ascontiguousarray(b.view(np.uint32).reshape(len(idx), -1).T)
    a = [ord(c) for c in term]
    # row[k] is DP column j = i - d + k of row i for every candidate;
    # columns past a candidate's end never flow back into its own
    row = np.full((2 * d + 1, len(idx)), inf, dtype=np.int8)
    row[d:] = np.arange(d + 1)[:, None]
    for i in range(1, la + 1):
        prev, row = row, np.empty_like(row)
        for k in range(2 * d + 1):
            j = i - d + k
            if j <= 0:
                row[k] = i if j == 0 else inf
                continue
            v = prev[k] + ((mat[j - 1] != a[i - 1]) if j <= len(mat) else 1)
            if k < 2 * d:
                np.minimum(v, prev[k + 1] + 1, out=v)
            if k > 0:
                np.minimum(v, row[k - 1] + 1, out=v)
            np.minimum(v, inf, out=row[k])
        alive = row.min(axis=0) <= d
        if not alive.all():
            row, mat, idx = row[:, alive], mat[:, alive], idx[alive]
            if not len(idx):
                return out
    out[idx] = row[lens[idx] - la + d, np.arange(len(idx))]
    return out


def expand_fuzzy(reader, term: str, fuzziness: int = 2,
                 prefix_length: int = 0, max_terms: int = 50
                 ) -> tuple[list[str], bool]:
    """ES ``fuzzy`` query expansion: terms within ``fuzziness`` edits
    (Levenshtein; Lucene walks an automaton, we band-DP the candidate
    list — same result set). ``prefix_length`` > 0 pins the first chars
    exact AND prunes the dictionary read to that literal range — ES's
    own recommended lever for fuzzy cost. With prefix_length=0 the
    candidate read is the full (thin, sorted) dictionary; at
    web-vocabulary scale route that case through
    :func:`expand_fuzzy_spark` instead of the driver."""
    if fuzziness not in (0, 1, 2):
        raise ValueError("fuzziness must be 0, 1 or 2 (ES AUTO max)")
    pre = term[:prefix_length] if prefix_length > 0 else None
    t = _read_dict_range(reader, pre)
    terms, dfs = t.column("term").to_pylist(), t.column("df").to_pylist()
    hit = np.flatnonzero(_lev_bounded(term, terms, fuzziness) <= fuzziness)
    return _cap_by_df([(terms[i], dfs[i]) for i in hit], max_terms)


def expand_fuzzy_spark(spark: SparkSession, reader, term: str,
                       fuzziness: int = 2, prefix_length: int = 0,
                       max_terms: int = 50) -> tuple[list[str], bool]:
    """Distributed twin of :func:`expand_fuzzy` for web-scale
    vocabularies: ONE narrow Spark scan of the dictionary parquet with
    ``F.levenshtein`` (JVM codegen, threshold-pruned by Catalyst's
    levenshtein(max-distance) form) — the driver only collects the
    capped expansion, never the vocabulary."""
    dic = spark.read.parquet(str(reader.dir / "term_dict"))
    if prefix_length > 0:
        dic = dic.filter(F.col("term").startswith(term[:prefix_length]))
    hits = (
        dic.filter(F.levenshtein(F.col("term"), F.lit(term), fuzziness) >= 0)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_terms + 1)
        .select("term", "df").collect()
    )
    return _cap_by_df([(r["term"], r["df"]) for r in hits], max_terms)


def wildcard_topk(reader, pattern: str, k: int = 10,
                  max_terms: int = 50, mode: str = "auto", serving: str = "spark"):
    """ES ``wildcard`` query: dictionary expansion + the disjunctive
    BM25 scorer (per-term idf, Lucene ``top_terms_N`` blend); the
    postings scan is bucket-pruned by the expanded terms, same plan as
    a multi-term query. Returns [(doc_id, score)]."""
    from .query import topk_terms

    terms, _ = expand_wildcard(reader, pattern, max_terms)
    return topk_terms(reader, terms, k, mode, serving=serving)


def wildcard_topk_local(reader, pattern: str, k: int = 10,
                        max_terms: int = 50, mode: str = "auto"):
    """:func:`wildcard_topk` with ``serving="local"``."""
    return wildcard_topk(reader, pattern, k, max_terms, mode, "local")


def fuzzy_topk(reader, term: str, k: int = 10, fuzziness: int = 2,
               prefix_length: int = 0, max_terms: int = 50,
               mode: str = "auto", serving: str = "spark"):
    """ES ``fuzzy`` query: Levenshtein expansion + the disjunctive
    BM25 scorer. Returns [(doc_id, score)]."""
    from .query import topk_terms

    terms, _ = expand_fuzzy(reader, term, fuzziness, prefix_length,
                            max_terms)
    return topk_terms(reader, terms, k, mode, serving=serving)


def fuzzy_topk_local(reader, term: str, k: int = 10, fuzziness: int = 2,
                     prefix_length: int = 0, max_terms: int = 50,
                     mode: str = "auto"):
    """:func:`fuzzy_topk` with ``serving="local"``."""
    return fuzzy_topk(reader, term, k, fuzziness, prefix_length, max_terms,
                      mode, "local")


def suggest_terms(reader, text: str, fuzziness: int = 2,
                  prefix_length: int = 1, size: int = 3
                  ) -> list[dict]:
    """ES *term suggester* ("did you mean"): per input token, candidate
    vocabulary terms within ``fuzziness`` edits, ranked ES-style by
    (edit distance asc, df desc, term asc), top ``size`` each, the
    token itself excluded when it exists in the dictionary (ES
    ``suggest_mode: missing`` analog reports an empty list then).
    Same pruned dictionary reads as the fuzzy query."""
    from ..functions.tokenizer import tokens as _tok

    out = []
    for token in _tok(text):
        pre = token[:prefix_length] if prefix_length > 0 else None
        t = _read_dict_range(reader, pre)
        terms = t.column("term").to_pylist()
        dfs = t.column("df").to_pylist()
        if token in terms:
            out.append({"token": token, "suggestions": []})
            continue
        dist = _lev_bounded(token, terms, fuzziness)
        cand = sorted((int(dist[i]), -int(dfs[i]), terms[i])
                      for i in np.flatnonzero(dist <= fuzziness))
        out.append({"token": token,
                    "suggestions": [
                        {"term": c[2], "distance": c[0], "df": -c[1]}
                        for c in cand[:size]]})
    return out


def suggest_phrase(reader, text: str, lm: dict, fuzziness: int = 2,
                   prefix_length: int = 1, per_token: int = 3,
                   beam: int = 8, confidence: float = 2.0,
                   size: int = 3) -> list[dict]:
    """ES *phrase suggester* ("did you mean" over the WHOLE query):
    per-token candidates from the term suggester's dictionary scan
    (OOV tokens only — ``suggest_mode: missing``), whole-phrase
    corrections ranked by a bigram LM via beam search. ES ranks its
    phrase candidates with exactly this shape — a word n-gram LM over
    the index (laplace-smoothed) with a per-correction confidence
    penalty; the LM here is the frozen pruned model from
    operators/textstats.build_bigram_lm (the same counts the
    perplexity operator learns).

    score(phrase) = Σ_i log P(w_i | w_{i-1})  −  confidence · edits,
    P add-k-smoothed from the LM's (c1, c2, V); the first token uses
    the unigram prior. Beam keeps the combinatorics bounded at
    ``beam`` states per position. Returns the top ``size`` phrases as
    [{"text", "score", "changed"}], best first."""
    import math

    from ..functions.tokenizer import tokens as _tok

    c1, c2 = lm["c1"], lm["c2"]
    v, k, total = max(1, lm["v"]), lm["k"], max(1, lm["total"])

    def lp(prev: str | None, w: str) -> float:
        if prev is None:
            return math.log((c1.get(w, 0) + k) / (total + k * v))
        return math.log((c2.get((prev, w), 0) + k)
                        / (c1.get(prev, 0) + k * v))

    toks = _tok(text)
    states: list[tuple[tuple, float]] = [((), 0.0)]
    for token in toks:
        cand: list[tuple[str, int]] = [(token, 0)]
        pre = token[:prefix_length] if prefix_length > 0 else None
        t = _read_dict_range(reader, pre)
        terms = t.column("term").to_pylist()
        dfs = t.column("df").to_pylist()
        if token not in terms:
            dist = _lev_bounded(token, terms, fuzziness)
            scored = sorted((int(dist[i]), -int(dfs[i]), terms[i])
                            for i in np.flatnonzero(dist <= fuzziness))
            cand += [(c[2], c[0]) for c in scored[:per_token]]
        nxt = []
        for seq, s in states:
            prev = seq[-1] if seq else None
            for term, dist in cand:
                nxt.append((seq + (term,),
                            s + lp(prev, term) - confidence * dist))
        nxt.sort(key=lambda x: (-x[1], x[0]))
        states = nxt[:beam]
    return [{"text": " ".join(seq), "score": round(s, 6),
             "changed": list(seq) != toks}
            for seq, s in states[:size]]


def prefix_topk(reader, prefix: str, k: int = 10,
                max_terms: int = 50, mode: str = "auto", serving: str = "spark"):
    """ES ``prefix`` query: dictionary expansion + the disjunctive BM25
    scorer (each expanded term scores with its own idf — Lucene
    ``top_terms_N`` blended rewrite). The postings scan is
    bucket-pruned by the EXPANDED terms, so the plan shape is identical
    to a plain multi-term query's. Returns [(doc_id, score)]."""
    from .query import topk_terms

    terms, _ = expand_prefix(reader, prefix, max_terms)
    return topk_terms(reader, terms, k, mode, serving=serving)


def prefix_topk_local(reader, prefix: str, k: int = 10,
                      max_terms: int = 50, mode: str = "auto"):
    """:func:`prefix_topk` with ``serving="local"``."""
    return prefix_topk(reader, prefix, k, max_terms, mode, "local")
