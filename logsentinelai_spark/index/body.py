"""Composed ES ``_search`` JSON-body compiler — the front door.

Kibana (the reference's only query client) issues ONE JSON body per
panel: query + aggs + highlight + search_after + rescore + size
together (reference INSTALL-and-USAGE.md:451-459; every panel in
Kibana-9.0.3-Dashboard-LogSentinelAI.ndjson composes this way).
Rounds 1-6 built each leg as its own primitive; this module only
PARSES and ROUTES — no new execution machinery:

=====================  ===============================================
body key               routed to
=====================  ===============================================
query.match            query.topk_terms (tokenized)
query.bool             query.bool_topk
query.match_phrase     query.phrase_topk
query.match_phrase_prefix  query.phrase_prefix_topk_local
query.prefix           termdict.expand_prefix -> topk_terms
query.wildcard         termdict.expand_wildcard -> topk_terms
query.fuzzy            termdict.expand_fuzzy -> topk_terms
search_after           the cursor mask inside the shard scorers
from + size            over-fetch first from+size, return the slice
suggest                termdict.suggest_terms / suggest_phrase (the
                       phrase LM learned from the corpus per call)
rescore                query.rescore_topk_local (match base only)
highlight              functions/highlight.hl_exprs over the corpus,
                       bounded to the k hit urls (isin pushdown)
aggs                   operators/aggtree.agg_tree over the MATCH SET
                       (query context: ALL matching docs, ES skips
                       scoring there) joined to the corpus by url;
                       a query is required (no match_all)
=====================  ===============================================

Each hit route passes ``serving`` through (query.py's one serving
seam): "local" reads the pruned blocks driver-side, "spark" scores the
shards in one Spark job; both run the same shard functions.

Leaf parameters are checked per kind (``_LEAF_KEYS``): a parameter
that would change results but is not implemented (``operator``,
``minimum_should_match``, ``slop``, ``boost``, bool ``filter``) is
refused with a ValueError, never dropped.

Scale shape: hits are served driver-local by default (pyarrow pruned
reads, ms latency — the serving path); the aggs leg is a Spark plan
end to end: ``bool_match_ids`` streams the match set task-to-task into
the corpus join (AQE broadcast-converts when the filter is selective)
and the agg subtree runs as ONE rollup pass. Only the k hit urls and
the bucket rows ever reach the driver. Exception, disclosed: a
match_phrase/match_phrase_prefix agg context materializes the phrase
candidate list driver-side (one all-candidates positional scan) —
candidates are bounded by min(df) of the phrase terms (what makes
phrases cheap), but a stop-word-only phrase over a 100 TB corpus
should use the bool/match form instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.highlight import hl_exprs
from ..functions.tokenizer import tokens as tokenize
from .reader import IndexReader

_SUPPORTED = ("match", "bool", "match_phrase", "match_phrase_prefix",
              "prefix", "wildcard", "fuzzy")
# per kind, the leaf keys the compiler implements; anything else would
# silently change results, so it is refused
_LEAF_KEYS = {
    "match": {"query"},
    "match_phrase": {"query"},
    "match_phrase_prefix": {"query", "max_expansions"},
    "prefix": {"value", "max_expansions"},
    "wildcard": {"value", "max_expansions"},
    "fuzzy": {"value", "fuzziness", "prefix_length", "max_expansions"},
    "bool": {"must", "should", "must_not"},
}


def _check_leaf(kind: str, spec) -> None:
    """Refuse leaf parameters outside ``_LEAF_KEYS[kind]``. A bool
    leaf's keys are its clauses; any other leaf is ``"t"``,
    ``{"field": "t"}`` or ``{"field": {<params>}}``."""
    if kind == "bool":
        if not isinstance(spec, dict):
            raise ValueError(f"bool leaf must be an object of clauses: {spec!r}")
        keys = set(spec)
    elif isinstance(spec, dict):
        if len(spec) != 1:
            raise ValueError(f"{kind} leaf must name exactly one field: {spec!r}")
        v = next(iter(spec.values()))
        keys = set(v) if isinstance(v, dict) else set()
    else:
        keys = set()
    bad = keys - _LEAF_KEYS[kind]
    if bad:
        raise ValueError(
            f"unsupported {kind} parameters {sorted(bad)}; supported: "
            f"{sorted(_LEAF_KEYS[kind])} — refusing rather than silently "
            "altering results")


def _qtext(spec) -> str:
    """Normalize ES query-leaf shapes to their text: ``"t"``,
    ``{"field": "t"}``, ``{"field": {"query"|"value": "t"}}``."""
    if isinstance(spec, str):
        return spec
    if isinstance(spec, dict):
        v = next(iter(spec.values()))
        if isinstance(v, dict):
            return v.get("query", v.get("value"))
        return v
    raise ValueError(f"unsupported query leaf: {spec!r}")


def _leaf_params(spec) -> dict:
    """The leaf's parameter dict ({} when the leaf is shorthand)."""
    if isinstance(spec, dict):
        v = next(iter(spec.values()))
        if isinstance(v, dict):
            return v
    return {}


def _query_leaf(body: dict) -> tuple[str, object]:
    """The body's (query kind, leaf spec), checked."""
    qspec = body.get("query") or {"match": ""}
    if len(qspec) != 1:
        raise ValueError(f"query must hold exactly one clause: {qspec!r}")
    kind = next(iter(qspec))
    if kind not in _SUPPORTED:
        raise ValueError(f"unsupported query kind {kind!r}; "
                         f"supported: {_SUPPORTED}")
    _check_leaf(kind, qspec[kind])
    return kind, qspec[kind]


def _page(hits: list, frm: int) -> list:
    """The from+size slice of an over-fetched hit list."""
    return hits[frm:] if frm else hits


def _expand(reader, kind: str, spec) -> list[str]:
    """Dictionary-expanded term list for prefix/wildcard/fuzzy."""
    from .termdict import (ensure_term_dict, expand_fuzzy, expand_prefix,
                           expand_wildcard)

    ensure_term_dict(reader.spark, reader)
    p = _leaf_params(spec)
    max_terms = int(p.get("max_expansions", 50))
    if kind == "prefix":
        terms, _ = expand_prefix(reader, _qtext(spec), max_terms)
    elif kind == "wildcard":
        terms, _ = expand_wildcard(reader, _qtext(spec), max_terms)
    else:
        terms, _ = expand_fuzzy(reader, _qtext(spec),
                                int(p.get("fuzziness", 2)),
                                int(p.get("prefix_length", 0)), max_terms)
    return terms


def _route_hits(reader, body: dict,
                serving: str = "local") -> list[tuple[int, float]]:
    from . import query as q

    if serving not in ("local", "spark"):
        raise ValueError(f"serving must be 'local' or 'spark', got {serving!r}")
    kind, spec = _query_leaf(body)
    k = int(body.get("size", 10))
    # ES from+size shallow paging: fetch the first from+k hits of the
    # deterministic total order, return the slice. Deep pages should
    # use search_after (ES's own guidance — from+size re-ranks the
    # whole window per page); the two compose the same way they do in
    # ES (from offsets into the post-cursor order).
    frm = int(body.get("from", 0))
    k += frm
    after = body.get("search_after")
    after = (float(after[0]), int(after[1])) if after else None
    rescore = body.get("rescore")
    if rescore is not None:
        if kind != "match":
            raise ValueError("rescore composes with a match base query")
        if after is not None:
            raise ValueError("rescore + search_after: the rescored "
                             "order has no stable cursor (ES refuses "
                             "this combination too)")
        rq = rescore.get("query", {})
        rleaf = rq.get("rescore_query", {}).get("match_phrase", "")
        _check_leaf("match_phrase", rleaf)
        return _page(q.rescore_topk_local(
            reader, _qtext(spec), _qtext(rleaf), k=k,
            window=int(rescore.get("window_size", 50)),
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_weight=float(rq.get("rescore_weight", 1.0))), frm)
    if kind == "match":
        terms = reader.analyze_terms(tokenize(_qtext(spec)))
        return _page(q.topk_terms(reader, terms, k=k, search_after=after,
                                  serving=serving), frm)
    if after is not None:
        raise ValueError("search_after is wired for match queries; "
                         f"got {kind!r}")
    if kind == "bool":
        return _page(q.bool_topk(reader, spec.get("must", ""),
                                 spec.get("should", ""),
                                 spec.get("must_not", ""), k=k,
                                 serving=serving), frm)
    if kind == "match_phrase":
        return _page([(d, s) for d, _tf, s in q.phrase_topk(
            reader, _qtext(spec), k=k, serving=serving)], frm)
    if kind == "match_phrase_prefix":
        return _page([(d, s) for d, _tf, s in q.phrase_prefix_topk_local(
            reader, _qtext(spec), k=k,
            max_terms=int(_leaf_params(spec).get("max_expansions", 50)))], frm)
    return _page(q.topk_terms(reader, _expand(reader, kind, spec), k=k,
                              serving=serving), frm)


def _match_ids(reader, body: dict) -> DataFrame:
    """The query-context match set (ALL matching docs) as a
    DataFrame[doc_id] in index-id space — the aggs input."""
    from . import query as q

    if not body.get("query"):
        raise ValueError("aggs needs a query: the aggregations run over "
                         "its match set (match_all is not supported)")
    spark = reader.spark
    kind, spec = _query_leaf(body)
    if kind == "bool":
        return q.bool_match_ids(reader, spec.get("must", ""),
                                spec.get("should", ""),
                                spec.get("must_not", ""))
    if kind == "match":
        return q.bool_match_ids(reader, "", _qtext(spec), "")
    if kind in ("prefix", "wildcard", "fuzzy"):
        terms = _expand(reader, kind, spec)
        if not terms:
            return spark.createDataFrame([], "doc_id long")
        return q.bool_match_ids(reader, "", " ".join(terms), "")
    if kind == "match_phrase":
        cands = q.phrase_match_local(reader, [_qtext(spec)])[0]
    else:  # match_phrase_prefix: the same all-candidates phrase scan
        slots = q._phrase_prefix_slots(
            reader, _qtext(spec),
            int(_leaf_params(spec).get("max_expansions", 50)))
        cands = q._phrase_match(reader, [slots])[0]
    return spark.createDataFrame([(d,) for d, _, _ in cands], "doc_id long")


def _highlight_terms(reader, body: dict) -> list[str]:
    """The terms the fragment marker emphasizes: the query's scoring
    terms (ES highlights whatever matched the query context)."""
    kind, spec = _query_leaf(body)
    if kind == "bool":
        return sorted(set(reader.analyze_terms(
            tokenize(spec.get("must", "") + " " + spec.get("should", "")))))
    if kind in ("match", "match_phrase", "match_phrase_prefix"):
        return sorted(set(reader.analyze_terms(tokenize(_qtext(spec)))))
    return sorted(_expand(reader, kind, spec))


def search_body(spark: SparkSession, reader: IndexReader, body: dict,
                corpus: DataFrame | None = None,
                serving: str = "local") -> dict:
    """Execute one composed ``_search`` body. Returns::

        {"hits":      [(index_doc_id, score), ...]   # ranked
         "urls":      {index_doc_id: url},           # the stable key
         "fragments": DataFrame[url, fragment] | None,
         "aggs":      DataFrame | None}               # agg_tree output

    ``corpus`` (required for highlight/aggs): a DataFrame carrying a
    ``url`` column matching the urls the index was built over, plus a
    ``tokens`` array column when ``highlight`` is requested and the
    agg field columns when ``aggs`` is.

    ``serving`` is passed to the hit route: "local" (default) scores
    the shards driver-side over pyarrow pruned reads — the ms-latency
    interactive path; "spark" scores them in one Spark job per query —
    the regime for batch workloads over indexes too large or too remote
    for driver-local reads. topk_terms / bool_topk / phrase_topk run
    the same shard functions either way. rescore and
    match_phrase_prefix serve driver-local in both modes.

    Raises ValueError for a body key, query kind or leaf parameter the
    compiler does not implement, and for ``aggs`` without a query."""
    # keys that would CHANGE results if silently dropped must refuse;
    # ES response-shaping keys with no effect on hit content are no-ops
    _NOOP = {"query", "size", "from", "search_after", "rescore",
             "highlight", "aggs", "suggest", "_source",
             "track_total_hits", "timeout", "version",
             "seq_no_primary_term", "stored_fields"}
    unsupported = set(body) - _NOOP
    if unsupported:
        raise ValueError(
            f"unsupported _search body keys {sorted(unsupported)} — "
            "refusing rather than silently altering results (sort/"
            "post_filter/collapse change what a page contains)")
    hits = _route_hits(reader, body, serving)
    urls = reader.doc_urls_local([d for d, _ in hits])
    out: dict = {"hits": hits, "urls": urls, "fragments": None,
                 "aggs": None}
    if body.get("highlight") and hits:
        if corpus is None:
            raise ValueError("highlight needs the corpus DataFrame")
        _, frag = hl_exprs(_highlight_terms(reader, body))
        hit_urls = [urls[d] for d, _ in hits]
        out["fragments"] = (
            corpus.filter(F.col("url").isin(hit_urls))
            .select("url", F.expr(frag).alias("fragment")))
    if body.get("aggs"):
        if corpus is None:
            raise ValueError("aggs needs the corpus DataFrame")
        from ..operators.aggtree import agg_tree

        ids = _match_ids(reader, body)
        murls = reader.doc_stats_df().join(ids, "doc_id").select("url")
        out["aggs"] = agg_tree(corpus.join(murls, "url"), body["aggs"])
    if body.get("suggest"):
        out["suggest"] = _route_suggest(reader, body["suggest"], corpus)
    return out


def _route_suggest(reader, spec: dict, corpus: DataFrame | None) -> dict:
    """The body's ``suggest`` section: named term / phrase suggesters
    (ES ships both in the same response as the hits). The phrase
    suggester needs a bigram LM — learned from ``corpus`` (a
    ``tokens`` array column or a ``text`` column) per call here;
    serving processes should pass a frozen model via the
    ``suggest_phrase`` API directly."""
    from ..operators.textstats import build_bigram_lm
    from .termdict import ensure_term_dict, suggest_phrase, suggest_terms

    ensure_term_dict(reader.spark, reader)
    out: dict = {}
    lm = None
    for name, body in spec.items():
        text = body.get("text", "")
        if "term" in body:
            p = body["term"]
            out[name] = suggest_terms(
                reader, text,
                fuzziness=int(p.get("fuzziness", 2)),
                prefix_length=int(p.get("prefix_length", 1)),
                size=int(p.get("size", 3)))
        elif "phrase" in body:
            if corpus is None:
                raise ValueError("phrase suggester needs the corpus "
                                 "DataFrame (bigram LM source)")
            if lm is None:
                tok = corpus
                if "tokens" not in tok.columns:
                    from ..functions.tokenizer import SQL_TOKEN_PATTERN
                    tok = tok.select(F.expr(
                        "regexp_extract_all(lower(text), "
                        f"'{SQL_TOKEN_PATTERN}', 0)").alias("tokens"))
                lm = build_bigram_lm(tok.select("tokens"))
            p = body["phrase"]
            out[name] = suggest_phrase(
                reader, text, lm,
                fuzziness=int(p.get("fuzziness", 2)),
                size=int(p.get("size", 3)))
        else:
            raise ValueError(f"suggester {name!r} must be 'term' or "
                             "'phrase'")
    return out
