"""Run BM25 top-k queries against a built index.

    spark-submit --py-files engine.zip scripts/query_index.py \
        --index /data/index_db --query "web search ranking" \
        [--k 10 --mode auto|wand|acc --local --urls]

or a TSV batch: --queries q.tsv (query_id<TAB>query_text).
--batched serves the whole TSV through ONE pruned scan (topk_many)
instead of one job per query.

ES bool queries (must/should/must_not, Lucene BooleanQuery scoring):

    ... query_index.py --index /data/index_db \
        --must "web ranking" [--should "fast"] [--must-not "spam"]

ES prefix / wildcard / fuzzy queries (term-dictionary expansion;
builds the sidecar on first use):

    ... query_index.py --index /data/index_db --prefix "ran"
    ... query_index.py --index /data/index_db --wildcard "r?nk*"
    ... query_index.py --index /data/index_db --fuzzy "rankign" \
        [--fuzziness 2 --prefix-length 1]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from logsentinelai_spark.index.query import (  # noqa: E402
    bool_topk, topk, topk_many, topk_terms,
)
from logsentinelai_spark.index.reader import IndexReader  # noqa: E402
from logsentinelai_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query")
    ap.add_argument("--queries", help="TSV file: query_id\\tquery_text")
    ap.add_argument("--must", help="bool query: every term required")
    ap.add_argument("--should", default="",
                    help="bool query: optional terms, lift ranking only")
    ap.add_argument("--must-not", default="", dest="must_not",
                    help="bool query: docs with any of these are excluded")
    ap.add_argument("--prefix", help="ES prefix query (autocomplete)")
    ap.add_argument("--wildcard", help="ES wildcard query (* and ?)")
    ap.add_argument("--fuzzy", help="ES fuzzy query (Levenshtein expansion)")
    ap.add_argument("--fuzziness", type=int, default=2, choices=[0, 1, 2])
    ap.add_argument("--prefix-length", type=int, default=0,
                    dest="prefix_length",
                    help="fuzzy: pin the first N chars exact (prunes the "
                         "dictionary scan)")
    ap.add_argument("--max-expansions", type=int, default=50,
                    dest="max_expansions",
                    help="expansion cap for prefix/wildcard/fuzzy "
                         "(highest-df kept)")
    ap.add_argument("--stats", action="store_true",
                    help="ES _stats analog: docs/terms/segments/deletes "
                         "from manifests, no Spark job")
    ap.add_argument("--explain", type=int, metavar="DOC_ID",
                    help="ES _explain analog: per-term BM25 breakdown "
                         "of --query for one doc")
    ap.add_argument("--suggest", help="ES term suggester (did-you-mean) "
                                      "for each token of the given text")
    ap.add_argument("--suggest-phrase", dest="suggest_phrase",
                    help="ES phrase suggester: whole-phrase corrections "
                         "ranked by a bigram LM (needs --corpus)")
    ap.add_argument("--corpus", help="pages/documents parquet with a "
                                     "text column; builds the frozen "
                                     "bigram LM for --suggest-phrase")
    ap.add_argument("--more-like", dest="more_like",
                    help="ES more_like_this: seed text; interesting "
                         "terms (tf*idf, --max-expansions cap) drive a "
                         "disjunctive query")
    ap.add_argument("--mlt-exclude", dest="mlt_exclude", type=int,
                    help="doc_id to exclude from MLT hits (the seed)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--search-after", dest="search_after",
                    help="deep pagination cursor 'score:doc_id' (the "
                         "last hit of the previous page)")
    ap.add_argument("--rescore-phrase", dest="rescore_phrase",
                    help="ES rescore: re-rank --query's top window "
                         "with this phrase (total = base + "
                         "--rescore-weight * phrase)")
    ap.add_argument("--rescore-window", dest="rescore_window", type=int,
                    default=50)
    ap.add_argument("--rescore-weight", dest="rescore_weight", type=float,
                    default=1.0)
    ap.add_argument("--mode", choices=["auto", "wand", "acc"], default="auto")
    ap.add_argument("--local", action="store_true",
                    help="driver-local pyarrow read path (low-latency serving)")
    ap.add_argument("--urls", action="store_true")
    ap.add_argument("--batched", action="store_true",
                    help="serve the whole batch via topk_many (one pruned scan)")
    ap.add_argument("--body", help="composed ES _search JSON body (a "
                                   "file path or an inline JSON string): "
                                   "query + from/size + search_after + "
                                   "rescore + highlight + aggs in ONE "
                                   "request (index/body.py); highlight/"
                                   "aggs need --corpus")
    ap.add_argument("--body-serving", dest="body_serving",
                    choices=["local", "spark"], default="local",
                    help="--body hit serving: driver-local pyarrow "
                         "reads (ms latency) or the distributed "
                         "scorers (batch regime)")
    ap.add_argument("--cpus", type=int)
    args = ap.parse_args()

    spark = get_spark("query_index", cpus=args.cpus)
    reader = IndexReader(spark, args.index)
    serving = "local" if args.local else "spark"
    if args.body:
        import os

        from logsentinelai_spark.index.body import search_body

        raw = args.body
        if os.path.exists(raw):
            raw = open(raw).read()
        body = json.loads(raw)
        corpus = (spark.read.parquet(args.corpus)
                  if args.corpus else None)
        t0 = time.monotonic()
        out = search_body(spark, reader, body, corpus=corpus,
                          serving=args.body_serving)
        resp = {
            "took_ms": round((time.monotonic() - t0) * 1000, 1),
            "hits": [{"doc_id": d, "score": round(s_, 6),
                      "url": out["urls"].get(d)} for d, s_ in out["hits"]],
        }
        if out["fragments"] is not None:
            resp["highlight"] = {r["url"]: r["fragment"]
                                 for r in out["fragments"].collect()}
        if out["aggs"] is not None:
            resp["aggregations"] = [r.asDict() for r in
                                    out["aggs"].collect()]
        if out.get("suggest") is not None:
            resp["suggest"] = out["suggest"]
        print(json.dumps(resp, default=str))
        return
    if args.prefix:
        from logsentinelai_spark.index.termdict import (
            ensure_term_dict, expand_prefix)

        ensure_term_dict(spark, reader)
        # expand ONCE, score over the already-expanded list: calling
        # prefix_topk here would re-run the same dictionary range read
        # per serving call just to print expanded_terms
        terms, truncated = expand_prefix(
            reader, args.prefix, args.max_expansions)
        t0 = time.monotonic()
        res = topk_terms(reader, terms, k=args.k, mode=args.mode,
                         serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "prefix": args.prefix, "expanded_terms": terms,
            "truncated_at": args.max_expansions if truncated else None,
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    if args.wildcard:
        from logsentinelai_spark.index.termdict import (
            ensure_term_dict, expand_wildcard)

        ensure_term_dict(spark, reader)
        terms, truncated = expand_wildcard(
            reader, args.wildcard, args.max_expansions)
        t0 = time.monotonic()
        res = topk_terms(reader, terms, k=args.k, mode=args.mode,
                         serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "wildcard": args.wildcard, "expanded_terms": terms,
            "truncated_at": args.max_expansions if truncated else None,
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    if args.fuzzy:
        from logsentinelai_spark.index.termdict import (
            ensure_term_dict, expand_fuzzy)

        ensure_term_dict(spark, reader)
        terms, truncated = expand_fuzzy(
            reader, args.fuzzy, args.fuzziness, args.prefix_length,
            args.max_expansions)
        t0 = time.monotonic()
        res = topk_terms(reader, terms, k=args.k, mode=args.mode,
                         serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "fuzzy": args.fuzzy, "fuzziness": args.fuzziness,
            "expanded_terms": terms,
            "truncated_at": args.max_expansions if truncated else None,
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    if args.stats:
        print(json.dumps(reader.stats()))
        return
    if args.explain is not None:
        from logsentinelai_spark.index.query import explain_score

        if not args.query:
            ap.error("--explain needs --query")
        print(json.dumps(explain_score(reader, args.query, args.explain)))
        return
    if args.suggest:
        from logsentinelai_spark.index.termdict import (
            ensure_term_dict, suggest_terms)

        ensure_term_dict(spark, reader)
        t0 = time.monotonic()
        res = suggest_terms(reader, args.suggest,
                            fuzziness=args.fuzziness,
                            prefix_length=args.prefix_length or 1)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({"suggest": res, "ms": round(ms, 1)}))
        return
    if args.suggest_phrase:
        from pyspark.sql import functions as F

        from logsentinelai_spark.functions.tokenizer import SQL_TOKEN_PATTERN
        from logsentinelai_spark.index.termdict import (
            ensure_term_dict, suggest_phrase)
        from logsentinelai_spark.operators.textstats import build_bigram_lm

        if not args.corpus:
            ap.error("--suggest-phrase needs --corpus for the bigram LM")
        ensure_term_dict(spark, reader)
        tok = spark.read.parquet(args.corpus).select(F.expr(
            f"regexp_extract_all(lower(text), '{SQL_TOKEN_PATTERN}', 0)"
        ).alias("tokens"))
        lm = build_bigram_lm(tok)
        t0 = time.monotonic()
        res = suggest_phrase(reader, args.suggest_phrase, lm,
                             fuzziness=args.fuzziness,
                             prefix_length=args.prefix_length or 1)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({"suggest_phrase": res, "ms": round(ms, 1)}))
        return
    if args.more_like:
        from logsentinelai_spark.index.query import (
            mlt_select_terms, mlt_topk)

        terms = mlt_select_terms(reader, args.more_like,
                                 args.max_expansions)
        t0 = time.monotonic()
        res = mlt_topk(reader, args.more_like, exclude_doc=args.mlt_exclude,
                       k=args.k, max_query_terms=args.max_expansions,
                       mode=args.mode, serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "more_like_this": {"terms": terms,
                               "exclude": args.mlt_exclude},
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    if args.must or args.must_not:
        t0 = time.monotonic()
        res = bool_topk(reader, args.must or "", args.should, args.must_not,
                        k=args.k, serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "bool": {"must": args.must or "", "should": args.should,
                     "must_not": args.must_not},
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    batch = []
    if args.query:
        batch.append(("q1", args.query))
    if args.queries:
        for line in Path(args.queries).read_text().splitlines():
            qid, text = line.split("\t", 1)
            batch.append((qid, text))
    if args.batched:
        t0 = time.monotonic()
        results = topk_many(reader, [t for _, t in batch], k=args.k,
                            with_urls=args.urls, serving=serving)
        ms = (time.monotonic() - t0) * 1000
        for (qid, text), res in zip(batch, results):
            print(json.dumps({"query_id": qid, "query": text,
                              "batch_ms": round(ms, 1),
                              "hits": [list(r) for r in res]}))
        return
    if args.rescore_phrase:
        from logsentinelai_spark.index.query import rescore_topk_local

        if not args.query:
            ap.error("--rescore-phrase needs --query")
        t0 = time.monotonic()
        res = rescore_topk_local(
            reader, args.query, args.rescore_phrase, k=args.k,
            window=args.rescore_window,
            rescore_weight=args.rescore_weight, mode=args.mode)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({
            "query": args.query,
            "rescore": {"phrase": args.rescore_phrase,
                        "window": args.rescore_window,
                        "weight": args.rescore_weight},
            "ms": round(ms, 1), "hits": [list(r) for r in res]}))
        return
    cursor = None
    if args.search_after:
        s, d = args.search_after.rsplit(":", 1)
        cursor = (float(s), int(d))
    for qid, text in batch:
        t0 = time.monotonic()
        res = topk(reader, text, k=args.k, mode=args.mode, with_urls=args.urls,
                   search_after=cursor, serving=serving)
        ms = (time.monotonic() - t0) * 1000
        print(json.dumps({"query_id": qid, "query": text, "ms": round(ms, 1),
                          "search_after": args.search_after,
                          "hits": [list(r) for r in res]}))


if __name__ == "__main__":
    main()
