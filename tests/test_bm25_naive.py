"""End-to-end golden test (SURVEY.md §5.2): naive Catalyst BM25 over the
synthetic pages corpus must be rank-identical to the numpy oracle on the
reference query set, and doc_id assignment must be parallelism-invariant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsentinelai_spark.corpus import gen_pages_df, gen_queries
from logsentinelai_spark.functions.tokenizer import tokenize_df, tokens
from logsentinelai_spark.index.bm25 import bm25_oracle_topk
from logsentinelai_spark.index.docids import doc_map_df, write_doc_map
from logsentinelai_spark.index.naive import bm25_topk_naive, build_naive_stats

N_DOCS = 1500


def _with_doc_ids(pages, doc_map_dir, partitions=None):
    """Rank-of-url doc ids: write the doc map into ``doc_map_dir`` and
    join its lazy (url, doc_id) frame back onto the pages."""
    meta = write_doc_map(pages, str(doc_map_dir), partitions)
    return pages.join(doc_map_df(pages.sparkSession, str(doc_map_dir), meta), "url")


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    pages = _with_doc_ids(gen_pages_df(spark, N_DOCS, partitions=8),
                          tmp_path_factory.mktemp("doc_map"))
    tok = tokenize_df(pages, text_col="text").select("doc_id", "url", "tokens")
    tok = tok.cache()
    postings, dstats, tstats, gstats = build_naive_stats(tok)
    postings = postings.cache()
    dstats = dstats.cache()
    tstats = tstats.cache()
    local = {r.doc_id: list(r.tokens) for r in tok.collect()}
    return dict(tok=tok, postings=postings, dstats=dstats, tstats=tstats, gstats=gstats, local=local)


def test_docid_assignment_parallelism_invariant(spark, tmp_path):
    a = _with_doc_ids(gen_pages_df(spark, 400, partitions=3), tmp_path / "a", partitions=2)
    b = _with_doc_ids(gen_pages_df(spark, 400, partitions=11), tmp_path / "b", partitions=7)
    da = {r.url: r.doc_id for r in a.select("url", "doc_id").collect()}
    db = {r.url: r.doc_id for r in b.select("url", "doc_id").collect()}
    assert da == db
    # rank of sorted urls
    want = {u: i for i, u in enumerate(sorted(da))}
    assert da == want


def test_naive_bm25_rank_identical_to_oracle(spark, corpus):
    queries = gen_queries().head(20)  # common + some rare strata
    for _, q in queries.iterrows():
        want = bm25_oracle_topk(corpus["local"], tokens(q.query_text), k=int(q.k))
        got = bm25_topk_naive(
            corpus["postings"], corpus["dstats"], corpus["tstats"], corpus["gstats"],
            q.query_text, k=int(q.k),
        ).collect()
        got_ids = [r.doc_id for r in got]
        assert got_ids == [d for d, _ in want], f"query {q.query_id}: {q.query_text}"
        for (d, s), r in zip(want, got):
            assert abs(s - r.score) <= 1e-6, f"query {q.query_id} doc {d}: {s} vs {r.score}"


def test_naive_bm25_oov_query_empty(spark, corpus):
    got = bm25_topk_naive(
        corpus["postings"], corpus["dstats"], corpus["tstats"], corpus["gstats"],
        "zzzznothere qqqxmissing", k=10,
    ).collect()
    assert got == []


def test_global_stats_values(spark, corpus):
    g = corpus["gstats"].collect()[0]
    local = corpus["local"]
    assert g.n_docs == len(local)
    import numpy as np

    assert abs(g.avgdl - np.mean([len(t) for t in local.values()])) < 1e-9
