"""Serving seam and `_search` body guards: driver-local serving runs no
Spark job for any body shape, the in-band segment-metrics rows never
reach a query reader, and bodies that would be answered wrongly (aggs
without a query, leaf parameters the compiler does not implement) are
refused with a ValueError."""

from __future__ import annotations

import pyarrow.compute as pc
import pytest

from logsentinelai_spark import entry_queries as eq
from logsentinelai_spark.corpus import gen_pages_df
from logsentinelai_spark.index.body import search_body
from logsentinelai_spark.index.build import IndexConfig, build_index
from logsentinelai_spark.index.query import topk, topk_local, topk_many, topk_many_local
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.termdict import ensure_term_dict


@pytest.fixture(scope="module")
def reader(spark, sf_dir):
    r = IndexReader(spark, eq._index_dir_for(spark, sf_dir))
    ensure_term_dict(spark, r)
    return r


def test_local_serving_runs_no_spark_job(spark, reader):
    """Every body shape with serving="local" (the default), and a
    topk_many_local batch, is answered without a single Spark job."""
    page1 = search_body(spark, reader, {"query": {"match": "data network"}})["hits"]
    assert page1
    bodies = [
        {"query": {"match": "data network"}, "size": 12},
        {"query": {"bool": {"must": "data", "should": "merge",
                            "must_not": "zebra"}}},
        {"query": {"match_phrase": "data query"}},
        {"query": {"match_phrase_prefix": {"text": {
            "query": "data que", "max_expansions": 20}}}},
        {"query": {"prefix": "dat"}},
        {"query": {"wildcard": {"text": {"value": "da?a*"}}}},
        {"query": {"fuzzy": {"text": {"value": "dsta", "fuzziness": 1,
                                      "prefix_length": 1}}}},
        {"query": {"match": "data network"},
         "search_after": [page1[-1][1], page1[-1][0]]},
        {"query": {"match": "data network"}, "from": 4, "size": 6},
        {"query": {"match": "data network"},
         "rescore": {"window_size": 20, "query": {
             "rescore_query": {"match_phrase": "data query"}}}},
    ]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for body in bodies:
        assert search_body(spark, reader, body)["hits"], body
    assert all(topk_many_local(reader, ["data network", "merge", "query"], k=5))
    assert set(tracker.getJobIdsForGroup(None)) == before
    # the same check does see Spark serving
    search_body(spark, reader, bodies[0], serving="spark")
    assert set(tracker.getJobIdsForGroup(None)) != before


def test_postings_blocks_local_never_returns_metrics_rows(spark, tmp_path):
    """A committed-transport build writes one in-band segment-metrics
    row per (shard, term_bucket) into the posting files (block_id = -1,
    NULL term). A term-pruned local read never returns them — the
    `term IN (...)` predicate drops them — so the scorers need no
    filter of their own, and local serving still equals Spark serving."""
    idx = str(tmp_path / "committed")
    build_index(spark, gen_pages_df(spark, 64, partitions=2), idx, IndexConfig(
        shard_size=16, wave_shards=2, n_buckets=2, block_size=8,
        positions=True, segment_transport="committed"))
    r = IndexReader(spark, idx)
    tbl = r._postings_dataset().to_table(columns=["term", "block_id"])
    assert pc.any(pc.less(tbl["block_id"], 0)).as_py()
    terms = sorted(set(tbl["term"].drop_null().to_pylist()))
    pdf = r.postings_blocks_local(terms, with_positions=True)
    assert len(pdf) == pc.sum(pc.greater_equal(tbl["block_id"], 0)).as_py()
    assert (pdf["block_id"] >= 0).all() and pdf["term"].notna().all()
    text = " ".join(terms[:3])
    assert topk_local(r, text, k=5) == topk(r, text, k=5) != []
    assert topk_many_local(r, [text, terms[-1]], k=5) == topk_many(r, [text, terms[-1]], k=5)


def test_search_body_aggs_without_query_refused(spark, reader):
    """aggs run over the query's match set: without a query there is
    none (match_all is not supported) — a clear ValueError, not a bare
    StopIteration. Query-less bodies with only hits or only a
    suggester keep their answer."""
    aggs = {"by_lang": {"terms": {"field": "lang"}}}
    corpus = spark.createDataFrame([("doc000000000001", "en")], "url string, lang string")
    for body in ({"aggs": aggs}, {"query": {}, "aggs": aggs, "size": 0}):
        with pytest.raises(ValueError, match="aggs needs a query"):
            search_body(spark, reader, body, corpus=corpus)
    assert search_body(spark, reader, {"size": 5})["hits"] == []
    out = search_body(spark, reader, {"suggest": {
        "fix": {"text": "dataq", "term": {"fuzziness": 1}}}})
    assert out["hits"] == [] and out["suggest"]["fix"]


@pytest.mark.parametrize("query", [
    {"match": {"text": {"query": "data network", "operator": "and"}}},
    {"match": {"text": {"query": "data network", "minimum_should_match": 2}}},
    {"match": {"text": {"query": "data", "boost": 2.0}}},
    {"match_phrase": {"text": {"query": "data query", "slop": 2}}},
    {"match_phrase_prefix": {"text": {"query": "data que", "slop": 1}}},
    {"prefix": {"text": {"value": "dat", "boost": 2.0}}},
    {"wildcard": {"text": {"value": "da*", "case_insensitive": True}}},
    {"fuzzy": {"text": {"value": "dsta", "transpositions": False}}},
    {"bool": {"must": "data", "filter": "network"}},
    {"bool": {"must": "data", "should": "merge", "minimum_should_match": 1}},
], ids=["match-operator", "match-msm", "match-boost", "phrase-slop",
        "phrase_prefix-slop", "prefix-boost", "wildcard-case", "fuzzy-transpositions",
        "bool-filter", "bool-msm"])
def test_search_body_refuses_result_altering_leaf_params(spark, reader, query):
    with pytest.raises(ValueError, match="unsupported .* parameters"):
        search_body(spark, reader, {"query": query})
