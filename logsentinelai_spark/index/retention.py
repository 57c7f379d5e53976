"""ILM-style retention: delete-by-query + age/size-triggered compaction.

The reference's index lifecycle is rollover at 10 GB / 1 day and
delete after 7 days (reference INSTALL-and-USAGE.md:360-386 — the
``logsentinelai-ilm-policy`` attached to every ``logsentinelai-*``
index). ES implements the delete phase by dropping whole rolled-over
indices; the analog here keeps ONE index and retires documents through
the existing tombstone + generation-compaction machinery
(deletes.py / compact.py) — same observable lifecycle: retired docs
disappear from results immediately (tombstone mask in every scorer),
storage and stats shrink at the next compaction.

Where the timestamp lives: ES runs delete-by-query against the stored
``_source``; this engine's _source analog is the corpus parquet the
index was built over (the index stores ``url`` as the stable external
key — the url-keyed snapshot contract, index/build.py). So
:func:`delete_by_query` takes the corpus DataFrame and a predicate,
resolves matching urls to index doc ids through the index's own url
map, and feeds the existing tombstone path. Scale shape: predicate +
url projection push into the corpus scan; the url->id resolution is
one join against the store (AQE broadcast-converts when the retired
slice is small); only the matched ids reach delete_docs, which is
bounded by the MAX_TOMBSTONES contract — maintenance_tick retires a
bigger slice in cap-sized steps with a compaction after each, exactly
what the contract says.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import deletes
from .compact import compact_index
from .deletes import delete_docs, read_deletes
from .lineage import resolve_index_dir
from .reader import IndexReader


def _matching_ids(spark: SparkSession, index_dir: str, corpus: DataFrame,
                  predicate: str) -> DataFrame:
    """doc_id of every doc of the live generation whose corpus row
    matches ``predicate`` (a compaction drops retired docs from it)."""
    reader = IndexReader(spark, resolve_index_dir(index_dir))
    urls = corpus.filter(predicate).select("url")
    return reader.doc_stats_df().join(urls, "url").select("doc_id")


def _expired(older_than: str) -> str:
    return f"warc_ts < TIMESTAMP '{older_than}'"


def delete_by_query(spark: SparkSession, index_dir: str,
                    corpus: DataFrame, predicate: str) -> dict:
    """ES ``_delete_by_query``: tombstone every doc whose corpus row
    matches ``predicate`` (a SQL boolean expression over the corpus
    columns, e.g. ``"warc_ts < TIMESTAMP '2025-01-08'"``)."""
    return delete_docs(index_dir, _matching_ids(spark, index_dir, corpus, predicate))


def retire(spark: SparkSession, index_dir: str, corpus: DataFrame,
           older_than: str) -> dict:
    """The ILM delete phase: retire every doc crawled before
    ``older_than`` (ISO timestamp string; the reference's policy uses
    min_age=7d from rollover)."""
    return delete_by_query(spark, index_dir, corpus, _expired(older_than))


def maintenance_tick(spark: SparkSession, index_dir: str,
                     corpus: DataFrame, older_than: str,
                     max_tombstone_frac: float = 0.10) -> dict:
    """One scheduler tick of the lifecycle policy (the reference runs
    this inside ES automatically; here it is an explicit job a cron /
    Airflow DAG drives): retire expired docs, then compact when the
    tombstone fraction crosses ``max_tombstone_frac`` — Lucene's
    merge-on-deletes-ratio trigger. Idempotent: a tick with nothing
    expired and a healthy ratio retires nothing and compacts nothing.

    An expired slice bigger than the tombstone cap
    (deletes.MAX_TOMBSTONES, read at call time) is retired in steps:
    each step tombstones at most the room left under the cap, and a
    step that fills it compacts, which drops those docs from the doc
    rows the next step matches against."""
    summary: dict = {"retired": 0, "compacted": False}
    while True:
        pending = read_deletes(index_dir)
        room = deletes.MAX_TOMBSTONES - pending.size
        if room > 0:
            ids = _matching_ids(spark, index_dir, corpus, _expired(older_than))
            if pending.size:
                # already-tombstoned docs are not retired twice
                import pyarrow as pa

                ids = ids.join(F.broadcast(spark.createDataFrame(
                    pa.table({"doc_id": pending}))), "doc_id", "left_anti")
            res = delete_docs(index_dir, ids.limit(room))
            summary["retired"] += res["newly_deleted"]
            summary["tombstones"] = res["n_deleted"]
            if res["newly_deleted"] < room:
                break  # the whole expired slice is tombstoned
        compact_index(spark, index_dir)
        summary["compacted"] = True
    reader = IndexReader(spark, resolve_index_dir(index_dir))
    n_docs, _ = reader.global_stats()
    n_tomb = len(read_deletes(index_dir))
    if n_docs and (n_tomb / n_docs) > max_tombstone_frac:
        compact_index(spark, index_dir)
        summary["compacted"] = True
    return summary


__all__ = ["delete_by_query", "retire", "maintenance_tick"]
