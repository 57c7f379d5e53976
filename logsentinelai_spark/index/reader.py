"""Index reader — manifest-gated access to committed segments.

Only waves whose manifest is ``complete`` are visible (lineage.py), so
readers never see a half-written wave. Partition pruning: postings are
laid out ``postings/wave=N/shard=S/term_bucket=B``; a query for terms T
reads only the buckets {md5_bucket(t)} of committed waves, with the
``term IN (...)`` predicate pushed into the parquet row-group scan.

Global stats come straight from the manifests (driver-side arithmetic,
no Spark job): N = Σ input_docs, avgdl = Σ sum_dl / N — this is what
keeps query latency scan-dominated rather than job-dominated.

Serving reads return pyarrow Tables (postings_table_local), which the
query shard functions take as they are; postings_blocks_local is the
same read as a pandas frame, for inspection.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .build import (
    DOC_ROWS_SCHEMA, SEGMENT_ROWS_SCHEMA, config_from_meta, segment_dataset, term_bucket_py,
)
from .lineage import committed_waves, resolve_index_dir


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        # a compacted index serves from its committed generation dir
        self.dir = resolve_index_dir(index_dir)
        self.meta = json.loads((self.dir / "_meta.json").read_text())
        self.cfg = config_from_meta(self.meta)
        # positional payloads present? (phrase queries require them)
        self.positions = self.cfg.positions
        self.waves = committed_waves(str(self.dir))
        if not self.waves:
            raise FileNotFoundError(f"no committed waves in {self.dir}")
        # analyzer chain the index was built with (build-time stopword
        # removal + stemming); query analysis must mirror it
        self.stopwords = self.cfg.stopwords
        self.stemmer = self.cfg.stemmer

    def analyze_terms(self, terms: list[str]) -> list[str]:
        """Apply the index's analyzer chain to query terms — ES's
        search analyzer defaulting to the index analyzer. Identity
        when the index was built with the (default) empty chain."""
        if not self.stopwords and not self.stemmer:
            return terms
        from ..functions.analyzer import analyze

        return analyze(terms, self.stopwords, self.stemmer)

    # ---- tombstones (deletes.py): loaded once per reader, honored by
    # every scorer. Stats below deliberately KEEP counting deleted docs
    # until compaction — Lucene's behavior for an index with deletes.
    def deletes(self):
        if not hasattr(self, "_dels"):
            from .deletes import read_deletes

            arr = read_deletes(self.dir)
            self._dels = arr if arr.size else None
        return self._dels

    # ---- driver-side stats (from manifests; no Spark job)
    def global_stats(self) -> tuple[int, float]:
        n = sum(m["input_docs"] for m in self.waves.values())
        sum_dl = sum(m["sum_dl"] for m in self.waves.values())
        return n, (sum_dl / n if n else 0.0)

    def stats(self) -> dict:
        """ES ``_stats`` / ``_cat/indices`` analog — driver-side only
        (manifests + file listing + optional term-dict footers; no
        Spark job, no posting decode). Deleted docs stay counted until
        compaction, Lucene-style; ``deleted_docs`` reports the
        tombstone count separately."""
        n, avgdl = self.global_stats()
        root = self.dir / "postings"
        files = list(root.rglob("*.parquet"))
        dels = self.deletes()
        out = {
            "dir": str(self.dir),
            "docs": n,
            "avgdl": round(avgdl, 3),
            "deleted_docs": int(dels.size) if dels is not None else 0,
            "committed_waves": sorted(self.waves),
            "positions": self.positions,
            "segments_files": len(files),
            "segments_bytes": sum(f.stat().st_size for f in files),
        }
        td = self.dir / "term_dict"
        if (self.dir / "_term_dict.json").exists() and td.exists():
            import pyarrow.parquet as pq

            out["terms"] = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in td.rglob("*.parquet"))
        return out

    def partition_metrics(self) -> list[dict]:
        out = []
        for w, m in sorted(self.waves.items()):
            for p in m["partitions"]:
                out.append(dict(p, wave=w))
        return out

    # ---- term stats: global df(t) = Σ block n over t's block rows
    def term_dfs_local(self, terms: list[str]) -> dict[str, int]:
        """df per term via a driver-local pruned (term, n) column read
        off the pyarrow dataset — the metadata-sized lookup the
        distributed scorer needs BEFORE shard scoring. Replaces a full
        Spark aggregation job (scan + groupBy + collect) per query with
        a two-column footer-pruned read: the n column for the query's
        term buckets is KBs at any corpus size (block counts, not
        postings)."""
        import pyarrow.dataset as pads

        if not terms:
            return {}
        # metrics rows (block_id = -1) carry a NULL term, so the term
        # predicate already drops them
        filt = (pads.field("term_bucket").isin(self._buckets(terms))
                & pads.field("term").isin(list(terms)))
        tbl = self._postings_dataset().to_table(
            filter=filt, columns=["term", "n"])
        agg = tbl.group_by("term").aggregate([("n", "sum")])
        return {t: int(n) for t, n in
                zip(agg["term"].to_pylist(), agg["n_sum"].to_pylist())}

    def _buckets(self, terms: list[str]) -> list[int]:
        return sorted({term_bucket_py(t, self.cfg.n_buckets) for t in terms})

    # ---- segment files for query terms (partition-pruned listing)
    def shard_files(self, terms: list[str]) -> dict[int, list[str]]:
        """{shard: [segment file paths]} holding the query terms'
        buckets, across every committed wave — what the Spark serving
        stage hands its per-shard tasks. Read off the cached dataset's
        fragment list: no directory walk and no Spark job."""
        import pyarrow.dataset as pads

        filt = pads.field("term_bucket").isin(self._buckets(terms))
        out: dict[int, list[str]] = {}
        for wave in self._postings_dataset().children:
            for frag in wave.get_fragments(filter=filt):
                shard = pads.get_partition_keys(frag.partition_expression)["shard"]
                out.setdefault(int(shard), []).append(frag.path)
        return out

    def postings_blocks_all(self) -> DataFrame:
        """EVERY committed posting block (no term pruning) — the
        full-index scans behind vocabulary-wide analytics
        (significant_terms, term dictionary build). pos_vb is always
        dropped before the scan plans (column pruning): these ops read
        doc streams, never positions."""
        root = self.dir / "postings"
        paths = [str(root / f"wave={w}") for w in sorted(self.waves)]
        return (self.spark.read.schema(SEGMENT_ROWS_SCHEMA).option("basePath", str(root))
                .parquet(*paths).drop("pos_vb"))

    # ---- driver-local reads: same files, same pruning, no Spark job.
    # Query serving at low latency reads the (heavily pruned) posting
    # blocks straight off storage with pyarrow — a search head does not
    # need a cluster for one query's ~dozens of row groups; Spark jobs
    # are for the build and for batch/scale-out query workloads.
    def postings_table_local(self, terms: list[str],
                             with_positions: bool = False):
        """The query terms' posting block rows as a pyarrow Table — the
        input every serving shard function takes (index/query.py)."""
        import pyarrow.dataset as pads

        dataset = self._postings_dataset()
        # the in-band segment-metrics rows (block_id = -1) carry a NULL
        # term, so the term predicate already drops them
        filt = (pads.field("term_bucket").isin(self._buckets(terms))
                & pads.field("term").isin(list(terms)))
        # BM25 serving never reads positions: project the position-free
        # column list so the (widest) pos_vb column is never read off
        # storage for non-phrase queries — parquet column pruning at
        # the pyarrow scan, as the Spark serving tasks do
        cols = dataset.schema.names
        if not with_positions and "pos_vb" in cols:
            cols = [c for c in cols if c != "pos_vb"]
        return dataset.to_table(filter=filt, columns=cols)

    def postings_blocks_local(self, terms: list[str],
                              with_positions: bool = False):
        """:meth:`postings_table_local` as a pandas frame (inspection
        and tests; serving never converts)."""
        return self.postings_table_local(terms, with_positions).to_pandas()

    def _postings_dataset(self):
        """Cached pyarrow dataset over the committed waves — file
        discovery and parquet footer reads happen once per reader, not
        once per query (a serving head answers many queries against an
        immutable committed-wave set; a new wave commit needs a new
        reader, which is the manifest-gating contract anyway)."""
        import pyarrow.dataset as pads

        ds = getattr(self, "_postings_ds", None)
        if ds is None:
            ds = pads.dataset([
                segment_dataset(self.dir / "postings" / f"wave={w}")
                for w in sorted(self.waves)
            ])
            self._postings_ds = ds
        return ds

    def doc_urls_local(self, doc_ids: list[int]) -> dict[int, str]:
        """url per doc id for a final page: a tiny shard- and
        id-pruned pyarrow read of the kind=0 doc rows in the stage-1
        store (every serving mode resolves urls here)."""
        import pyarrow.dataset as pads

        if not doc_ids:
            return {}
        dataset = getattr(self, "_docs_ds", None)
        if dataset is None:
            dataset = pads.dataset([
                pads.dataset(str(self.dir / "store" / f"wave={w}" / "kind=0"), format="parquet")
                for w in sorted(self.waves)
            ])
            self._docs_ds = dataset
        shards = sorted({d // self.cfg.shard_size for d in doc_ids})
        filt = pads.field("shard").isin(shards) & pads.field("doc_id").isin(list(doc_ids))
        t = dataset.to_table(filter=filt, columns=["doc_id", "url"])
        return dict(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))

    def doc_stats_df(self) -> DataFrame:
        root = self.dir / "store"
        df = self.spark.read.schema(DOC_ROWS_SCHEMA).option("basePath", str(root)).parquet(
            *[str(root / f"wave={w}" / "kind=0") for w in sorted(self.waves)]
        )
        return df.select("doc_id", "url", "dl", "shard")
