"""One segment format, one merge kernel, one reader of ``_meta.json``.

Pins: (1) compaction writes exactly the block rows a fresh build at
the compacted shard size writes (both run build._merge_group), and a
build raises no type-hint warning; (2) an index whose meta records a
segment codec other than varbyte is refused by every entry point that
reads it; (3) a resume asking for a different layout is refused, and
a resume never mutates the caller's IndexConfig; (4) a maintenance
tick finishes when the expired slice alone exceeds the tombstone cap.
"""

from __future__ import annotations

import datetime as dt
import json
import warnings
from dataclasses import replace
from pathlib import Path

import pyarrow.dataset as pads
import pytest

from logsentinelai_spark.corpus import BASE_EPOCH, gen_pages_df
from logsentinelai_spark.index import deletes as dels_mod
from logsentinelai_spark.index.build import IndexConfig, build_index, extend_index
from logsentinelai_spark.index.compact import compact_index
from logsentinelai_spark.index.deletes import read_deletes
from logsentinelai_spark.index.lineage import resolve_index_dir
from logsentinelai_spark.index.query import topk_local
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.retention import maintenance_tick

SMALL = IndexConfig(shard_size=64, wave_shards=1, n_buckets=2, block_size=32)


def _block_rows(index_dir: str) -> list[tuple]:
    """Every posting block row of the live generation, metrics rows
    excluded, as sorted comparable tuples (bytes compared verbatim)."""
    live = resolve_index_dir(index_dir)
    ds = pads.dataset(str(live / "postings"), format="parquet", partitioning="hive")
    tbl = ds.to_table(filter=pads.field("block_id") >= 0)
    cols = ["shard", "term_bucket", "term", "block_id", "n", "first_doc", "last_doc",
            "max_tf", "min_dl", "sum_tf", "gaps_vb", "tfs_vb", "dls_vb", "pos_vb"]
    return sorted(zip(*(tbl.column(c).to_pylist() for c in cols)))


def test_compaction_writes_the_fresh_build_bytes(spark, tmp_path):
    """Build at shard size S (several waves), compact to 4S, and the
    compacted segments hold the same block rows, byte for byte, as a
    fresh build at 4S — positions included; compacting again at 4S
    changes nothing."""
    pages = gen_pages_df(spark, 600, partitions=4)
    small, big = str(tmp_path / "s"), str(tmp_path / "b")
    cfg = IndexConfig(shard_size=64, wave_shards=2, n_buckets=4, block_size=16)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_index(spark, pages, small, cfg)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    build_index(spark, pages, big, replace(cfg, shard_size=256))
    compact_index(spark, small)
    rows = _block_rows(small)
    assert len(rows) > 1000
    assert rows == _block_rows(big)
    # a layout-preserving rewrite writes the same bytes back
    compact_index(spark, small, shard_size=256)
    assert _block_rows(small) == rows


@pytest.fixture
def tiny_index(spark, tmp_path):
    idx = str(tmp_path / "tiny")
    pages = gen_pages_df(spark, 128, partitions=2)
    build_index(spark, pages, idx, SMALL)
    return idx, pages


def test_foreign_codec_refused_everywhere(spark, tiny_index):
    idx, pages = tiny_index
    meta_p = Path(idx) / "_meta.json"
    meta = json.loads(meta_p.read_text())
    assert meta["codec"] == "varbyte"
    meta["codec"] = "packed"
    meta_p.write_text(json.dumps(meta))
    for call in (lambda: IndexReader(spark, idx),
                 lambda: extend_index(spark, pages, idx),
                 lambda: compact_index(spark, idx),
                 lambda: build_index(spark, pages, idx, SMALL)):
        with pytest.raises(ValueError, match="'packed'"):
            call()


def test_resume_refuses_a_different_layout(spark, tmp_path):
    idx = str(tmp_path / "resume")
    pages = gen_pages_df(spark, 256, partitions=4)
    cfg = replace(SMALL, positions=False)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, idx, cfg, fail_after_wave=0)
    for field, value in (("n_buckets", 4), ("wave_shards", 2), ("block_size", 16),
                         ("shard_size", 128), ("stopwords", ("the",))):
        with pytest.raises(ValueError, match=field):
            build_index(spark, pages, idx, replace(cfg, **{field: value}))
    # legacy meta (no positions key): the resume follows the index, and
    # leaves the caller's config as it was
    meta_p = Path(idx) / "_meta.json"
    meta = json.loads(meta_p.read_text())
    meta.pop("positions")
    meta_p.write_text(json.dumps(meta))
    asked = replace(cfg, positions=True)
    summary = build_index(spark, pages, idx, asked)
    assert summary["skipped_waves"] == [0]
    assert asked == replace(cfg, positions=True)
    r = IndexReader(spark, idx)
    assert r.positions is False and r.global_stats()[0] == 256


def test_maintenance_tick_retires_beyond_the_cap(spark, tmp_path, monkeypatch):
    """65 expired docs under a cap of 25: the tick retires 25, 25 and
    15 with a compaction after each full step, then the ratio trigger
    (15 of 110) compacts the last 15 away."""
    monkeypatch.setattr(dels_mod, "MAX_TOMBSTONES", 25)
    idx = str(tmp_path / "tick")
    pages = gen_pages_df(spark, 160, partitions=2)
    build_index(spark, pages, idx, SMALL)
    cutoff = (BASE_EPOCH + dt.timedelta(seconds=65 * 37)).strftime("%Y-%m-%d %H:%M:%S")
    tick = maintenance_tick(spark, idx, pages, cutoff)
    assert tick["retired"] == 65 and tick["compacted"]
    r = IndexReader(spark, idx)
    assert r.global_stats()[0] == 95
    assert len(read_deletes(idx)) == 0
    expired = {row.doc_id for row in r.doc_stats_df().join(
        pages.filter(f"warc_ts < TIMESTAMP '{cutoff}'").select("url"), "url")
        .select("doc_id").collect()}
    assert not expired
    assert topk_local(r, "the of and", k=5)
