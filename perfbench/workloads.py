"""The benchmark workloads. Each is one closed-loop client: it sends its
next request only after the previous reply, checks every answer it
times, and counts every attempted and failed operation by type.

- ``ingest``: bulk ``build_index`` of one HTML pages table into fresh
  directories, each followed by ``compact_index``. Extraction,
  tokenization, the build waves and compaction do the work; no search.
  Its traced run also drives the maintenance path once (``extend_index``
  and two ``maintenance_tick`` calls), the only user of the deletes and
  retention layers.
- ``interactive``: driver-local ``search_body`` over an unfragmented
  index, plus ``topk_many_local`` batches. The read path does the work;
  Spark must run no job while it is timed.
- ``batch``: the same index and body mix served through Spark
  (``serving="spark"``) plus ``topk_many`` batches: job overhead and the
  ``applyInPandas`` boundary do the work.

Sizes are fixed here, not by the seed: the seed only changes the pages
and the query texts."""

from __future__ import annotations

import datetime as dt
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import Future
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from logsentinelai_spark.corpus import BASE_EPOCH, build_vocab, gen_pages_pandas, gen_queries, gen_text
from logsentinelai_spark.functions.extract import extract_pages
from logsentinelai_spark.functions.tokenizer import tokenize_df, tokens
from logsentinelai_spark.index.bm25 import bm25_oracle_topk
from logsentinelai_spark.index.body import search_body
from logsentinelai_spark.index.build import IndexConfig, build_index, extend_index
from logsentinelai_spark.index.compact import compact_index
from logsentinelai_spark.index.lineage import committed_waves, resolve_index_dir
from logsentinelai_spark.index.query import topk_local_terms, topk_many, topk_many_local
from logsentinelai_spark.index.reader import IndexReader
from logsentinelai_spark.index.retention import maintenance_tick
from logsentinelai_spark.index.termdict import (ensure_term_dict, expand_fuzzy, expand_prefix,
                                                expand_wildcard)

K = 10
MSEARCH_BATCH = 25
# gen_queries strata sizes: twice its defaults, so that a run averages over
# more query texts and the seed moves the figures less
QUERY_STRATA = {"common": 40, "rare": 40, "mixed": 10, "oov": 10}
SHAPE_BODIES = 40  # bodies of each other shape


class Run:
    """One run's state: session, scratch dir, tracer, timing samples,
    per-layer values and per-operation (attempted, failed) counts."""

    def __init__(self, session: Future, work: Path, seed: int, tracer):
        self._session = session
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.ops: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self.phases: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, tuple[float, str, int]] = {}

    @property
    def spark(self):
        """The session, started in the background so that it overlaps
        the corpus synthesis; waits until it is up."""
        return self._session.result()

    def call(self, op: str, span: str, fn, *args, **kwargs):
        """Time one request. Returns (result or None on error, seconds)."""
        self.ops[op][0] += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.ops[op][1] += 1
            return None, time.perf_counter() - t
        dt_s = time.perf_counter() - t
        self.samples[op].append(dt_s)
        if self.tracer.enabled:
            self.samples[op + ("@traced" if self.tracer.active else "@untraced")].append(dt_s)
        return out, dt_s

    @contextmanager
    def request(self, traced: bool):
        """One client request. In the traced run, alternate requests are
        left untraced; the difference is the tracing overhead."""
        self.tracer.active = self.tracer.enabled and traced
        with self.tracer.span("bench.request"):
            yield

    def fail(self, op: str, why: str) -> None:
        """A failed correctness check is a failed operation."""
        print(f"check failed [{op}]: {why}", file=sys.stderr)
        self.ops[op][1] += 1

    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def probe(self, span: str, fn, *args, **kwargs):
        """An untimed-by-the-client call made only in the traced run to
        split a request into layers. Returns (result, seconds)."""
        t = time.perf_counter()
        with self.tracer.span(span):
            out = fn(*args, **kwargs)
        return out, time.perf_counter() - t

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.report[name] = (value, unit, n)


# ------------------------------------------------------------ helpers

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """(value, percentile 0-100) of the highest percentile with at least
    10 samples beyond it; (0, 0) below 11 samples."""
    n = len(xs)
    if n < 11:
        return 0.0, 0
    s = sorted(xs)
    idx = n - 11  # 10 samples strictly above s[idx]
    return s[idx], int(100 * (idx + 1) / n)


def ts_of(i: int) -> str:
    """warc_ts of page i (corpus.py: BASE_EPOCH + 37 s per page)."""
    return (BASE_EPOCH + dt.timedelta(seconds=i * 37)).strftime("%Y-%m-%d %H:%M:%S")


def dir_bytes(path: Path, pattern: str = "*") -> tuple[int, int]:
    files = [p for p in path.rglob(pattern) if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def synth_pages(run: Run, name: str, n: int) -> tuple[Path, pa.Table]:
    """Write pages[0, n) for the run's seed to one parquet directory and
    return it with the same rows as an Arrow table.

    ``gen_pages_pandas`` is the per-page generator behind ``gen_pages_df``
    (same rows for the same seed), run here in the driver while the Spark
    session starts: a Spark job would add seconds to every set-up."""
    t = pa.Table.from_pandas(gen_pages_pandas(n, seed=run.seed), preserve_index=False)
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts",
                     t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")))
    path = run.work / name
    path.mkdir()
    pq.write_table(t, str(path / "part-0.parquet"))
    return path, t


def text_bytes(pages: pa.Table, n: int) -> int:
    """UTF-8 bytes of the ``text`` column of pages[0, n)."""
    return int(pc.sum(pc.binary_length(pages.column("text").slice(0, n))).as_py())


def doc_ids_by_url(index_dir: Path) -> dict[str, int]:
    """url -> doc id of every document row the live generation stores."""
    live = resolve_index_dir(str(index_dir))
    t = pads.dataset(str(live / "store"), format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "url"], filter=pads.field("kind") == 0)
    return dict(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))


def oracle_matches(hits, doc_tokens, text: str) -> str | None:
    """None when ``hits`` are rank-identical to bm25_oracle_topk, else why."""
    want = bm25_oracle_topk(doc_tokens, tokens(text), k=K)
    if [d for d, _ in hits] != [d for d, _ in want]:
        return f"{text!r}: ids {[d for d, _ in hits]} != oracle {[d for d, _ in want]}"
    if any(abs(s - w) > 1e-6 for (_, s), (_, w) in zip(hits, want)):
        return f"{text!r}: scores differ from the oracle by more than 1e-6"
    return None


def wave_build_metrics(index_dir: Path) -> dict[str, float]:
    """Stage seconds, merge-task times and posting counts of the index's
    committed waves, from their manifests."""
    ms = list(committed_waves(str(resolve_index_dir(str(index_dir)))).values())
    st = lambda k: sum(m["stage_elapsed_sec"].get(k, 0.0) for m in ms)  # noqa: E731
    task_ms = [p["elapsed_ms"] for m in ms for p in m["partitions"]]
    return {
        "wave_idmap_s": st("wave_idmap"),
        "stage1_s": st("stage1_partial_runs"),
        "merge_s": st("stage2_salted_merge"),
        "commit_s": st("commit_metrics"),
        "merge_task_ms_max": max(task_ms, default=0),
        "merge_task_ms_p50": median(task_ms),
        "postings": sum(p["postings"] for m in ms for p in m["partitions"]),
        "blocks": sum(p["n_blocks"] for m in ms for p in m["partitions"]),
        "waves": len(ms),
    }


def index_storage(run: Run, index_dir: Path, postings: int) -> None:
    live = resolve_index_dir(str(index_dir))
    pb, pf = dir_bytes(live / "postings", "*.parquet")
    db, df_ = dir_bytes(live / "store", "*.parquet")
    run.layer["index.postings_bytes"] = pb
    run.layer["index.docs_bytes"] = db
    run.layer["index.files"] = pf + df_
    run.layer["index.bytes_per_posting"] = pb / postings if postings else 0.0


# ------------------------------------------------------------ bodies

STRATA = tuple(QUERY_STRATA)
SHAPES = ("match", "bool", "match_phrase", "prefix", "wildcard", "fuzzy", "search_after")


def make_bodies(seed: int, n_pages: int) -> list[dict]:
    """The ``_search`` body mix for a seed: the ``gen_queries`` match
    bodies in their four strata, and SHAPE_BODIES each of bool,
    match_phrase, prefix, wildcard and fuzzy. search_after bodies are
    added once the first page of a match body is known
    (``add_second_pages``). Each item: {"shape", "stratum", "text",
    "body"}."""
    q = gen_queries(seed=seed, **{f"n_{s}": n for s, n in QUERY_STRATA.items()})
    strata = [s for s, n in QUERY_STRATA.items() for _ in range(n)]
    out = [{"shape": "match", "stratum": s, "text": t, "body": {"query": {"match": t}}}
           for s, t in zip(strata, q["query_text"])]
    rng = np.random.default_rng([seed, 4242])
    vocab = [w for w in build_vocab() if w.isalnum() and w.isascii() and len(w) >= 4]
    common = vocab[:100]
    rare_texts = [t for s, t in zip(strata, q["query_text"]) if s == "rare"]
    for i in range(SHAPE_BODIES):
        must = str(rng.choice(common))
        out.append({"shape": "bool", "stratum": None, "text": None,
                    "body": {"query": {"bool": {"must": must, "should": rare_texts[i]}}}})
    for _ in range(SHAPE_BODIES):
        toks = tokens(gen_text(int(rng.integers(0, n_pages)), seed)[0])
        j = int(rng.integers(0, len(toks) - 1))
        out.append({"shape": "match_phrase", "stratum": None, "text": None,
                    "body": {"query": {"match_phrase": f"{toks[j]} {toks[j + 1]}"}}})
    for _ in range(SHAPE_BODIES):
        w = str(rng.choice(vocab[:1500]))
        out.append({"shape": "prefix", "stratum": None, "text": None,
                    "body": {"query": {"prefix": w[:3]}}})
    for _ in range(SHAPE_BODIES):
        w = str(rng.choice(vocab[:1500]))
        pat = w[:2] + "?" + w[3:-1] + "*"
        out.append({"shape": "wildcard", "stratum": None, "text": None,
                    "body": {"query": {"wildcard": pat}}})
    for _ in range(SHAPE_BODIES):
        w = str(rng.choice(vocab[:1500]))
        j = int(rng.integers(1, len(w)))
        typo = w[:j] + ("x" if w[j] != "x" else "y") + w[j + 1:]
        out.append({"shape": "fuzzy", "stratum": None, "text": None,
                    "body": {"query": {"fuzzy": {"text": {"value": typo, "fuzziness": 1,
                                                          "prefix_length": 1}}}}})
    return out


def add_second_pages(bodies: list[dict], first_pages: dict[int, list]) -> None:
    """One search_after body (page 2) per match body whose first page is
    full, up to SHAPE_BODIES; the cursor is the first page's last hit."""
    added = 0
    for i, b in enumerate(list(bodies)):
        hits = first_pages.get(i)
        if b["shape"] != "match" or not hits or len(hits) < K or added == SHAPE_BODIES:
            continue
        s, d = hits[-1]
        bodies.append({"shape": "search_after", "stratum": None, "text": b["text"],
                       "body": {"query": {"match": b["text"]}, "size": K,
                                "search_after": [s, d]}})
        added += 1


def cyclic_mix(bodies: list[dict]):
    """The request order: groups (a match stratum, or a body shape) take
    turns, and each group cycles through its own bodies, so every stretch
    of the order holds each group in the same share however long the run.
    Returns (request number -> body index, number of groups)."""
    groups: dict = {}
    for i, b in enumerate(bodies):
        groups.setdefault(b["stratum"] or b["shape"], []).append(i)
    lists = list(groups.values())
    return (lambda n: lists[n % len(lists)][(n // len(lists)) % len(lists[n % len(lists)])],
            len(lists))


# ------------------------------------------------------------ ingest

class Ingest:
    name = "ingest"
    PAGES = 4096
    # 2 waves of 2 shards of 1024 docs: per-wave fixed costs count
    CFG = dict(shard_size=1024, wave_shards=2, n_buckets=8)
    # pages the traced run's maintenance probe adds, then retires
    STEP = 512
    ITERATION_S = 8  # a build + compaction takes 4-10 s on 4 cores

    def setup(self, run: Run) -> None:
        with run.phase("corpus"):
            path, t = synth_pages(run, "pages", self.PAGES + self.STEP)
            self.text_bytes = text_bytes(t, self.PAGES)
        with run.phase("warmup"):
            self.all_pages = run.spark.read.parquet(str(path))
            self.pages = self.all_pages.filter(f"warc_ts < TIMESTAMP '{ts_of(self.PAGES)}'")
            # the first build and compaction in a JVM pay class loading,
            # JIT and code generation: keep them out of the timed phase
            d = run.work / "warm"
            build_index(run.spark, self.pages, str(d), IndexConfig(**self.CFG))
            compact_index(run.spark, str(d))
            shutil.rmtree(d)

    def timed(self, run: Run, seconds: float, t0: float) -> None:
        self.builds: list[dict] = []
        self.compacts: list[dict] = []
        self.index_bytes = 0
        # One iteration per ITERATION_S of the run: a count that does not
        # depend on how fast the host is at the moment, so every run makes
        # the same number. The traced run makes at least two, one traced
        # and one untraced.
        n = max(round(seconds / self.ITERATION_S), 2 if run.tracer.enabled else 1)
        for i in range(n):
            if i:
                shutil.rmtree(self.dir, ignore_errors=True)
            self.dir = run.work / f"build{i}"
            with run.request(traced=i % 2 == 0):
                self.build_and_compact(run, first=i == 0)

    def build_and_compact(self, run: Run, first: bool) -> None:
        summary, _ = run.call("build", "build.index", build_index,
                              run.spark, self.pages, str(self.dir), IndexConfig(**self.CFG))
        if summary is None:
            return
        n_docs = IndexReader(run.spark, str(self.dir)).global_stats()[0]
        if n_docs != self.PAGES:
            run.fail("build", f"index holds {n_docs} docs, table has {self.PAGES}")
        self.index_bytes = dir_bytes(self.dir)[0]
        self.builds.append(dict(wave_build_metrics(self.dir),
                                doc_map_s=summary.get("stage0_doc_map_sec", 0.0)))
        if run.tracer.enabled and first:
            index_storage(run, self.dir, self.builds[-1]["postings"])
        res, _ = run.call("compact", "compact.index", compact_index, run.spark, str(self.dir))
        if res is not None:
            if res["live_docs"] != self.PAGES:
                run.fail("compact", f"compacted index holds {res['live_docs']} docs")
            res["bytes_rewritten"] = dir_bytes(Path(res["dir"]))[0]
            self.compacts.append(res)

    def finish(self, run: Run) -> dict[str, float]:
        b = run.samples["build"]
        c = run.samples["compact"]
        docs_per_s = self.PAGES * len(b) / sum(b) if b else 0.0
        run.put("build_docs_per_s", docs_per_s, "docs/s", len(b))
        run.put("compact_s", median(c), "s", len(c))
        ratio = self.index_bytes / self.text_bytes
        run.put("index_bytes_per_text_byte", ratio, "ratio", 1)
        if run.tracer.enabled:
            self._layers(run)
            self._maintenance_probe(run)
        return {"throughput_per_s": docs_per_s, "latency_ms_p50": 1000 * median(c),
                "index_bytes_per_text_byte": ratio}

    def _layers(self, run: Run) -> None:
        for k in ("doc_map_s", "wave_idmap_s", "stage1_s", "merge_s", "commit_s",
                  "merge_task_ms_max", "merge_task_ms_p50", "postings", "blocks", "waves"):
            run.layer[f"build.{k}"] = median([b[k] for b in self.builds])
        cs = self.compacts
        run.layer["compact.call_s"] = median(run.samples["compact"])
        run.layer["compact.postings_s"] = median(
            [c["stage_elapsed_sec"]["compact_postings"] for c in cs])
        run.layer["compact.files_before"] = median([c["files_before"] for c in cs])
        run.layer["compact.files_after"] = median([c["files_after"] for c in cs])
        run.layer["compact.bytes_rewritten"] = median([c["bytes_rewritten"] for c in cs])
        # extract + tokenize alone, into a sink that writes nothing
        df = tokenize_df(extract_pages(self.pages), text_col="extracted_text")
        _, t = run.probe("functions.extract_tokenize",
                         lambda: df.write.format("noop").mode("overwrite").save())
        run.layer["functions.extract_tokenize_s"] = t
        run.layer["functions.docs_per_s"] = self.PAGES / t

    def _maintenance_probe(self, run: Run) -> None:
        """The write path after a bulk build, on the last built index:
        extend_index with STEP new pages, then two maintenance ticks that
        each retire the oldest STEP/2 pages. The first stays under the
        10% tombstone trigger (5.6%), the second crosses it (11.1%) and
        compacts."""
        half = self.STEP // 2
        res, _ = run.call("extend", "build.extend", extend_index,
                          run.spark, self.all_pages, str(self.dir))
        if res is not None and res.get("new_docs") != self.STEP:
            run.fail("extend", f"{res.get('new_docs')} new docs, want {self.STEP}")
        ticks, compactions = [], 0
        for cutoff, compacts in ((half, False), (self.STEP, True)):
            tick, t = run.call("tick", "retention.tick", maintenance_tick, run.spark,
                               str(self.dir), self.all_pages, ts_of(cutoff))
            if tick is None:
                continue
            ticks.append(t)
            compactions += tick["compacted"]
            if tick["retired"] != half or tick["compacted"] != compacts:
                run.fail("tick", f"retire before page {cutoff}: {tick}, want {half} retired")
            if not compacts:
                run.layer["deletes.tombstones"] = tick["tombstones"]
                run.layer["retention.retire_s"] = t
        n_docs = IndexReader(run.spark, str(self.dir)).global_stats()[0]
        if n_docs != self.PAGES:
            run.fail("tick", f"{n_docs} live docs after retirement, want {self.PAGES}")
        run.layer["retention.tick_s"] = sum(ticks) / len(ticks) if ticks else 0.0
        run.layer["retention.compactions"] = compactions


# ------------------------------------------------------------ serving

class _Serving:
    """``interactive`` and ``batch``: one closed-loop client sends the body
    mix, with a ``topk_many*`` batch after every ``BATCH_EVERY`` bodies,
    against an unfragmented index that set-up builds, through the serving
    mode of the subclass. Every answer must equal the driver-local
    reference for its body (``reference``), and the references of a sample
    of the match bodies must be rank-identical to the BM25 oracle."""

    PAGES = 6000
    # One wave of two 4096-doc shards: the layout compact_index gives a
    # multi-wave build of 1024-doc shards (one wave, shards 4x larger),
    # built directly so that set-up pays one cold Spark job chain, not two.
    CFG = dict(shard_size=4096, wave_shards=2, n_buckets=8)
    ORACLE_SAMPLE = 2  # match bodies per stratum checked against the oracle

    def setup(self, run: Run) -> None:
        with run.phase("corpus"):
            path, self.table = synth_pages(run, "pages", self.PAGES)
            self.text_bytes = text_bytes(self.table, self.PAGES)
            self.bodies = make_bodies(run.seed, self.PAGES)
        with run.phase("prebuild"):
            self.dir = run.work / "index"
            build_index(run.spark, run.spark.read.parquet(str(path)), str(self.dir),
                        IndexConfig(**self.CFG))
            self.reader = IndexReader(run.spark, str(self.dir))
        with run.phase("termdict"):
            ensure_term_dict(run.spark, self.reader)
        with run.phase("warmup"):
            # driver-local references for the match bodies; other bodies
            # get theirs when first sent (``reference``)
            self.ref = {i: search_body(run.spark, self.reader, b["body"])["hits"]
                        for i, b in enumerate(self.bodies) if b["shape"] == "match"}
            add_second_pages(self.bodies, self.ref)
            ref_by_text = {b["text"]: self.ref[i] for i, b in enumerate(self.bodies)
                           if b["shape"] == "match"}
            texts = list(ref_by_text)
            self.batches = [[texts[(i + j) % len(texts)] for j in range(MSEARCH_BATCH)]
                            for i in range(0, len(texts), MSEARCH_BATCH)]
            self.batch_ref = [[ref_by_text[t] for t in b] for b in self.batches]
            self.mix, self.groups = cyclic_mix(self.bodies)
            self.warm_serving(run)
        self.ratio = dir_bytes(self.dir)[0] / self.text_bytes
        if run.tracer.enabled:
            index_storage(run, self.dir, wave_build_metrics(self.dir)["postings"])

    def warm_serving(self, run: Run) -> None:
        """One body of every group and one batch in the serving mode, so
        that no timed request is the first of its kind."""
        for i in range(self.groups):
            search_body(run.spark, self.reader, self.bodies[self.mix(i)]["body"],
                        serving=self.serving)
        self.msearch_fn(self.reader, self.batches[0], k=K)

    def reference(self, run: Run, bi: int, hits: list) -> list:
        """The driver-local answer for a body. Match bodies have theirs from
        set-up; for the others, the first answer is the reference when
        serving is driver-local, and a driver-local call (untimed) when it
        is Spark."""
        if bi not in self.ref:
            self.ref[bi] = hits if self.serving == "local" else search_body(
                run.spark, self.reader, self.bodies[bi]["body"])["hits"]
        return self.ref[bi]

    def timed(self, run: Run, seconds: float, t0: float) -> None:
        jobs0 = self.count_jobs(run)
        self.answered: set[int] = set()
        i = nb = 0
        # whole rounds of the mix only: every run answers each group of
        # bodies equally often, so the median is over the same composition
        while i % self.groups or time.perf_counter() - t0 < seconds:
            bi = self.mix(i)
            b = self.bodies[bi]
            # whole rounds of the mix alternate between traced and untraced
            with run.request(traced=(i // self.groups) % 2 == 0):
                res, dt_s = run.call(self.search_op, self.search_span, search_body,
                                     run.spark, self.reader, b["body"], serving=self.serving)
                if res is not None:
                    run.samples[f"body.{b['shape']}"].append(dt_s)
                    self.answered.add(bi)
                    if res["hits"] != self.reference(run, bi, res["hits"]):
                        run.fail(self.search_op, f"{b['body']}: hits differ from the "
                                 "driver-local reference")
            if res is not None and run.tracer.active and self.serving == "local":
                self.probe(run, b, dt_s, res)
            i += 1
            if i % self.BATCH_EVERY:
                continue
            k = nb % len(self.batches)
            with run.request(traced=nb % 2 == 0):
                out, _ = run.call(self.msearch_op, self.msearch_span, self.msearch_fn,
                                  self.reader, self.batches[k], k=K)
                if out is not None:
                    for text, hits, want in zip(self.batches[k], out, self.batch_ref[k]):
                        if [d for d, _ in hits] != [d for d, _ in want]:
                            run.fail(self.msearch_op, f"{text!r}: batch answer differs "
                                     "from search_body")
            nb += 1
        if self.serving == "local" and self.count_jobs(run) != jobs0:
            run.fail(self.search_op, f"{self.count_jobs(run) - jobs0} Spark jobs ran "
                     "during driver-local serving")

    def count_jobs(self, run: Run) -> int:
        """Jobs run outside any job group (all of them, untraced)."""
        return len(run.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def check_oracle(self, run: Run) -> None:
        """Rank identity of the reference answers with bm25_oracle_topk over
        the whole corpus, mapped through the index's url -> doc id map,
        for ORACLE_SAMPLE match bodies of each stratum answered in the
        timed phase."""
        ids = doc_ids_by_url(self.dir)
        doc_tokens = {ids[u]: tokens(x) for u, x in zip(
            self.table.column("url").to_pylist(), self.table.column("text").to_pylist())}
        seen: dict[str, int] = defaultdict(int)
        for bi in sorted(self.answered):
            b = self.bodies[bi]
            if b["shape"] != "match" or seen[b["stratum"]] >= self.ORACLE_SAMPLE:
                continue
            seen[b["stratum"]] += 1
            why = oracle_matches(self.ref[bi], doc_tokens, b["text"])
            if why:
                run.fail(self.search_op, why)

    def finish(self, run: Run) -> dict[str, float]:
        self.check_oracle(run)
        s = run.samples[self.search_op]
        p50 = 1000 * median(s)
        t, pct = tail(s)
        run.put(f"{self.search_op}_ms_p50", p50, "ms", len(s))
        run.put(f"{self.search_op}_ms_tail (p{pct})", 1000 * t, "ms", len(s))
        m = run.samples[self.msearch_op]
        qps = len(m) * MSEARCH_BATCH / sum(m) if m else 0.0
        run.put(f"{self.msearch_op}_qps", qps, "1/s", len(m))
        if run.tracer.enabled:
            self.layers(run)
        return {"throughput_per_s": qps, "latency_ms_p50": p50,
                "index_bytes_per_text_byte": self.ratio}

    def probe(self, run: Run, b: dict, search_s: float, res: dict) -> None:
        """Split one traced driver-local request into reader, scorer,
        term-dictionary and url-lookup time by calling those layers
        directly, after the request."""
        with run.tracer.span("probe.search"):
            if b["shape"] == "match" and "search_after" not in b["body"]:
                terms = sorted(set(tokens(b["text"])))
                pdf, t_read = run.probe("reader.read", self.reader.postings_blocks_local, terms)
                pdf = pdf[pdf["block_id"] >= 0]
                _, t_topk = run.probe("query.topk_local", topk_local_terms,
                                      self.reader, terms, k=K)
                run.samples["reader.read"].append(t_read)
                run.samples["reader.blocks"].append(len(pdf))
                if res["hits"]:
                    run.samples["reader.postings_per_hit"].append(
                        int(pdf["n"].sum()) / len(res["hits"]))
                run.samples[f"query.{b['stratum']}"].append(t_topk)
                run.samples["query.score"].append(t_topk - t_read)
                run.samples["body.overhead"].append(search_s - t_topk)
            elif b["shape"] in ("prefix", "wildcard", "fuzzy"):
                spec = b["body"]["query"][b["shape"]]
                if b["shape"] == "fuzzy":
                    v = spec["text"]
                    args = (expand_fuzzy, self.reader, v["value"], v["fuzziness"],
                            v["prefix_length"])
                else:
                    fn = expand_prefix if b["shape"] == "prefix" else expand_wildcard
                    args = (fn, self.reader, spec)
                (terms, _), t = run.probe("termdict.expand", *args)
                run.samples[f"termdict.{b['shape']}"].append(t)
                run.samples["termdict.terms"].append(len(terms))
            _, t = run.probe("reader.doc_urls", self.reader.doc_urls_local,
                             [d for d, _ in res["hits"]])
            run.samples["reader.doc_urls"].append(t)
            if len(run.samples["reader.open"]) * 20 <= len(run.samples["reader.doc_urls"]):
                _, t = run.probe("reader.open", open_reader, run.spark, self.dir)
                run.samples["reader.open"].append(t)

    def layers(self, run: Run) -> None:
        S = run.samples
        ms = lambda xs: 1000 * median(xs)  # noqa: E731
        run.layer["reader.open_ms"] = ms(S["reader.open"])
        run.layer["reader.read_ms"] = ms(S["reader.read"])
        run.layer["reader.blocks_per_query"] = median(S["reader.blocks"])
        run.layer["reader.postings_per_hit"] = median(S["reader.postings_per_hit"])
        run.layer["reader.doc_urls_ms"] = ms(S["reader.doc_urls"])
        for s in STRATA:
            run.layer[f"query.local_ms_p50.{s}"] = ms(S[f"query.{s}"])
        run.layer["query.score_ms"] = ms(S["query.score"])
        run.layer["query.msearch_local_ms"] = ms(S["msearch"])
        run.layer["termdict.build_s"] = run.phases.get("termdict", 0.0)
        for s in ("prefix", "wildcard", "fuzzy"):
            run.layer[f"termdict.expand_ms.{s}"] = ms(S[f"termdict.{s}"])
        run.layer["termdict.terms_per_expansion"] = median(S["termdict.terms"])
        for s in SHAPES:
            run.layer[f"body.ms_p50.{s}"] = ms(S[f"body.{s}"])
        run.layer["body.overhead_ms"] = ms(S["body.overhead"])


class Interactive(_Serving):
    name = "interactive"
    serving = "local"
    search_op, search_span = "search", "body.search"
    msearch_op, msearch_span = "msearch", "query.msearch_local"
    msearch_fn = staticmethod(topk_many_local)
    BATCH_EVERY = 10


class Batch(_Serving):
    name = "batch"
    serving = "spark"
    search_op, search_span = "spark_search", "spark.search"
    msearch_op, msearch_span = "spark_msearch", "spark.msearch"
    msearch_fn = staticmethod(topk_many)
    BATCH_EVERY = 5


def open_reader(spark, index_dir: Path) -> IndexReader:
    r = IndexReader(spark, str(index_dir))
    r._postings_dataset()
    return r


WORKLOADS = {w.name: w for w in (Ingest, Interactive, Batch)}
