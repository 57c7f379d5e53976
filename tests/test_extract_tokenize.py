"""Extractor + tokenizer unit tests (FIXTURES.md §4) and the
byte-identity contract (BASELINE.json input_hint): single-node pure
function == vectorized pandas == distributed Arrow UDF, per url."""

from __future__ import annotations

import pandas as pd
import pytest

from logsentinelai_spark.corpus import gen_pages_pandas, gen_pages_df
from logsentinelai_spark.functions.extract import extract_pages, extract_series, extract_text
from logsentinelai_spark.functions.tokenizer import tokens, tokens_series

# ~10 pinned HTML byte-strings -> pinned text (FIXTURES.md §4)
GOLDEN_HTML = [
    (b"<html><body><p>hello world</p></body></html>", "hello world"),
    (b"<html><head><title>skip me</title></head><body><h1>Title</h1><p>body text</p></body></html>",
     "Title\nbody text"),
    (b"<body><script>var x=1;</script><p>a</p><style>.c{}</style><p>b</p></body>", "a\nb"),
    (b"<body><p>a &amp; b &lt;c&gt; &quot;d&quot; &#x27;e&#x27;</p></body>", "a & b <c> \"d\" 'e'"),
    (b"<body><p>  spaced   out\t words  </p></body>", "spaced out words"),
    (b"<body><!-- comment --><p>kept</p></body>", "kept"),
    (b"<body><p>line1</p><p></p><p>line2</p></body>", "line1\nline2"),
    (b"<body><div>a<br>b<br/>c</div></body>", "a\nb\nc"),
    (b"<body><p>mixed \xed\x95\x9c\xea\xb5\xad\xec\x96\xb4 text</p></body>", "mixed 한국어 text"),
    (b"<body><p>broken <b>bold text</body>", "broken bold text"),
    (b"", ""),
    (b"<body><p>&amp;lt; stays as &amp;lt;</p></body>", "&lt; stays as &lt;"),
]

GOLDEN_TOKENS = [
    ("Hello, World-42 foo_bar", ["hello", "world", "42", "foo", "bar"]),
    ("", []),
    ("   \t\n ", []),
    ("r&d q&a it's", ["r", "d", "q", "a", "it", "s"]),
    ("한국어 분석 123", ["한국어", "분석", "123"]),
    ("تحلیل داده", ["تحلیل", "داده"]),
    ("A.b.C", ["a", "b", "c"]),
]


def test_extract_golden():
    for html, want in GOLDEN_HTML:
        assert extract_text(html) == want, html


def test_extract_series_matches_pure():
    s = pd.Series([h for h, _ in GOLDEN_HTML], dtype=object)
    got = extract_series(s).tolist()
    want = [extract_text(h) for h, _ in GOLDEN_HTML]
    assert got == want


def test_tokenizer_golden():
    for text, want in GOLDEN_TOKENS:
        assert tokens(text) == want
    s = pd.Series([t for t, _ in GOLDEN_TOKENS])
    assert tokens_series(s).tolist() == [w for _, w in GOLDEN_TOKENS]


def test_corpus_invertible_local():
    pdf = gen_pages_pandas(200, seed=42)
    ext = extract_series(pdf["html"])
    mism = (ext != pdf["text"]).sum()
    assert mism == 0
    # and pure fn agrees
    for h, t in zip(pdf["html"].head(50), pdf["text"].head(50)):
        assert extract_text(h) == t


def test_corpus_deterministic_and_order_independent():
    a = gen_pages_pandas(50, seed=42)
    b = gen_pages_pandas(30, seed=42, start=20)
    pd.testing.assert_frame_equal(a.iloc[20:50].reset_index(drop=True), b.reset_index(drop=True))


@pytest.mark.usefixtures("spark")
def test_distributed_extract_byte_identity(spark):
    """input_hint invariant: distributed Arrow-UDF extraction ==
    single-node pure function, byte-for-byte per url."""
    pages = gen_pages_df(spark, 300, seed=42, partitions=7)
    got = extract_pages(pages).select("url", "text", "extracted_text").collect()
    assert len(got) == 300
    for r in got:
        assert r.extracted_text == r.text, r.url


def test_tokens_arrow_identical_to_python_fuzz():
    """The Arrow (RE2) tokenizer must produce byte-identical token
    streams to the Python-re oracle — fuzzed over adversarial unicode
    (word/non-word boundaries, combining marks, Turkish dotted I,
    surrogate-adjacent planes)."""
    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    from logsentinelai_spark.functions.tokenizer import arrow_sep_pattern, tokens, tokens_arrow

    sep = arrow_sep_pattern()

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=200))
    def _check(s):
        got = [t for t in tokens_arrow(pa.array([s], type=pa.string()), sep)[0].as_py() if t]
        assert got == tokens(s), repr(s)

    _check()
    # directed cases
    for s in ["İstanbul İİ x", "ȧb", "foo_bar", "ŉ ǅ ǰ", "ß STRASSE",
              "한글123 فارسی_٤٥٦", "①²½", "a\U0001F600b"]:
        got = [t for t in tokens_arrow(pa.array([s], type=pa.string()), sep)[0].as_py() if t]
        assert got == tokens(s), repr(s)


def test_extract_arrow_identical_to_python_fuzz():
    """Arrow/RE2 extraction must be byte-identical to the Python-re
    oracle — fuzzed over adversarial tag soup, entities, unicode
    whitespace, and invalid UTF-8 byte strings."""
    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    from logsentinelai_spark.functions.extract import extract_arrow

    frag = st.sampled_from([
        "<p>", "</p>", "<div>", "</div>", "<br>", "<br/>", "<head>",
        "</head>", "<script>", "</script>", "<style>", "</style>",
        "<!--", "-->", "<title>", "</title>", "&amp;", "&lt;", "&nbsp;",
        "&#x27;", " ", "  ", "\t", "\n", " ", "　", "x", "yy",
        "한", "<h1>", "</h1>", "<", ">", "</ScRiPt >", "</STYLE\t>",
    ])
    html_text = st.lists(frag, max_size=30).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(html_text)
    def _check(s):
        got = extract_arrow(pa.array([s.encode("utf-8")], type=pa.binary()))[0].as_py()
        assert got == extract_text(s.encode("utf-8")), repr(s)

    _check()

    @settings(max_examples=100, deadline=None)
    @given(st.binary(max_size=80))
    def _check_bytes(b):
        got = extract_arrow(pa.array([b], type=pa.binary()))[0].as_py()
        assert got == extract_text(b), repr(b)

    _check_bytes()


def test_unescape_newlines(spark):
    """C11 (reference `utils/general.py:56-58`): literal \\n sequences
    become real newlines; already-real newlines pass through."""
    from pyspark.sql import functions as F

    from logsentinelai_spark.functions.extract import unescape_newlines

    df = spark.createDataFrame(
        [("a\\nb",), ("no escapes",), ("x\\ny\\nz",), ("real\nline",)], "s string"
    )
    got = [r.u for r in df.select(unescape_newlines(F.col("s")).alias("u")).collect()]
    assert got == ["a\nb", "no escapes", "x\ny\nz", "real\nline"]


def test_stage1_takes_tokenizer_pattern_from_driver(spark, monkeypatch):
    """The index build's stage-1 function carries the RE2 separator
    pattern in its closure: built once on the driver, so a worker's
    first batch does not pay the ~0.5 s codepoint scan. A batch run
    with `arrow_sep_pattern` broken yields the same rows."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.compute as pc

    from logsentinelai_spark.functions import tokenizer
    from logsentinelai_spark.index import build

    pages = spark.createDataFrame([(0, "u0", "x")], "doc_id long, url string, text string")
    captured = []
    monkeypatch.setattr(type(pages), "mapInArrow",
                        lambda self, fn, schema: captured.append(fn))
    monkeypatch.setattr(build.TaskContext, "get",
                        staticmethod(lambda: SimpleNamespace(partitionId=lambda: 0)))
    build.stage1_partial_runs(pages, build.IndexConfig(shard_size=4, use_text_col=True))
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([0, 1, 5], pa.int64()),
        "url": ["u0", "u1", "u5"],
        "text": ["Hello İstanbul world", "foo_bar 한글123 hello", None]})

    def rows():
        t = pa.Table.from_batches(list(captured[0](iter([batch]))))
        return t.filter(pc.not_equal(t["kind"], 2))  # kind=2 carries a timing

    want = rows()
    assert want.num_rows > 3

    def boom():
        raise AssertionError("stage 1 rebuilt the separator pattern")

    monkeypatch.setattr(tokenizer, "arrow_sep_pattern", boom)
    assert rows().equals(want)
