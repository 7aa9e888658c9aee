"""Sanitizers (reference F2-F7 behaviors) + byte-stable HTML extraction."""

from __future__ import annotations

import datetime as dt
import html as _htmllib
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.functions.html import extract_text, extract_text_bytes
from patuha_etl_dlt_spark.functions.sanitize import (
    MAX_STRING_BYTES,
    TRUNCATION_MARKER,
    clean_string,
    clean_timestamp,
    nan_inf_to_null,
    sanitize_columns,
)


# ---- extraction kernel (pure python; the UDF applies this same function) ----

CASES = [
    (b"<html><body>Hello <b>world</b></body></html>", "Hello world"),
    (b"<p>a&amp;b&nbsp;c</p>", "a&b c"),  # &nbsp; → \xa0, collapsed as \s
    (b"<script>var x = '<evil>';</script>ok<style>p{}</style>", "ok"),
    (b"<!-- hidden -->shown", "shown"),
    (b"  spaced\n\n\ttext  ", "spaced text"),
    (b"", ""),
    (None, None),
    ("caf\xe9 UTF: é".encode(), "caf\xe9 UTF: \xe9"),
    (b"\xff\xfebroken<][>bytes", "��broken<][>bytes"),
    ("<p>\u3000a\u3000\u3000b\u3000</p>".encode(), "a b"),  # ideographic space
    (b"\x1ca\x1c\x1db\x1f", "a b"),  # ASCII separators count as whitespace
]


@pytest.mark.parametrize("raw,want", [(c[0], c[1]) for c in CASES if c[0] is not None and b"<][>" not in (c[0] or b"")])
def test_extract_text_bytes_cases(raw, want):
    assert extract_text_bytes(raw) == want


def test_extract_text_bytes_is_deterministic():
    b = b"<html><body>x&gt;y</body></html>"
    assert extract_text_bytes(b) == extract_text_bytes(bytearray(b)) == "x>y"


# Frozen copy of the kernel as it stood with a regex whitespace collapse.
# The shipped kernel collapses with str.split/join instead; this oracle pins
# that the swap is byte-identical.
_OLD_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_OLD_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_OLD_TAG = re.compile(rb"(?s)<[^>]*>")
_OLD_WS = re.compile(r"\s+")


def _regex_kernel(b: bytes | None) -> str | None:
    if b is None:
        return None
    raw = _OLD_TAG.sub(b" ", _OLD_COMMENT.sub(b" ", _OLD_SCRIPT.sub(b" ", bytes(b))))
    s = raw.decode("utf-8", errors="replace")
    s = _htmllib.unescape(s)
    return _OLD_WS.sub(" ", s).strip()


_HTML_PIECES = st.sampled_from(
    [
        "<p>", "</p>", "<b class='x'>", "<br/>", "<", ">", "&", " ", "\t", "\n", "\r",
        "\x0b", "\x0c", "<script>var a = '<b>';</script>", "<SCRIPT >x</script >",
        "<style>p { }</style>", "<script>", "<!-- c -->", "<!--", "-->",
        "&nbsp;", "&#12288;", "&#x2028;", "&#133;", "&#x85;", "&amp;", "&lt;p&gt;", "&bogus;",
        "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "\u1680", "\u2000", "\u200b",
        "\u2028", "\u2029", "\u202f", "\u3000", "\ufeff", "word", "é",
    ]
)
_HTML_LIKE = st.lists(st.one_of(_HTML_PIECES, st.text(max_size=8)), max_size=40).map(
    lambda parts: "".join(parts).encode()
)


@settings(max_examples=400, deadline=None)
@given(b=st.one_of(st.binary(max_size=300), _HTML_LIKE))
def test_extract_text_bytes_matches_regex_kernel(b):
    assert extract_text_bytes(b) == _regex_kernel(b)


def test_udf_matches_kernel_byte_identically(spark):
    rows = [(i, c[0]) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(rows, "id long, html binary")
    got = {r["id"]: r["t"] for r in df.select("id", extract_text("html").alias("t")).collect()}
    for i, (raw, _) in enumerate(CASES):
        assert got[i] == extract_text_bytes(raw), f"case {i} diverged"


# ------------------------------- sanitizers -------------------------------


def test_clean_string_behaviors(spark):
    big = "x" * (MAX_STRING_BYTES + 10)
    df = spark.createDataFrame(
        [("",), ("   ",), ("a\x00b",), ("ok",), (None,), (big,)], "s string"
    )
    got = [r["c"] for r in df.select(clean_string(F.col("s")).alias("c")).collect()]
    assert got[0] is None and got[1] is None  # F2 empty/ws → NULL
    assert got[2] == "ab"  # F3 NUL strip
    assert got[3] == "ok" and got[4] is None
    assert got[5].endswith(TRUNCATION_MARKER) and len(got[5]) == MAX_STRING_BYTES + len(TRUNCATION_MARKER)  # F7


def test_clean_timestamp_zero_dates(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1),), (None,)], "t timestamp"
    ).union(spark.sql("SELECT TIMESTAMP '0000-01-01 00:00:00'"))
    got = [r["c"] for r in df.select(clean_timestamp(F.col("t")).alias("c")).collect()]
    assert got[0] is not None and got[1] is None and got[2] is None  # F4/F5


def test_nan_inf_to_null(spark):
    df = spark.createDataFrame(
        [(1.5,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,)], "d double"
    )
    got = [r["c"] for r in df.select(nan_inf_to_null(F.col("d")).alias("c")).collect()]
    assert got == [1.5, None, None, None, None]  # F6


def test_sanitize_columns_schema_driven(spark):
    df = spark.createDataFrame(
        [(" ", dt.datetime(2026, 1, 1), float("nan"), 3)],
        "s string, t timestamp, d double, i long",
    )
    r = sanitize_columns(df).collect()[0]
    assert r["s"] is None and r["t"] is not None and r["d"] is None and r["i"] == 3


def test_parse_iso_timestamp_table_driven(spark):
    """F10 + F9 (pipeline_management.py:804-812, :634-722): ISO parse with
    Z/offset handling, NULL on garbage, naive→Asia/Bangkok localization."""
    from patuha_etl_dlt_spark.functions.sanitize import (
        localize_naive_timestamp,
        parse_iso_timestamp,
    )

    cases = [
        # (input, expected UTC when default_tz=None, expected when Bangkok)
        ("2026-01-01T10:00:00Z", "2026-01-01 10:00:00", "2026-01-01 10:00:00"),
        ("2026-01-01T10:00:00+07:00", "2026-01-01 03:00:00", "2026-01-01 03:00:00"),
        ("2026-01-01T10:00:00-0230", "2026-01-01 12:30:00", "2026-01-01 12:30:00"),
        ("2026-01-01 10:00:00", "2026-01-01 10:00:00", "2026-01-01 03:00:00"),
        ("2026-01-01T10:00:00.123456", "2026-01-01 10:00:00.123456", "2026-01-01 03:00:00.123456"),
        ("not-a-date", None, None),
        (None, None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _, _ in cases], "s string")
    got = (
        df.select(
            "s",
            parse_iso_timestamp(F.col("s")).alias("utc"),
            parse_iso_timestamp(F.col("s"), default_tz="Asia/Bangkok").alias("bkk"),
        )
        .collect()
    )
    by_s = {r["s"]: r for r in got}
    for s, want_utc, want_bkk in cases:
        r = by_s[s]
        fmt = lambda v: None if v is None else v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        assert fmt(r["utc"]) == want_utc, (s, r["utc"])
        assert fmt(r["bkk"]) == want_bkk, (s, r["bkk"])

    # F9 on an already-typed naive timestamp column (the Bangkok case)
    import datetime as dt

    tdf = spark.createDataFrame([(dt.datetime(2026, 1, 1, 7, 0, 0),)], "ts timestamp")
    out = tdf.select(localize_naive_timestamp(F.col("ts"), "Asia/Bangkok").alias("u")).collect()
    assert out[0]["u"] == dt.datetime(2026, 1, 1, 0, 0, 0)


def test_diagnose_rows_and_quarantine(spark):
    """Distributed re-expression of the reference's problematic-row
    bisector (data_processing.py:124-190) + F12 hex dump (:246-256)."""
    import datetime as dt

    from patuha_etl_dlt_spark.functions.diagnose import (
        diagnose_rows,
        hex_preview,
        split_quarantine,
    )

    rows = [
        (1, "ok", dt.datetime(2026, 1, 1), 1.0),
        (2, "has\x00nul", dt.datetime(2026, 1, 1), 2.0),
        (3, "ok", None, float("nan")),
        (None, "ok", dt.datetime(2026, 1, 1), float("inf")),
    ]
    df = spark.createDataFrame(rows, "k long, s string, t timestamp, v double")

    diag = diagnose_rows(df, ["k"]).collect()
    got = {(r["k"], r["column"], r["problem"]) for r in diag}
    assert (2, "s", "nul_byte") in got
    assert (3, "v", "nan_or_inf") in got and (None, "v", "nan_or_inf") in got
    nul_row = [r for r in diag if r["k"] == 2][0]
    assert nul_row["value_hex"] == "68617300" + "6E756C"  # 'has\x00nul' hex

    clean, bad = split_quarantine(df, ["k"])
    assert clean.count() == 3
    bads = bad.collect()
    assert len(bads) == 1 and bads[0]["_reject_reason"] == "null_key:k"

    # F12 hex preview truncates long binary
    long = spark.createDataFrame([(b"\xab" * 100,)], "b binary")
    assert long.select(hex_preview(F.col("b"), 4).alias("h")).collect()[0]["h"] == "ABABABAB"


def test_canonicalize_url_table_driven(spark):
    from patuha_etl_dlt_spark.functions.url import canonicalize_url

    cases = [
        ("http://Example.com:80/a/?utm_source=x#top", "http://example.com/a"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://example.com/a/b/", "http://example.com/a/b"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/?b=2&a=1&utm_medium=m", "http://example.com/?a=1&b=2"),
        ("http://example.com/p?gclid=g&fbclid=f&ref=tw", "http://example.com/p"),
        ("HTTPS://EXAMPLE.com/Path", "https://example.com/Path"),  # path case kept
        # '?' inside the fragment is NOT a query (SPA routes, anchors)
        ("http://x.example/p#a?b=1", "http://x.example/p"),
        ("http://x.example/p#/route?x=y", "http://x.example/p"),
        ("http://x.example/p?a=1#f?b=2", "http://x.example/p?a=1"),
        ("not a url", "not a url"),  # scheme-less: passthrough
        (None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "u string")
    got = {r["u"]: r["c"] for r in df.select("u", canonicalize_url(F.col("u")).alias("c")).collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw], want)
