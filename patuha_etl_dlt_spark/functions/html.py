"""HTML → text extraction as a vectorized pandas/Arrow UDF.

North-rule flagship UDF surface: ``text`` must be a pure, byte-stable
function of ``html`` bytes — byte-identical per url however and wherever
it is recomputed. No reference analog (the reference syncs opaque values);
the contract comes from BASELINE.json (``input_hint``).

Design follows the Arrow-vectorized UDF model ("Accelerating Python UDFs
in Vectorized Query Execution", CIDR 2022 — PAPERS.md): Python cost is
amortized over ~10k-row Arrow batches instead of per row, which the
reference's per-value sanitizer loop could not do.

Implementation notes (the "hard part" from SURVEY.md §7): the UDF takes
``binary`` in / ``string`` out through Arrow. pandas represents binary as
object-dtype ``bytes``; we never let pandas coerce dtypes — the Series is
mapped element-wise through ``extract_text_bytes`` inside one Arrow batch,
so the per-batch overhead is one Python call per ~10k rows, not per row.
Once batching has amortised that overhead, the per-row kernel is what is
left: three compiled byte regexes strip markup, then ``html.unescape`` and
a ``str.split``/``join`` whitespace collapse.
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# compiled once per executor, reused across Arrow batches
_RE_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_TAG = re.compile(rb"(?s)<[^>]*>")


def extract_text_bytes(b: bytes | None) -> str | None:
    """Pure function of the raw bytes. This exact function is both the
    executor-side kernel and the test oracle — byte identity by construction,
    verified independently in tests/test_functions.py."""
    if b is None:
        return None
    raw = _RE_TAG.sub(b" ", _RE_COMMENT.sub(b" ", _RE_SCRIPT.sub(b" ", bytes(b))))
    s = raw.decode("utf-8", errors="replace")
    s = _htmllib.unescape(s)
    # Same string as re.sub(r"\s+", " ", s).strip(): str.split() splits on
    # exactly the code points where str.isspace() holds, and re's str-mode
    # \s matches exactly those (both use Py_UNICODE_ISSPACE; checked over
    # all 0x110000 code points). On ~6 KB pages the regex took about half
    # the kernel's time; split/join takes about a quarter of the regex's.
    return " ".join(s.split())


# returnType passed as a DataType object (not a DDL string) so importing
# this module never needs an active SparkSession
@pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


def with_extracted_text(df, html_col: str = "html", text_col: str = "text"):
    """Recompute ``text`` from ``html`` wherever html is present; keep the
    incoming text for html-less events (e.g. deletes)."""
    return df.withColumn(
        text_col,
        F.when(F.col(html_col).isNotNull(), extract_text(F.col(html_col))).otherwise(
            F.col(text_col)
        ),
    )
