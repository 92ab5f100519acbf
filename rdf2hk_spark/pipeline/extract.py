"""HTML → text extraction (Arrow-vectorized, byte-identical per url).

The input_hint mandates vectorized pandas/Arrow UDFs with no per-row Python.
``extract_text`` is a Series→Series pandas UDF whose body is a chain of
*vectorized* pandas string ops (each executes in C over the whole Arrow
batch). The function is pure — same html bytes ⇒ same text bytes — which is
the per-row invariant the driver checks (BASELINE.json:15).

The extraction model (a deterministic subset of real-world boilerplate
removal):
  1. drop <head>…</head> and <script>/<style> blocks
  2. block-level tags (h1-h6, p, br, div, li, tr) become '\\n'
  3. every other tag is stripped
  4. HTML entities &amp; &lt; &gt; &quot; &#39; &nbsp; are decoded
  5. whitespace is normalized per line (collapse runs of spaces, trim),
     empty lines dropped
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as Ty
from pyspark.sql.functions import pandas_udf

_BLOCK_TAGS = r"(?i)<(?:/?(?:h[1-6]|p|div|li|tr|ul|ol|table)|br\s*/?)[^>]*>"


def _extract_series(html: pd.Series) -> pd.Series:
    s = html.str.decode("utf-8", errors="replace") if html.dtype == object and isinstance(
        html.iloc[0] if len(html) else b"", (bytes, bytearray)
    ) else html.astype("string")
    s = s.str.replace(r"(?is)<head\b.*?</head>", "", regex=True)
    s = s.str.replace(r"(?is)<(script|style)\b.*?</\1>", "", regex=True)
    s = s.str.replace(_BLOCK_TAGS, "\n", regex=True)
    s = s.str.replace(r"(?s)<[^>]*>", "", regex=True)
    s = (
        s.str.replace("&lt;", "<", regex=False)
        .str.replace("&gt;", ">", regex=False)
        .str.replace("&quot;", '"', regex=False)
        .str.replace("&#39;", "'", regex=False)
        .str.replace("&nbsp;", " ", regex=False)
        .str.replace("&amp;", "&", regex=False)
    )
    # per-line space normalization, drop empty lines
    s = s.str.replace(r"[ \t]+", " ", regex=True)
    s = s.str.replace(r" ?\n ?", "\n", regex=True)
    s = s.str.replace(r"\n+", "\n", regex=True)
    s = s.str.strip()
    return s.astype(object)


def _extract_arrow(html: pd.Series):
    """The same extraction chain on Arrow arrays via RE2
    (pyarrow.compute.replace_substring_regex): each pass is one vectorized
    C++ sweep over the batch instead of a per-element Python re.sub loop
    (hand whole batches to native libraries). The final trim is
    ``utf8_trim_whitespace``, which strips the same Unicode whitespace as
    ``str.strip()``. On valid-UTF-8 input the output equals
    ``_extract_series`` except in two documented cases:
    - RE2 has no backreferences, so the script|style pass is split into
      one pass per tag; the sequential result differs from the alternation
      for interleaved ``<script><style></script></style>`` nests;
    - a tag name that runs into a non-ASCII letter (``<headé>``,
      ``</ſtyle>``) matches differently, because RE2's ``\\b`` is ASCII-only
      and its case folding differs from Python's ``re``.
    Raises on invalid UTF-8 (the caller falls back to the pandas chain,
    which decodes with errors="replace")."""
    arr = pa.Array.from_pandas(html)
    if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.string())  # ArrowInvalid on bad utf8 → fallback
    rx = pc.replace_substring_regex
    lit = pc.replace_substring
    arr = rx(arr, pattern=r"(?is)<head\b.*?</head>", replacement="")
    arr = rx(arr, pattern=r"(?is)<script\b.*?</script>", replacement="")
    arr = rx(arr, pattern=r"(?is)<style\b.*?</style>", replacement="")
    arr = rx(arr, pattern=_BLOCK_TAGS, replacement="\n")
    arr = rx(arr, pattern=r"(?s)<[^>]*>", replacement="")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        arr = lit(arr, pattern=ent, replacement=ch)
    arr = rx(arr, pattern=r"[ \t]+", replacement=" ")
    arr = rx(arr, pattern=r" ?\n ?", replacement="\n")
    arr = rx(arr, pattern=r"\n+", replacement="\n")
    arr = pc.utf8_trim_whitespace(arr)
    return arr.to_pandas().astype(object)


@pandas_udf(Ty.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    try:
        return _extract_arrow(html)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        # invalid UTF-8 (ArrowInvalid) or a missing pyarrow kernel: the
        # pandas chain decodes with errors="replace"; any other error is a
        # fault and propagates
        return _extract_series(html)


def extract_text(pages: DataFrame, html_col: str = "html",
                 out_col: str = "extracted_text") -> DataFrame:
    """Add ``out_col`` — deterministic text extracted from the html bytes."""
    return pages.withColumn(out_col, extract_text_udf(F.col(html_col)))
