"""Vectorized row transforms (Arrow pandas UDFs — never per-row Python).

These replace Sqoop's generated per-record Java methods:

- null stringification (reference: orm/ClassWriter.java:363-380; CLI
  ``--null-string`` wiring tool/BaseSqoopTool.java:1106),
- Hive delimiter scrubbing ``--hive-drop-import-delims`` /
  ``--hive-delims-replacement`` (lib/FieldFormatter.java:39-52),
- field escape/enclose (lib/FieldFormatter.java:56-143) — handled by Spark's
  CSV writer options, not reimplemented,
- the sha256 content fingerprint required by BASELINE.json ``input_hint``
  (not in the reference; the per-row invariant of this engine).

Design rule: content bytes are normalized exactly once, in one place
(``normalize_content``), and ``content_sha`` is computed from the normalized
bytes — so the invariant is stable no matter which path a row took.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Default NULL literal: Sqoop's default text encoding of SQL NULL is the
# string "null" (Java null concatenated into a string — ClassWriter.java:371).
DEFAULT_NULL_STRING = "null"

# Characters stripped by --hive-drop-import-delims (FieldFormatter.java:39-52).
HIVE_DELIMS = "\n\r\x01"


# pandas UDFs are built lazily: pandas_udf() needs an active SparkSession to
# parse the return type, so decorating at import time breaks library import.
_UDF_CACHE: dict[str, object] = {}


def _sha256_impl(s: pd.Series) -> pd.Series:
    return s.map(
        lambda v: None if v is None else hashlib.sha256(v.encode("utf-8")).hexdigest()
    )


def sha256_udf(col):
    """Vectorized sha256 hex digest of a string column (utf-8 bytes).

    Matches Spark's ``sha2(col, 256)`` and DuckDB's ``sha256`` — lowercase
    hex — so results are oracle-comparable across engines. NULL → NULL.
    """
    if "sha256" not in _UDF_CACHE:
        _UDF_CACHE["sha256"] = pandas_udf(_sha256_impl, "string")
    return _UDF_CACHE["sha256"](col)


def make_normalize_udf(
    null_string: str = DEFAULT_NULL_STRING,
    drop_delims: bool = False,
    delim_replacement: str | None = None,
    normalize_newlines: bool = False,
):
    """Build the content-normalization pandas UDF.

    Semantics (in order):
      1. NULL → ``null_string`` literal (§1.3 null encoding),
      2. optional hive delimiter handling: drop (``drop_delims``) or replace
         (``delim_replacement``) occurrences of ``\\n``/``\\r``/``\\x01``,
      3. optional CRLF → LF normalization.
    """
    if drop_delims and delim_replacement is not None:
        raise ValueError("drop_delims and delim_replacement are mutually exclusive")
    table = None
    if drop_delims:
        table = str.maketrans("", "", HIVE_DELIMS)
    elif delim_replacement is not None:
        table = str.maketrans({c: delim_replacement for c in HIVE_DELIMS})

    def normalize(s: pd.Series) -> pd.Series:
        out = s.copy()
        if normalize_newlines:
            out = out.str.replace("\r\n", "\n", regex=False)
        if table is not None:
            out = out.str.translate(table)
        return out.fillna(null_string)

    return pandas_udf(normalize, "string")


def fingerprint_content(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "content_sha",
    null_string: str = DEFAULT_NULL_STRING,
    drop_delims: bool = False,
    delim_replacement: str | None = None,
    normalize_newlines: bool = False,
) -> DataFrame:
    """Normalize ``content`` once and attach its sha256 fingerprint.

    This is THE invariant column: after full replay, per-row
    ``sha256(content)`` equality vs the reference state is the correctness
    contract (BASELINE.json:6).
    """
    norm = make_normalize_udf(
        null_string=null_string,
        drop_delims=drop_delims,
        delim_replacement=delim_replacement,
        normalize_newlines=normalize_newlines,
    )
    df = df.withColumn(content_col, norm(F.col(content_col)))
    return df.withColumn(out_col, sha256_udf(F.col(content_col)))


def _parse_boolean_impl(s: pd.Series) -> pd.Series:
    truthy = {"true", "t", "yes", "on", "1"}
    return s.map(lambda v: None if v is None else str(v).strip().lower() in truthy)


def parse_boolean_udf(col):
    """Permissive boolean parse, mirroring lib/BooleanParser.java.

    Known-true tokens (true/t/yes/on/1, case-insensitive) → True, NULL →
    NULL, everything else → False (the reference returns FALSE for
    unrecognized tokens).
    """
    if "parse_boolean" not in _UDF_CACHE:
        _UDF_CACHE["parse_boolean"] = pandas_udf(_parse_boolean_impl, "boolean")
    return _UDF_CACHE["parse_boolean"](col)
