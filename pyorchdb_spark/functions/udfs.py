"""Vectorized pandas/Arrow UDFs.

The input_hint (BASELINE.json:15) mandates: DataFrame ops + vectorized
pandas/Arrow UDFs, **no per-row Python**. The reference's equivalent
surface is arbitrary pandas per table (``clean_db``,
PyOrchDB/main.py:267-274); here it is two narrow, typed, Arrow-batched
functions.

No ingest path calls ``sha256_content``: the engine curates with JVM
built-ins in ``ingest.prepare_events`` (``F.sha2``, ICU NFC, a regexp
chain) so no row crosses into a Python worker. ``sha256_content`` stays
as an independent Python cross-check in tests and the ``__spark_entry__``
parity queries (SURVEY.md section 2.8 F9); ``_norm_one`` is the Python
reference of path normalization that tests and the pandas oracle
(``oracle.curated_log``) check the engine against.
"""

from __future__ import annotations

import hashlib
import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_EXT_LANG = {
    ".py": "python",
    ".md": "markdown",
    ".rs": "rust",
    ".ts": "typescript",
    ".java": "java",
}


@F.pandas_udf(StringType())
def sha256_content(s: pd.Series) -> pd.Series:
    """Hex sha256 of the UTF-8 content — the per-row replay invariant.

    Vectorized at the Arrow-batch level; hashlib releases the GIL for
    inputs >2047 bytes so large ``content`` batches hash in parallel.
    """
    return s.map(lambda v: None if v is None else hashlib.sha256(v.encode("utf-8")).hexdigest())


def _norm_one(p: str | None) -> str | None:
    if p is None:
        return None
    p = unicodedata.normalize("NFC", p)
    # strip leading ./ chains, collapse // runs, drop trailing /
    while p.startswith("./"):
        p = p[2:]
    while "//" in p:
        p = p.replace("//", "/")
    if len(p) > 1 and p.endswith("/"):
        p = p[:-1]
    return p


@F.pandas_udf(StringType())
def lang_of_path(s: pd.Series) -> pd.Series:
    """File-extension → language tag; schema-evolution demo column."""

    def one(p: str | None) -> str | None:
        if p is None:
            return None
        dot = p.rfind(".")
        return _EXT_LANG.get(p[dot:], "unknown") if dot >= 0 else "unknown"

    return s.map(one)
