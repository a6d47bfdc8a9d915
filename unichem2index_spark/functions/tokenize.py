"""Frozen tokenizer spec (FIXTURES.md §1/§5).

Spec: ``tokens(text) = all matches of [a-z0-9]+ over lower(text)``.

Three byte-identical implementations are provided and cross-tested:

* :func:`tokenize`        — pure Python (the pytest oracle).
* :func:`tokens_col`      — JVM-side ``regexp_extract_all`` (the hot path:
  stays inside whole-stage codegen, no Python worker at all).
* :func:`tokenize_udf`    — Arrow ``pandas_udf`` (the ``input_hint``-mandated
  vectorized-UDF form; used where a Python hook is needed anyway).

The same pattern string is valid for DuckDB's ``regexp_extract_all`` so the
driver oracle can reproduce tokenization exactly.

Reference analog: ES/Lucene's analyzer, which the reference configures only
implicitly via its index mapping (extractor/loader.go:114-136).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

TOKEN_PATTERN = "[a-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)


def tokenize(text: str | None) -> list[str]:
    """Pure-Python oracle tokenizer."""
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())


def tokens_col(col: Column | str) -> Column:
    """JVM-side tokenizer — preferred in pipelines (vectorized, codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized tokenizer, byte-identical to :func:`tokenize`."""
    return texts.map(tokenize)
