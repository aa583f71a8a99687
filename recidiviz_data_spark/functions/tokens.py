"""Vectorized token-array functions (SURVEY.md §2.2 P5) — no per-row Python.

Two equivalent implementations of the normalization the north star mandates:

- ``normalize_tokens_native``: Catalyst higher-order functions
  (``F.filter`` / ``F.transform`` / ``F.size``) — whole-stage-codegen'd,
  JVM-side, the preferred hot path.
- ``normalize_tokens_arrow``: an Arrow-batched ``pandas_udf`` doing the same
  thing in numpy — the pattern for normalizations Catalyst can't express.

Tests assert both produce identical results; the apply path defaults to the
native version.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recidiviz_data_spark.gen import VOCAB_SIZE

PAD_TOKEN = -1


def clean_tokens_native(tokens: Column, vocab_size: int = VOCAB_SIZE) -> Column:
    """Drop pad tokens, clamp out-of-vocab ids into [0, vocab)."""
    no_pad = F.filter(tokens, lambda t: t != F.lit(PAD_TOKEN))
    return F.transform(no_pad, lambda t: F.pmod(t, F.lit(vocab_size)).cast("int"))


def normalize_tokens_native(df: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Normalize tokens + recompute n_tok (null-safe for delete events)."""
    cleaned = F.when(F.col("tokens").isNotNull(), clean_tokens_native(F.col("tokens"), vocab_size))
    n_tok_t = dict(df.dtypes)["n_tok"]
    return df.withColumn("tokens", cleaned).withColumn(
        "n_tok",
        F.when(F.col("tokens").isNotNull(), F.size("tokens").cast(n_tok_t)),
    )


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def _clean_tokens_arrow(s: pd.Series) -> pd.Series:
    def fix(arr):
        if arr is None:
            return None
        a = np.asarray(arr, dtype=np.int64)
        a = a[a != PAD_TOKEN]
        return (a % VOCAB_SIZE).astype(np.int32)

    return s.map(fix)


def normalize_tokens_arrow(df: DataFrame) -> DataFrame:
    n_tok_t = dict(df.dtypes)["n_tok"]
    return df.withColumn("tokens", _clean_tokens_arrow("tokens")).withColumn(
        "n_tok",
        F.when(F.col("tokens").isNotNull(), F.size("tokens").cast(n_tok_t)),
    )
