"""Sanctioned pandas-UDF escape hatches (SURVEY.md §2.12 U4).

The engine's policy: the reference's row-wise ``df.apply`` patterns are
replaced by native expressions everywhere (N2, SC*); pandas UDFs exist only
for logic genuinely outside Spark's expression language, and they are
Arrow-batched (vectorized columns in/out), never row-at-a-time. The two
examples below are used by no oracle-checked query. The engine's only
Arrow kernels are the PQ encode and nearest-centroid assignment kernels in
``llmops/``; tests/test_plans.py::test_no_python_udfs_or_cartesian_in_oracle_queries
admits no other Python evaluation in an oracle-checked plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def scaled_price(price: pd.Series, scale: pd.Series) -> pd.Series:
    """SCALAR pandas UDF example: vectorized arithmetic over Arrow batches.
    (Real uses: calling a numpy/sklearn model per batch.)"""
    return price * scale


@F.pandas_udf(DoubleType())
def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
    """GROUPED_AGG pandas UDF example: quantity-weighted average price —
    an aggregate Spark's builtin library lacks (without a two-column
    sum/sum rewrite). Usable in groupBy().agg() and over windows."""
    q = qty.sum()
    return float((price * qty).sum() / q) if q else 0.0
