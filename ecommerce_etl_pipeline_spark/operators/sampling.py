"""Portable and referential-integrity sampling — SURVEY.md §2.10 (SM1-SM3).

Every draw is an md5-portable function of (salt, id), not a seeded
``rand``: it replays identically in any engine, across re-runs and
re-partitionings, so each sample is oracle-checkable, and re-salting is a
fresh independent draw. (Spark's ``sample(seed)`` reproduces neither the
reference's pandas ``random_state`` draw nor itself across partitionings.)

The reference's sampler (src/utils/data_sampling.py) pulls parent keys to
the driver (`tolist()`) and filters children chunk-by-chunk; here the whole
cascade is one lazy DAG of semi-joins — no driver round-trip, no chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def portable_sample(
    df: DataFrame, fraction: float, id_col: str, *, salt: str = "sample:v1"
) -> DataFrame:
    """Bernoulli sample (approximate n) by md5-portable uniform — reference
    data_sampling.py:40-43: keep rows whose
    ``hash_uint32(salt || id) / 2^32 < fraction``.

    One narrow filter inside the scan stage, no shuffle: the right default
    at scale. The division by 2^32 is exact in a double, so the
    ``< fraction`` comparison is engine-identical.
    """
    from ecommerce_etl_pipeline_spark.llmops.splits import hash_uint32

    u = hash_uint32(F.col(id_col), salt) / F.lit(4294967296.0)
    return df.filter(u < fraction)


def portable_sample_exact(
    df: DataFrame, n: int, id_col: str, *, salt: str = "sample:v1"
) -> DataFrame:
    """Exact-n sample by md5-portable order: rank rows by the hex digest of
    ``salt || id`` (tiebroken by the id for total order) and keep the
    first n.

    ``orderBy + limit`` plans as TakeOrderedAndProject (per-partition
    top-n, driver merges n-row heads), never a single-partition
    ``row_number`` window.
    """
    from ecommerce_etl_pipeline_spark.llmops.splits import hash_key

    return df.orderBy(hash_key(F.col(id_col), salt), F.col(id_col)).limit(n)


def portable_ri_cascade(
    parents: DataFrame,
    parent_key: str,
    children: list[tuple[DataFrame, str, str]],
    *,
    fraction: float,
    salt: str = "sample:v1",
) -> list[DataFrame]:
    """Referential-integrity cascade (reference data_sampling.py:144-151):
    draw the parent with :func:`portable_sample`, then semi-join each child
    level on its FK so every child row keeps a sampled ancestor. The whole
    cascade (parent draw + every semi-join level) replays in SQL.

    ``children`` is a list of (child_df, child_fk_col, parent_key_col)
    applied in order, each level keyed to the previous level's output.
    Returns [sampled_parent, child1, child2, ...].
    """
    out = [portable_sample(parents, fraction, parent_key, salt=salt)]
    prev = out[0]
    for child, fk, pk in children:
        keys = prev.select(F.col(pk).alias(fk)).distinct()
        out.append(child.join(keys, on=fk, how="left_semi"))
        prev = out[-1]
    return out


def weighted_sample_exact(
    df: DataFrame,
    n: int,
    id_col: str,
    weight_col,
    *,
    salt: str = "wsample:v1",
) -> DataFrame:
    """Exact-n weighted sample without replacement — Efraimidis-Spirakis
    (2006): each row draws key = ln(u)/w with u uniform in (0,1], and the
    n largest keys are the sample; inclusion probability is proportional
    to weight, no replacement, single pass.

    The uniform is md5-PORTABLE (llmops/splits.py::hash_uint32 of
    salt||id), not a seeded rand: the draw replays identically in any
    engine and across re-runs/partitionings, which makes it fully
    oracle-checkable, and re-salting is a fresh draw. At scale this is one TakeOrdered-shaped top-n (no
    global sort): the canonical quality-weighted document selection for
    mixture construction.
    """
    from ecommerce_etl_pipeline_spark.llmops.splits import hash_uint32

    u = (hash_uint32(F.col(id_col), salt) + F.lit(1)) / F.lit(4294967296.0)
    w = weight_col if isinstance(weight_col, F.Column) else F.col(weight_col)
    w = w.cast("double")
    key = F.log(u) / w
    # Rows with NULL or non-positive weight are EXCLUDED up front: E-S is
    # undefined for w <= 0, and a NULL key would rank differently across
    # engines (Spark DESC puts NULLs last, DuckDB first) — an explicit
    # filter beats a silent cross-engine divergence.
    # orderBy + limit (NOT a global row_number window, which would move
    # every row through one task): plans as TakeOrderedAndProject —
    # per-partition top-n then a driver-side merge of n-row heads, the
    # only top-n shape that survives 100 TB. Total order (key desc, id)
    # has no ties, so the selected rows match the windowed form exactly.
    return (
        df.filter(w > 0)
        .withColumn("_wkey", key)
        .orderBy(F.desc("_wkey"), F.col(id_col))
        .limit(n)
        .drop("_wkey")
    )
