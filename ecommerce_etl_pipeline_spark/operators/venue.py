"""Driver-venue selection for the iterative operators: connected
components, portable k-means, the GD trainer, portable PageRank and BPE.

Each runs one Spark job per round in its distributed loop, and every round
pays a plan/compile/schedule constant on top of its data work. When the
whole input fits a bounded driver budget, the same loop runs on the driver
over one collected frame instead. Over budget (the 100 TB regime) the
distributed loop runs unchanged.

Invariants every caller keeps:

- **One action.** :func:`driver_rows` is both the size test and the data
  transfer. A separate ``count()`` would run the input lineage (for a
  candidate-pair graph, the most expensive join in the pipeline) twice.
- **Bit-identical venues.** A driver venue exists only where its loop
  gives the distributed answer bit for bit: order-independent integer
  sums, or union-find with min-id representatives. A float-summing loop
  would get no driver venue. Tests pin each pair of venues against each
  other.
- **Per-operator budget, in rows,** read from the site's constant at call
  time. A budget of zero or less disables the driver venue.
- **Well-formedness stays at the site.** A site may still refuse rows that
  fit (nulls, NaNs, ragged vectors, non-integral ids); the distributed
  venue then defines the answer.

Sites call ``venue.driver_rows(...)`` through the module, so a test forces
the distributed venue by replacing it with a function that returns ``None``.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

#: Driver budget of the matrix-shaped trainers (k-means, GD), in float64
#: cells: 16M cells = 128 MB on the driver. Each divides it by its row
#: width to get a row budget.
DRIVER_CELLS = 16_000_000


def driver_rows(df: DataFrame, max_rows: int, op: str) -> pd.DataFrame | None:
    """Return all of ``df`` as pandas when it has at most ``max_rows``
    rows, else ``None`` (take the distributed venue). Runs exactly one
    Spark action, none when ``max_rows <= 0``. ``op`` names the calling
    operator in the DEBUG record of the decision."""
    if max_rows <= 0:
        log.debug(
            "%s: driver venue disabled (budget %d rows); venue=distributed",
            op, max_rows,
        )
        return None
    head = df.limit(max_rows + 1).toPandas()
    fits = len(head) <= max_rows
    log.debug(
        "%s: probed %d rows, budget %d rows; venue=%s",
        op, len(head), max_rows, "driver" if fits else "distributed",
    )
    return head if fits else None


def fits_int64_sum(rows: int, max_abs_term: float) -> bool:
    """True when a sum of ``rows`` integer terms, each at most
    ``max_abs_term`` in absolute value, is exact in int64 (with a factor
    of two of headroom: |sum| < 2**62). Driver venues that sum quantized
    terms in numpy int64 require it; the distributed venues sum in
    Spark's bigint or decimal, which raise instead of wrapping."""
    return rows * max_abs_term < 2**62
