"""Cross-engine-stable decimal truncation.

``round()`` disagrees between engines on exact half-boundaries (Spark
rounds the BigDecimal of the double HALF_UP; DuckDB computes
``nearbyint(x * 10^n) / 10^n`` — we observed 133/160 = 0.83125 rounding
to 0.8312 vs 0.8313).  For values that are computed by the IDENTICAL
sequence of IEEE ops in both engines (per-row ratios, window math over
already-rounded inputs), truncation is exact and boundary-free:
``floor(x * 10^n) / 10^n`` on bit-identical doubles gives bit-identical
results.

Use :func:`trunc` for deterministic per-row ratios; plain ``F.round``
remains fine for big aggregate sums (their last-bit noise is far from
half boundaries with overwhelming probability, and truncation would be
equally exposed there).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def trunc(col: Column, digits: int = 4) -> Column:
    p = 10**digits
    return F.floor(col * p) / p


def cents(name: str) -> Column:
    """A money column as exact integer cents: floor(x·100 + 0.5) on the
    same IEEE double in every engine — boundary-free."""
    return F.floor(F.col(name) * 100 + F.lit(0.5)).cast("bigint")
