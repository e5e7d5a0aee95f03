"""Cross-engine deterministic rounding for oracle-compared floats.

Engine ROUND() is a tie hazard: a value one ulp below a .5 decimal
boundary (observed in the wild at sf0.1: a quality score of
0.5365624999…) rounds DOWN under Spark/numpy and UP under DuckDB —
the hashed-value oracle comparison then splits on data the fixture
happens to contain. The fix is to define rounding ARITHMETICALLY:

    floor(x · 10^d + 0.5) / 10^d

evaluated by both engines on the same IEEE double with the same ops —
they can never disagree, whatever side of a tie the double lands on.
(Ties round toward +∞ for negatives too; parity needs consistency, not
a particular tie convention. Values beyond 2^53/10^d degrade to an
identity rounding — identically in both engines.)

Every float column the driver hash-compares goes through one of these
equivalents; using engine ROUND for a compared column is a bug.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_up(col: Column, decimals: int = 6) -> Column:
    """Spark side of the pinned rounding."""
    scale = float(10**decimals)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def np_round_half_up(x, decimals: int = 6):
    """numpy side (Arrow UDF paths) — same arithmetic."""
    import numpy as np

    scale = 10.0**decimals
    return np.floor(x * scale + 0.5) / scale

