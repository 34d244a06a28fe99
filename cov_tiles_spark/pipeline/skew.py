"""Skew handling: salt-replicated joins.

The engine's primary skew defenses are structural — inline per-tile caps
before the encode exchange (`pipeline/materialize.py`) and AQE skew-join
splitting (on by default, `session.py`) — but one explicit tool covers
the case those don't: shuffle joins whose hot keys exceed what AQE's
byte-based splitter sees early enough.

``salted_join`` is the classic hot-key equi-join recipe — the big side
gets one salt per row, derived from a per-row column (never a
random/monotonic id — retries must land rows in the same partition), the
small side is replicated ``factor`` times (explode), and the join key
becomes (keys..., salt). Row-identical to the plain join, but a key's
rows split across ``factor`` tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    factor: int,
    salt_from: str,
) -> DataFrame:
    """Inner equi-join with hot-key salting: same rows as
    ``big.join(small, on)``, but each join key's big-side rows are
    split across ``factor`` shuffle tasks. ``salt_from`` must be a
    big-side column (ideally unique-ish) that derives the salt."""
    b = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(salt_from)), F.lit(factor))
    )
    s = small.withColumn(
        SALT_COL,
        F.explode(F.array(*[F.lit(i) for i in range(factor)])),
    )
    return b.join(s, on + [SALT_COL]).drop(SALT_COL)
