"""Driver-side collects with a bound the code enforces.

An operator that pulls a frame to the driver (to build a broadcast, an
automaton or a codebook) assumes that frame is small. :func:`bounded_collect`
turns the assumption into a check: it collects at most ``max_rows + 1`` rows
and raises :class:`DriverCollectBoundError`, naming the operator and its
limit, when the frame is larger — instead of running the driver out of
memory on out-of-contract input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row


class DriverCollectBoundError(RuntimeError):
    """A driver-side collect met more rows than its operator allows."""


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list[Row]:
    """``df.collect()`` when ``df`` has at most ``max_rows`` rows; else
    :class:`DriverCollectBoundError`. ``what`` names the operator and the
    knob that sets ``max_rows``."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise DriverCollectBoundError(
            f"{what}: more than {max_rows} rows to collect to the driver"
        )
    return rows
