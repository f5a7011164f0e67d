"""One size gate for the choices that depend on a frame's row count.

A broadcast copies a join's build side to every executor, and a driver
collect copies a frame into the driver heap; both are right for a small
frame and an out-of-memory failure for a large one.  Every such choice in
the package goes through :func:`fits`: the caller's known row count when it
has one, else one ``df.count()`` job, compared against one of two limits.

* ``BROADCAST_MAX_ROWS``: a broadcast build side (benchmark n-gram sets,
  unigram LM models, a SMOTE minority class).  A short key plus a few
  values is ~50 B serialized, so 2M rows is ~100 MB of broadcast.
* ``DRIVER_MAX_ROWS``: rows collected to the driver (connected components'
  directed edge rows; a pyspark Row costs ~100-300 B of driver heap).

Call sites read the limits from this module when they run, never as
default arguments, so setting a limit here changes every site: the tests
set both to 0 to run the large-data paths on small inputs.  A frame with
0 rows still fits a limit of 0.

Statistics are not consulted: a file scan's ``sizeInBytes`` is its
compressed file size, not a row bound, so a count is the one fact that
decides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_MAX_ROWS = 2_000_000
DRIVER_MAX_ROWS = 400_000


def fits(df: DataFrame, max_rows: int, rows: int | None = None) -> bool:
    """Whether ``df`` has at most ``max_rows`` rows: ``rows`` when the
    caller knows it, else one ``df.count()`` job."""
    return (df.count() if rows is None else rows) <= max_rows


def broadcast_if_small(df: DataFrame, rows: int | None = None) -> DataFrame:
    """``df`` with a broadcast hint when it fits ``BROADCAST_MAX_ROWS``;
    unhinted otherwise, so the join falls back to a shuffle join."""
    return F.broadcast(df) if fits(df, BROADCAST_MAX_ROWS, rows) else df
