"""Point-in-time (as-of) join — SURVEY.md §2.6 J3, the north_rule centerpiece.

Semantics: for each left row, attach the single right row with the same key
and the greatest ``right.ts <= left.ts`` (backward, exact matches allowed).
Zero temporal leakage by construction: a right row with ``ts > left.ts``
can never be selected.

This is the one-table case of the spine join: operators/spine._point_in_time
unions both sides and forward-fills one struct of the right row in a single
JVM window pass (one Exchange, one Sort; matched-row NULLs, tolerance and
tie semantics are documented there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .spine import _point_in_time


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    right_ts_alias: str | None = None,
    tolerance_s: int | None = None,
) -> DataFrame:
    """Backward as-of join of ``right`` onto ``left`` on (by, on).

    Output: every left column, then right's ``on`` as ``right_ts_alias``
    (default ``f"{on}_right"``, so leakage stays auditable) and every other
    right column under its own name; a name that repeats a left column
    raises ValueError.  ``tolerance_s``: optional max staleness — an older
    match nulls the ts and all right columns together.
    """
    values = {c: c for c in right.columns if c not in (by, on)}
    return _point_in_time(
        left,
        [(right, by, on, tolerance_s, right_ts_alias or f"{on}_right", values)],
        on,
        by,
    )


# perfbench's "asof" layer traces both names; same function object
asof_join_union_window = asof_join
