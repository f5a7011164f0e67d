"""Multi-table point-in-time spine join — the feature-store primitive
("get_historical_features" in Feast/Tecton terms) the north_star's
point-in-time feature store is FOR: given a training spine of labeled
(entity, ts) rows, attach from EACH of k feature tables the latest row
with ``feature.ts <= spine.ts`` for that entity, each table under its own
staleness tolerance, with zero temporal leakage across all of them.

This is the repo's ONE point-in-time join (SURVEY.md §2.6 J3 — the
reference's merge-by-key join, evalfilter/pandas_util.py semantics):
operators/asof.asof_join is its k=1 case, and both public functions are
single calls into the private engine :func:`_point_in_time`.

Physical strategy — the reason this is an operator and not a loop:
  * Chaining k as-of joins costs k shuffles and k sorts of the GROWING
    spine (every union invalidates the previous pass's distribution).
  * Here ALL k tables and the spine union into ONE tagged frame, and ONE
    window pass ``partitionBy(entity).orderBy(ts, side)`` forward-fills k
    independent structs (one ``last(ignorenulls)`` per table).  Catalyst
    evaluates same-spec window functions in a single WindowExec: ONE
    Exchange + ONE Sort TOTAL, independent of k (plan-pinned by
    tests/test_spine.py::TestSpinePlan).  At 10^12 turns the delta is
    (k-1) corpus-sized shuffles.
  * Each table's columns travel inside its own struct, so every output
    column of a table comes from the SAME matched feature row (including
    that row's NULLs — per-column ``last(ignorenulls)`` would pull a
    column from an OLDER row whenever the matched row holds NULL there),
    and a stale match nulls the whole struct.
  * Feature rows sort BEFORE spine rows at equal ts (side 0 < 1), so an
    exact ts match is visible — backward as-of with exact matches allowed,
    as golden.golden_asof and the spine_features DuckDB oracle
    (``ASOF JOIN ON spine.ts >= feat.ts``) state it.
  * Ties among feature rows at equal (entity, ts) resolve to an arbitrary
    one of them: output is deterministic only when each table is unique
    per (by, on) (pre-aggregate duplicates).

Skew: one hash partition per entity bucket, same profile as the engine's
other conv_id windows — a mega-entity lands in one task; AQE handles
residual imbalance.  Tables keyed on a DIFFERENT entity column are
renamed onto the spine's key before the union (``FeatureTable.by``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class FeatureTable:
    """One feature source for the spine join.

    ``df`` holds (``by``, ``on``, value columns...).  Output columns are
    ``{prefix}_{on}`` (the matched row's own timestamp — audit/leakage
    column) and ``{prefix}_{col}`` for each value column.  ``tolerance_s``
    nulls the whole match when ``spine.ts - matched.ts > tolerance_s``."""

    df: DataFrame
    prefix: str
    on: str = "ts"
    by: str = "conv_id"
    tolerance_s: int | None = None


def _point_in_time(
    spine: DataFrame,
    sides: list[tuple[DataFrame, str, str, int | None, str, dict[str, str]]],
    on: str,
    by: str,
) -> DataFrame:
    """The union + struct-forward-fill engine.  Each side is
    ``(df, df_by, df_on, tolerance_s, ts_out_name, {value_col: out_name})``;
    the output is every spine column, then per side its matched row's
    ``df_on`` as ``ts_out_name`` and each value column under its out name.
    Raises ValueError when an output name repeats a spine column or
    another output name."""
    out_names = set(spine.columns)
    for *_, ts_name, values in sides:
        for name in (ts_name, *values.values()):
            if name in out_names:
                raise ValueError(f"output column collision: {name}")
            out_names.add(name)
    structs = [
        T.StructType(
            [T.StructField("__rts", df.schema[df_on].dataType, True)]
            + [T.StructField(c, df.schema[c].dataType, True) for c in values]
        )
        for df, _, df_on, _, _, values in sides
    ]

    # spine branch: side=1, every side's struct NULL
    lt = spine.select(
        "*",
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(st).alias(f"__rs{i}") for i, st in enumerate(structs)],
    )
    spine_nulls = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in spine.schema.fields
        if f.name not in (by, on)
    ]
    branches = [lt]
    for i, (df, df_by, df_on, _, _, values) in enumerate(sides):
        rs = [F.lit(None).cast(st).alias(f"__rs{j}") for j, st in enumerate(structs)]
        rs[i] = F.struct(
            F.col(df_on).alias("__rts"), *[F.col(c) for c in values]
        ).alias(f"__rs{i}")
        branches.append(
            df.select(
                F.col(df_by).alias(by),
                F.col(df_on).alias(on),
                *spine_nulls,
                F.lit(0).alias("__side"),
                *rs,
            ).select(*lt.columns)
        )

    u = reduce(lambda a, b: a.unionByName(b), branches)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # k same-spec fills -> ONE WindowExec (one Exchange, one Sort)
    filled = u.select(
        "*",
        *[
            F.last(f"__rs{i}", ignorenulls=True).over(w).alias(f"__rsf{i}")
            for i in range(len(sides))
        ],
    )
    out = filled.filter(F.col("__side") == 1)
    for i, (_, _, _, tolerance_s, _, _) in enumerate(sides):
        if tolerance_s is not None:
            stale = (
                F.col(on).cast("timestamp").cast("long")
                - F.col(f"__rsf{i}.__rts").cast("timestamp").cast("long")
            )
            out = out.withColumn(
                f"__rsf{i}",
                F.when(stale <= tolerance_s, F.col(f"__rsf{i}")).otherwise(
                    F.lit(None).cast(structs[i])
                ),
            )
    return out.select(
        *spine.columns,
        *[
            c
            for i, (*_, ts_name, values) in enumerate(sides)
            for c in (
                F.col(f"__rsf{i}.__rts").alias(ts_name),
                *[F.col(f"__rsf{i}.{v}").alias(o) for v, o in values.items()],
            )
        ],
    )


def spine_point_in_time(
    spine: DataFrame,
    tables: list[FeatureTable],
    on: str = "ts",
    by: str = "conv_id",
) -> DataFrame:
    """Attach k feature tables to a training spine, point-in-time correct.

    Returns one row per spine row: all spine columns, then per table t
    ``{t.prefix}_{t.on}`` + ``{t.prefix}_{value col}...``.  No feature
    value with ``feature.ts > spine.ts`` can ever appear (leakage-free by
    construction: the forward-fill only looks backward in the ts order).
    """
    if not tables:
        raise ValueError("pass at least one FeatureTable")
    prefixes = [t.prefix for t in tables]
    if len(set(prefixes)) != len(prefixes):
        raise ValueError(f"duplicate prefixes: {prefixes}")
    return _point_in_time(
        spine,
        [
            (
                t.df,
                t.by,
                t.on,
                t.tolerance_s,
                f"{t.prefix}_{t.on}",
                {c: f"{t.prefix}_{c}" for c in t.df.columns if c not in (t.by, t.on)},
            )
            for t in tables
        ],
        on,
        by,
    )
