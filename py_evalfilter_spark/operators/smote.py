"""SMOTE oversampling — SURVEY.md §2.8 X4.

Reference semantics: /root/reference/tests/smote.py:1-38 (the brew-library
experiment script): for each minority-class sample x, pick one of its k
nearest neighbors nn uniformly at random and emit x + gap * (nn - x) with
gap ~ U(0,1), N/100 synthetic samples per base row.

Spark-first re-expression, fully deterministic and JVM-side:

* exact within-class kNN by squared Euclidean distance — broadcast
  self-join of the minority class.  The minority class is small by the
  very premise of oversampling, so the broadcast is the right default; it
  is size-gated by one count of the class (`gate.BROADCAST_MAX_ROWS`).  A
  minority class too large to broadcast is too large for exact all-pairs
  kNN too: plug an LSH candidate frame in via `neighbors=`
  (similarity.lsh_topk produces the right shape) and the rest of the plan
  is unchanged — no all-pairs work outside the class.
* the reference's RandomState is replaced by portable integer hash
  streams (plain BIGINT arithmetic, identical in ANSI SQL, so the
  operator carries a full DuckDB oracle — unlike executor-side RNG,
  results are stable under repartitioning, the same property as
  splits.kfold_assign):
      b  = base_id % 1000003
      h1 = (b*1103515245 + rep*12345  +   seed) % 2147483647  -> neighbor
      h2 = (b*69069      + rep*54321 + 7*seed) % 2147483647  -> gap
  neighbor rank = h1 % min(k, n_neighbors) + 1, gap = h2 / 2147483647.
* interpolation is one zip_with over the two vectors (whole-stage
  codegen; no Python anywhere).

Output: exactly n_per_base synthetic rows per minority row (provided the
class has >= 2 members), each on the segment between its base row and one
of the base row's k nearest within-class neighbors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import gate

_M = 2147483647  # 2^31 - 1: the hash-stream modulus
_B = 1000003  # id pre-fold keeps every product inside 63 bits


def knn_within_class(
    m: DataFrame,
    k: int,
    id_col: str = "base_id",
    vec_col: str = "base_vec",
) -> DataFrame:
    """Exact k nearest neighbors inside one (small) class.

    `m` must carry (id_col, vec_col: array<double>).  Broadcast self-join +
    squared-Euclidean rank; distances are rounded (1e-6) before ranking
    with an id tie-break so rank order is reproducible across engines.
    The three broadcast hints on `m` apply only when it fits
    ``gate.BROADCAST_MAX_ROWS`` (one count job); above it the joins are
    left to Catalyst/AQE, with the same rows.
    Returns (base_id, base_vec, nbr_id, nbr_vec, nbr_rank).
    """
    hint = F.broadcast if gate.fits(m, gate.BROADCAST_MAX_ROWS) else (lambda d: d)
    right = m.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec")
    )
    dist2 = F.aggregate(
        F.zip_with(vec_col, "nbr_vec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # Spread the streamed side BEFORE the nested-loop join: the minority
    # class usually arrives as one scan split, and the O(n²) pair
    # generation + the rank sort otherwise run in ONE task (measured 47.7 s
    # at sf1.0 vs ~3 s spread; the explicit partition count keeps AQE from
    # coalescing 2k tiny rows back into one partition).  Hashing on the id
    # also pre-satisfies the rank window's clustering, so the n² pairs
    # never cross an Exchange — Spark's WindowGroupLimit cuts each
    # partition to the top-k rows per base right after the local sort.
    # The rank sort sees only (ids, dist2): carrying both vectors through
    # it multiplies the sorted payload ~40x (n² wide rows spill at larger
    # minority classes); the k·n survivors re-join the vectors afterwards
    # from the same broadcast-sized frames (equal wall at sf1.0, measured
    # identical kNN sets).
    p = max(m.sparkSession.sparkContext.defaultParallelism, 1)
    pairs = (
        m.repartition(p, id_col)
        .join(hint(right), F.col(id_col) != F.col("nbr_id"))
        .withColumn("dist2", F.round(dist2, 6))
        .select(id_col, "nbr_id", "dist2")
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "nbr_id")
    ranked = (
        pairs.withColumn("nbr_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("nbr_rank") <= k)
        .drop("dist2")
    )
    return ranked.join(hint(m), id_col).join(hint(right), "nbr_id").select(
        id_col, vec_col, "nbr_id", "nbr_vec", "nbr_rank"
    )


def _hash_stream(mult: int, addend: int, offset: Column) -> Column:
    b = F.col("base_id") % F.lit(_B)
    return (b * F.lit(mult) + F.col("rep") * F.lit(addend) + offset) % F.lit(_M)


def smote_oversample(
    df: DataFrame,
    minority_label,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_per_base: int = 2,
    seed: int = 42,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Synthesize `n_per_base` SMOTE rows per minority-class row.

    Returns (base_id, rep, nbr_id, gap, synth: array<double>, <label_col>).
    Pass `neighbors=` (shape of knn_within_class's output) to swap the
    exact broadcast kNN for an approximate blocked one at scale.
    """
    if neighbors is None:
        m = df.filter(F.col(label_col) == minority_label).select(
            F.col(id_col).alias("base_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("base_vec"),
        )
        neighbors = knn_within_class(m, k)
    w = Window.partitionBy("base_id")
    reps = F.explode(F.sequence(F.lit(0), F.lit(n_per_base - 1))).alias("rep")
    picked = (
        neighbors.withColumn("n_nbrs", F.max("nbr_rank").over(w))
        .select("*", reps)
        .withColumn("h1", _hash_stream(1103515245, 12345, F.lit(seed)))
        .withColumn("h2", _hash_stream(69069, 54321, F.lit(7 * seed)))
        .filter(
            F.col("nbr_rank")
            == (F.col("h1") % F.least(F.lit(k), F.col("n_nbrs"))) + 1
        )
    )
    gap = F.col("h2").cast("double") / F.lit(float(_M))
    synth = F.zip_with("base_vec", "nbr_vec", lambda a, c: a + gap * (c - a))
    return picked.select(
        "base_id",
        F.col("rep").cast("int").alias("rep"),
        "nbr_id",
        gap.alias("gap"),
        synth.alias("synth"),
        F.lit(minority_label).alias(label_col),
    )
