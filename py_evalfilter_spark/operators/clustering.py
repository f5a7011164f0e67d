"""Semantic clustering for curation (SemDeDup-family, Abbas et al. 2023 —
public paper): deterministic fixed-iteration Lloyd's k-means over an
embedding column, cluster assignment, and within-cluster cosine near-dup
pairs.  The SemDeDup trick is the partitioner: near-dup search inside
clusters is O(Σ|cluster|²) instead of O(n²), and clusters are also the
unit for diversity-aware mixing/pruning.

Engine shape — one vectorized path for every k:
  * init: the k rows with the smallest md5(id:seed) (the engine's standard
    deterministic uniform shuffle) are the seed centroids.
  * assign: a scalar pandas_udf runs one BLAS matmul per Arrow batch
    against the k×dim centroid matrix (‖x‖² − 2·x·c + ‖c‖², rounded to
    8 dp, argmin with ties to the lowest cid).  Map-only: no n·k row
    expansion, no shuffle, and the plan size does not grow with k or dim.
  * update: the same matmul fused with per-partition (sum, count)
    accumulation (mapInPandas) — the treeAggregate shape MLlib's k-means
    uses; only partitions·k·dim micro-rows shuffle, and the k×dim means
    collect to the driver (bounded by contract, like the
    categorical-domain collects).
  * pairs: grouped applyInPandas per (cluster, sub-bucket), one cosine
    matmul per row block; oversized buckets split into exact tile tasks.
  * Each iteration's centroids are ROUNDED (default 6 dp).  This is the
    cross-engine determinism contract: double summation order differs
    between Spark partitions and any oracle engine, so raw means drift in
    the last ulps; rounding at every iteration re-synchronizes both sides
    (same discipline as the bench hash conventions).  Empty clusters keep
    their previous centroid.

The fit is iterative (Lloyd's), but because iterations are FIXED, the
whole fit unrolls into plain SQL — the `semantic_cluster` and `semdedup`
catalog queries carry full DuckDB oracles with one CTE chain per
iteration (driver_queries._kmeans_oracle_sql), not a rows-only
justification.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _round_half_up(x: "np.ndarray", decimals: int) -> "np.ndarray":
    """Round-half-away-from-zero, matching the oracle's DuckDB ROUND (and
    Spark SQL's ROUND, HALF_UP) so the round(…,N) parity contract holds
    even at exact dyadic .5 decimal boundaries (e.g. 0.03125 at 4 dp),
    where np.round's banker's rounding diverges (ADVICE r5)."""
    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * scale + 0.5) / scale, x)


def _mat(vecs: pd.Series) -> "np.ndarray":
    return np.stack(vecs.to_numpy()).astype(np.float64, copy=False)


def _d2(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """n×k squared L2 distances rounded to 8 dp.  ‖x‖²−2x·c+‖c‖² differs
    from the oracle's sequential Σ(x−c)² only in last-ulp accumulation
    order; both sides round to 8 dp before the argmin, which absorbs it."""
    return _round_half_up(
        (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :],
        8,
    )


def _assign(d: DataFrame, centroids: list[list[float]], id_col: str) -> DataFrame:
    """(id, vec, cluster, dist2) — nearest centroid by rounded L2², ties to
    the lowest cid (np.argmin takes the first minimum).  The centroid
    matrix is closed over by the UDF (task-broadcast once per executor);
    at k=1024/n=1M this is ~65 GFLOP of dgemm instead of 1G joined rows."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("cluster int, dist2 double")
    def _nearest(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cluster": pd.array([], dtype="int32"),
                                 "dist2": pd.array([], dtype="float64")})
        d2 = _d2(_mat(vecs), C)
        cid = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cid.astype("int32"),
             "dist2": d2[np.arange(len(cid)), cid]}
        )

    return d.select(id_col, "vec", _nearest("vec").alias("_b")).select(
        id_col, "vec", "_b.cluster", "_b.dist2"
    )


def _assign_topm(
    d: DataFrame, centroids: list[list[float]], id_col: str, m: int
) -> DataFrame:
    """(id, vec, cluster) with one row per (doc, one of its m nearest
    centroids): the same matmul as _assign, stable argsort instead of
    argmin (ties to the lowest cid), exploded per rank.  Map-only."""
    C = np.asarray(centroids, dtype=np.float64)
    m = min(m, len(centroids))

    @F.pandas_udf("array<int>")
    def _topm(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        idx = np.argsort(_d2(_mat(vecs), C), axis=1, kind="stable")[:, :m]
        return pd.Series(list(idx.astype("int32")))

    return d.select(id_col, "vec", F.explode(_topm("vec")).alias("cluster"))


def _update_partials(d: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One fused assign+partial-update map pass for a Lloyd iteration:
    each partition streams its Arrow batches through _assign's matmul and
    accumulates per-cluster (sum, count) locally, emitting k×dim tiny rows
    (cluster, dim, s, c) at partition end.  Only the vec column crosses
    Arrow and the ids never move.  The means are rounded to the fit's
    round_decimals, which makes the partial-sum order immaterial."""
    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape

    def emit(batches):
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _mat(pdf["vec"])
            cid = _d2(X, C).argmin(axis=1)
            np.add.at(sums, cid, X)
            cnts += np.bincount(cid, minlength=k)
        live = np.nonzero(cnts)[0]
        if len(live):
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(live, dim).astype("int32"),
                    "dim": np.tile(np.arange(dim, dtype="int32"), len(live)),
                    "s": sums[live].ravel(),
                    "c": np.repeat(cnts[live], dim),
                }
            )

    return d.select("vec").mapInPandas(
        emit, "cluster int, dim int, s double, c long"
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    seed: int = 42,
    round_decimals: int = 6,
    pin_input: bool = True,
) -> list[list[float]]:
    """Fixed-iteration deterministic Lloyd's; returns the k centroids
    (k × dim floats — driver-bounded by contract).  The prepared vector
    frame is pinned for the fit's lifetime (the seed sort plus every
    iteration's fused assign + update reads it — iters+1 upstream re-reads
    otherwise) and released before returning: the fit ends in a collect,
    so unlike the pair operators it owns its own eviction boundary.
    `pin_input=False` skips the cache and re-scans the source each pass —
    for parquet-backed inputs the iteration passes consume ONLY the vector
    column, and a columnar re-scan can beat the cache round-trip (the
    cache materializes and deserializes id+vec rows; see
    BENCH/BASELINE.md round 5 for the measured comparison)."""
    from ..pinning import PinScope

    d = df.select(
        F.col(id_col).alias("_kid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    with PinScope() as fit_pins:
        if pin_input:
            d = fit_pins.pin(d)
        seeds = (
            d.orderBy(
                F.md5(F.concat_ws(":", F.col("_kid"), F.lit(seed))), F.col("_kid")
            )
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(
                f"kmeans_fit: k={k} but the input has only {len(seeds)} rows"
            )
        centroids = [[round(float(x), round_decimals) for x in r["vec"]] for r in seeds]
        for _ in range(iters):
            rows = (
                _update_partials(d, centroids)
                .groupBy("cluster", "dim")
                .agg((F.sum("s") / F.sum("c")).alias("m"))
                .collect()
            )
            new: dict[int, dict[int, float]] = {}
            for r in rows:
                new.setdefault(r["cluster"], {})[r["dim"]] = round(
                    float(r["m"]), round_decimals
                )
            centroids = [
                [new[c][i] for i in range(len(centroids[c]))] if c in new else centroids[c]
                for c in range(k)
            ]
    return centroids


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """df + (cluster, dist2) under fixed centroids."""
    d = df.select(
        F.col(id_col).alias("_kid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    out = _assign(d, centroids, "_kid").select(
        F.col("_kid").alias(id_col), "cluster", F.round("dist2", 4).alias("dist2")
    )
    return df.join(out, id_col)


def _sim_hits(S: "np.ndarray", threshold: float):
    """(rows, cols, rounded_vals) with round(S,4) >= threshold, WITHOUT
    rounding the full similarity block: a value below threshold−1e-4
    cannot round up to threshold (4-dp rounding moves a value by at most
    5e-5 + ulp), so the raw-value prefilter is exact-equivalent and the
    round(…,4) parity contract runs only on the hits.  Measured: at a
    candidate mass of ~3G the full-matrix np.round pass was a material
    slice of the pairs stage wall — the threshold scan itself (one
    comparison per candidate) is the irreducible part."""
    rr, cc = np.nonzero(S >= threshold - 1e-4)
    vals = _round_half_up(S[rr, cc], 4)
    keep = vals >= threshold
    return rr[keep], cc[keep], vals[keep]


def _block_pairs(
    a: pd.DataFrame, b: pd.DataFrame | None, threshold: float
) -> pd.DataFrame:
    """(doc_id < dup_id, cosine) pairs with round(cosine, 4) ≥ threshold
    between the rows of `a` and `b`, or among the rows of `a` when b is
    None.  Same contract as the oracle's ROUND(list_cosine_similarity, 4):
    dot/(‖a‖·‖b‖), zero-norm rows drop (nan compares False).  The a×b
    similarity matrix is row-blocked to ≤4M doubles (32 MB) in flight per
    task regardless of bucket size."""
    within = b is None
    b = a if within else b
    if not len(a) or not len(b):
        return pd.DataFrame({"doc_id": [], "dup_id": [], "cosine": []})
    XA, ia = _mat(a["vec"]), a["doc_id"].to_numpy()
    XB, ib = (XA, ia) if within else (_mat(b["vec"]), b["doc_id"].to_numpy())
    na, nb = np.sqrt((XA * XA).sum(axis=1)), np.sqrt((XB * XB).sum(axis=1))
    block = max(16, 4_000_000 // len(b))
    out_a, out_b, out_s = [], [], []
    with np.errstate(divide="ignore", invalid="ignore"):
        for i0 in range(0, len(a), block):
            S = (XA[i0:i0 + block] @ XB.T) / np.outer(na[i0:i0 + block], nb)
            rr, cc, vals = _sim_hits(S, threshold)
            x, y = ia[rr + i0], ib[cc]
            keep = x < y if within else slice(None)
            out_a.append(np.minimum(x, y)[keep])
            out_b.append(np.maximum(x, y)[keep])
            out_s.append(vals[keep])
    return pd.DataFrame(
        {
            "doc_id": np.concatenate(out_a),
            "dup_id": np.concatenate(out_b),
            "cosine": np.concatenate(out_s),
        }
    )


def _pairs_schema(assigned: DataFrame) -> str:
    id_type = assigned.schema["doc_id"].dataType.simpleString()
    return f"doc_id {id_type}, dup_id {id_type}, cosine double"


def _pairs(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-(cluster, sub) pairs via grouped applyInPandas: each bucket's
    all-pairs is one BLAS matmul per row block.  Whole-row grouping is
    genuinely required here (the bucket IS the unit of work), so
    applyInPandas is the sanctioned exception to the scalar-struct-UDF
    rule."""
    return assigned.groupBy("cluster", "sub").applyInPandas(
        lambda pdf: _block_pairs(pdf, None, threshold), _pairs_schema(assigned)
    )


def _pairs_tiled(
    assigned: DataFrame, threshold: float, tiles: dict[int, int]
) -> DataFrame:
    """EXACT tile-parallel variant of _pairs for buckets too large for one
    task: a bucket with nb row-blocks becomes nb·(nb+1)/2 independent
    (ti ≤ tj) tile tasks — diagonal tiles pair within their block,
    off-diagonal tiles pair across the two blocks — so the single-task
    straggler (measured: the largest k=256 cluster, 15.6k vectors = 122M
    cosines, ~11 s serial at BOTH parallelism levels of the round-5
    scaling run) parallelizes WITHOUT the recall loss of sub-bucket
    salting: every pair lands in exactly one tile, output is set-identical
    to the untiled path (parity-pinned).  Cost: each row is replicated to
    its nb tiles — shuffle grows by |c|·nb ≈ |c|²/tile_size rows for the
    oversized clusters only."""
    nb_expr = F.lit(1)
    for c, nbv in tiles.items():
        nb_expr = F.when(F.col("cluster") == c, F.lit(nbv)).otherwise(nb_expr)
    blk = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":tile"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        nb_expr.cast("long"),
    ).cast("int")
    with_blk = assigned.withColumn("_nb", nb_expr).withColumn("blk", blk)
    tiled = with_blk.select(
        "cluster",
        "sub",
        "blk",
        "doc_id",
        "vec",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nb") - 1),
                lambda o: F.struct(
                    F.least(F.col("blk"), o).alias("ti"),
                    F.greatest(F.col("blk"), o).alias("tj"),
                ),
            )
        ).alias("_t"),
    ).select(
        "cluster", "sub", "doc_id", "vec", "blk",
        F.col("_t.ti").alias("ti"), F.col("_t.tj").alias("tj"),
    )

    def emit(key, pdf):
        ti, tj = int(key[2]), int(key[3])
        if ti == tj:
            return _block_pairs(pdf, None, threshold)
        return _block_pairs(pdf[pdf["blk"] == ti], pdf[pdf["blk"] == tj], threshold)

    return tiled.groupBy("cluster", "sub", "ti", "tj").applyInPandas(
        emit, _pairs_schema(assigned)
    )


def semdedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pins=None,
    max_cluster_size: int | None = 100_000,
    max_candidate_mass: int | None = None,
    tile_size: int | None = 4096,
    multi_assign: int = 1,
) -> DataFrame:
    """Within-cluster cosine ≥ threshold pairs (doc_id < dup_id) — the
    SemDeDup candidate structure: clusters partition the O(n²) search.
    Output feeds graph.dedup_keep_canonical like every other pair op.
    The assignment frame is read by the size observation and again by the
    pairs stage, so it is pinned like its sibling pair operators
    (eviction via `pins`).  Each (cluster, sub-bucket) is one grouped
    applyInPandas task whose all-pairs is one BLAS matmul per row block
    (measured 28.1 s on 572M candidates at 1M×64-dim/k=1024, where a
    cluster self-join with a JVM cosine took 371.8 s; BENCH/BASELINE.md
    round 5).

    Giant-cluster guard (VERDICT r4 #3 — the LSH-S-curve lesson applied to
    the within-cluster search): per-cluster sizes are observed (one ≤k-row
    collect off the pinned assignment), and a cluster larger than
    `max_cluster_size` is salted into ceil(size/max) deterministic
    md5(doc_id) sub-buckets compared only within themselves — bounding its
    candidate mass to ~size·max instead of size².  Salting is chosen over
    re-fitting with larger k because the degenerate corpus that CAUSES a
    giant cluster (near-identical vectors) is exactly the one k-means
    cannot split.  The trade is recall ACROSS sub-buckets of that one
    cluster, and it is reported, not silent: a warning lists every salted
    cluster and its size (an oversized cluster is the signal that k is too
    small for the corpus).  Default 100k ⇒ worst per-cluster candidate
    mass ~10¹⁰·|c|/max — pick max so a sub-bucket's all-pairs fits an
    executor task.

    `max_candidate_mass` additionally bounds the TOTAL predicted candidate
    count (sum of squared bucket sizes, computed from the same observed
    sizes, i.e. for free): the round-5 scale run measured that ordinary -
    not degenerate - cluster sizes make the search quadratic long before
    any single cluster is 'giant' (k=64 over 1M docs means 15.6G
    candidates, hours of cosine work; BENCH/BASELINE.md round 5).  When
    set and exceeded, the operator raises up front with the k it would
    take, instead of launching an unpayable pairs stage - SemDeDup's k
    must SCALE WITH n (Abbas et al. use n/k around 10^3); this guard is
    what tells you yours doesn't.

    `tile_size` (None disables): a bucket whose pair mass exceeds the
    per-core share of the stage's total work splits into EXACT (ti ≤ tj)
    tile tasks (_pairs_tiled) so no single cluster serializes the stage
    tail — unlike salting this loses no pairs; it only re-partitions the
    same work.  Tiling is deliberately parallelism-aware: the round-5
    measurements showed blanket tiling is a net LOSS when no bucket
    dominates (replicated-row shuffle > straggler savings), while a
    degenerate cluster (post-salt sub-bucket up to max_cluster_size² /2
    pairs in ONE task) genuinely needs it.  tile_size floors the tile edge.

    `multi_assign` (VERDICT r5 #8 — the cross-cluster recall option):
    each doc enters its `multi_assign` nearest clusters' buckets instead
    of only the argmin one, recovering pairs that a boundary splits
    between adjacent clusters (the r5 k-sweep measured 75,782 pairs at
    k=64 → 26,359 at k=1024 from exactly this loss).  Cost: candidate
    mass grows ~×multi_assign² in the worst case (both members of a pair
    replicated) and the pair output is deduped — a pair found in two
    shared clusters is emitted once (identical cosine both times, so
    distinct() is exact).  The observed-size guards see the REPLICATED
    occupancies, so max_candidate_mass prices the multiplier honestly.
    Default 1 keeps the single-assign plan byte-identical."""
    from ..pinning import pin as _pin

    # assign WITHOUT assign_clusters' full-schema reattach join: the pairs
    # stage only needs (id, vec, cluster), and the id-join shuffles the
    # whole vector payload on BOTH sides just to recover columns that are
    # dropped again — measured as a material slice of the pairs wall at
    # 1M×64-dim (the N→4N scaling run's quasi-fixed disk-bound component).
    # _assign keeps vec through the map, so this is join-free end to end.
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    if multi_assign > 1:
        assigned = _pin(_assign_topm(d, centroids, "doc_id", multi_assign), pins)
    else:
        assigned = _pin(
            _assign(d, centroids, "doc_id").select("doc_id", "vec", "cluster"),
            pins,
        )
    dedup_pairs = (lambda out: out.distinct()) if multi_assign > 1 else (lambda out: out)
    sub = F.lit(0)
    sizes: dict[int, int] = {}
    over: dict[int, int] = {}
    if max_cluster_size is not None or max_candidate_mass is not None or tile_size:
        sizes = {
            r["cluster"]: r["count"]
            for r in assigned.groupBy("cluster").count().collect()  # ≤ k rows
        }
    if max_cluster_size is not None:
        over = {
            c: math.ceil(n / max_cluster_size)
            for c, n in sizes.items()
            if n > max_cluster_size
        }
    if max_candidate_mass is not None:
        # predicted post-salt candidate count: Σ_buckets |b|²/2, with a
        # salted cluster's mass ≈ size²/n_sub
        mass = sum(n * n // (2 * over.get(c, 1)) for c, n in sizes.items())
        if mass > max_candidate_mass:
            n_total = sum(sizes.values())
            # observed skew: Σ|b|²/2 over the uniform-cluster mass
            # n²/2k — a uniform k_needed under-recommends exactly when
            # the fit is skewed (measured: k=256 'needed 251' yet was
            # still 1.55× over budget at 1M docs)
            skew = max(1.0, mass * len(sizes) / (n_total * n_total / 2))
            k_needed = math.ceil(skew * n_total * n_total / (2 * max_candidate_mass))
            raise ValueError(
                f"semdedup_pairs: predicted ~{mass:.2e} candidate pairs "
                f"over {len(sizes)} buckets exceeds max_candidate_mass="
                f"{max_candidate_mass:.0e}; the within-cluster search "
                f"would be quadratic in practice.  Re-fit with k ≳ "
                f"{k_needed} (SemDeDup's k must scale with n) or lower "
                f"max_cluster_size to force salting"
            )
    if over:
        warnings.warn(
            "semdedup_pairs: cluster(s) over max_cluster_size="
            f"{max_cluster_size} salted into sub-buckets (cluster: "
            f"n_sub) {over} — sizes {({c: sizes[c] for c in over})}; "
            "k is likely too small for this corpus",
            stacklevel=2,
        )
        n_sub = F.lit(None).cast("int")
        for c, s in over.items():
            n_sub = F.when(F.col("cluster") == c, F.lit(s)).otherwise(n_sub)
        sub = F.when(
            n_sub.isNotNull(),
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                n_sub.cast("long"),
            ).cast("int"),
        ).otherwise(F.lit(0))
    assigned = assigned.withColumn("sub", sub)
    if tile_size:
        # tile ONLY true stragglers: a bucket whose pair mass exceeds the
        # per-core share of the stage's total work would serialize the
        # stage tail; anything smaller tiles at a loss (measured at
        # k=256/1M: blanket tiling slowed pairs 27.8 → 34.2 s at 8 cores —
        # the replicated-row shuffle costs more than the tail it saves
        # when no bucket dominates).  The tile edge is sized to the
        # per-core share itself, floored at tile_size.
        par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        sub_sizes = {c: n // over.get(c, 1) for c, n in sizes.items()}
        total_mass = sum((n * n // 2) * over.get(c, 1) for c, n in sub_sizes.items())
        share = total_mass / par
        tile_eff = max(tile_size, int(math.sqrt(2 * share)) or 1)
        tiles = {
            c: math.ceil(n / tile_eff)
            for c, n in sub_sizes.items()
            if n * n / 2 > share and n > tile_eff
        }
        tiles = {c: nb for c, nb in tiles.items() if nb > 1}
        if tiles:
            return dedup_pairs(_pairs_tiled(assigned, threshold, tiles))
    return dedup_pairs(_pairs(assigned, threshold))
