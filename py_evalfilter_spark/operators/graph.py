"""Connected components over duplicate-pair edges + canonical-doc selection.

The near-dup operators (dedup.py minhash/simhash/embedding, reference
semantics deduplicate_rants.py:12-21 generalized) emit PAIRS; at corpus
scale a doc can pair with many others and pairs chain (A~B, B~C), so "drop
one of each pair" both over- and under-deletes.  The standard fix is to
cluster the pair graph and keep one canonical doc per component — this
module does that with min-label propagation + pointer doubling (the
HashToMin family, Rastogi et al. 2013, "Finding Connected Components in
Map-Reduce in Logarithmic Rounds"): every round each node takes the min
label among itself and its neighbors, then labels short-circuit through
label-of-label, giving O(log diameter) rounds instead of O(diameter).

Scale notes (100 TB):
  * only nodes that appear in dup edges enter the loop — the label frame is
    |dup pairs|-sized, orders of magnitude below the corpus;
  * each round is 2 shuffles (neighbor-min groupBy + doubling self-join) on
    that small frame; the corpus itself is touched once at the end by a
    broadcast-able anti-join;
  * `localCheckpoint(eager=True)` every round truncates the lineage —
    without it the iterative plan grows exponentially and Catalyst analysis
    dominates runtime by round ~8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import seeded_int


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a localCheckpoint()'s backing RDD blocks.

    localCheckpoint persists its RDD OUTSIDE the SQL CacheManager, so
    neither `df.unpersist()` nor `spark.catalog.clearCache()` can release
    it; the blocks otherwise live until the JVM object is GC'd
    (ContextCleaner).  Without an explicit release the iterative loop
    below holds O(rounds) cached label-frame copies at once — at corpus
    scale that is real executor storage, not hygiene.  The df must not be
    used after release (the checkpoint blocks are its only lineage).
    Blocking so callers (and the PinScope storage tests) observe the
    blocks gone synchronously."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:
        pass  # private API moved — fall back to ContextCleaner GC


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(node, comp) for every node appearing in `edges`; comp = min node id
    of the node's connected component.  Converges early when a round
    changes no label (checked on the label frame, not the corpus).

    Hybrid strategy: the dup-pair graph is normally orders of magnitude
    smaller than the corpus, and the distributed loop's cost is dominated
    by per-round job latency, not data.  At or below ``driver_threshold``
    UNDIRECTED edges the components are solved with a path-compressed
    union-find on the driver — one collect of one Row per undirected edge;
    pyspark Rows cost ~100-300 bytes each on the driver heap, so the
    default 200k edges is roughly 20-60 MB plus the parent dict (size the
    threshold to the job's driver memory, not to 'edges are small').
    Above the threshold the O(log diameter) distributed loop runs.  Both
    paths are exact; the pytest union-find cross-check pins them against
    each other."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # BOTH edge directions from ONE pass over the pair lineage: the old
    # `e.union(e.reversed)` put the upstream plan (for near-dup pairs:
    # banding + est + the Arrow text verify) in the plan TWICE, and a
    # union's branches don't share execution (the CLAUDE.md twice-consumed
    # union trap) — every caller paid the pair computation double.
    und = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )
    # LAZY checkpoint, materialized by the count() below — a real SQL
    # action.  An EAGER localCheckpoint materializes through an RDD-level
    # job, which completes any upstream observe() node with an EMPTY
    # metrics row and permanently poisons the caller's Observation (hit by
    # curation's near_dedup stage metric when the semantic stage runs CC
    # over an observed frame).
    und = und.localCheckpoint(eager=False)  # reused every round: fix the lineage once

    # und holds both directions: und.count() is 2x the undirected edges
    if und.count() <= 2 * driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # one direction only — half the rows shipped to the driver
        for row in und.filter(F.col("a") < F.col("b")).collect():
            ra, rb = find(row["a"]), find(row["b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in parent]
        schema = und.select(
            F.col("a").alias("node"), F.col("a").alias("comp")
        ).schema
        _release_local_checkpoint(und)  # done with the edge frame
        return edges.sparkSession.createDataFrame(rows, schema)

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            und.join(
                labels.select(
                    F.col("node").alias("b"), F.col("comp").alias("comp_b")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("comp_b").alias("nbr_min"))
        )
        stepped = labels.join(
            nbr.select(F.col("a").alias("node"), "nbr_min"), "node", "left"
        ).select(
            "node",
            F.least("comp", F.coalesce("nbr_min", "comp")).alias("comp"),
        )
        # pointer doubling: comp(v) <- comp(comp(v))
        doubled = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("node").alias("comp"), F.col("comp").alias("comp2")
                ).alias("y"),
                "comp",
                "left",
            )
            .select(
                "node", F.coalesce("comp2", "comp").alias("comp")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        _release_local_checkpoint(labels)  # superseded round's blocks
        labels = doubled
        if changed == 0:
            break
    _release_local_checkpoint(und)
    return labels


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    n_folds: int = 3,
    id_col: str = "doc_id",
    seed: int = 42,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Leakage-safe fold assignment: near-duplicate documents must land in
    the SAME fold (a near-dup of a training doc inside the eval fold is
    train/test contamination that per-doc random splits cannot prevent).
    Folds are assigned per CONNECTED COMPONENT of the dup-pair graph —
    every member of a cluster shares its component's fold; docs in no pair
    are their own singleton component.

    The fold is an md5-uniform of the component id (portable to the DuckDB
    oracle, deterministic under repartitioning).  Adds `fold` int."""
    comp = connected_components(pairs, src=src, dst=dst).withColumnRenamed(
        "node", id_col
    )
    withc = df.join(comp, id_col, "left").withColumn(
        "comp", F.coalesce("comp", F.col(id_col))
    )
    fold = F.pmod(seeded_int("comp", seed), F.lit(n_folds)).cast("int")
    return withc.withColumn("fold", fold).drop("comp")


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one document per duplicate cluster: cluster the pair graph,
    then anti-join the corpus against every non-canonical node (node !=
    component min).  The drop set is |dup nodes|-sized — the only corpus
    pass is the final anti-join."""
    comp = connected_components(pairs, src=src, dst=dst)
    drop = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """dedup_keep_canonical with a QUALITY-ranked survivor: per duplicate
    cluster keep the member with the highest `score_col` (ties → lowest
    id, so the choice is deterministic) — what a production pipeline
    actually wants: when a page was crawled five times, keep the cleanest
    capture, not the one with the smallest id.

    Shape: the component frame is |dup nodes|-sized (≪ corpus), so the
    score lookup joins component nodes against the corpus projection
    (id, score) — never the reverse; the survivor reduction is one
    groupBy(comp) min over a (−score, id) struct with map-side combine;
    the corpus pays only the final anti-join against the drop set.

    A NULL `score_col` ranks BELOW every scored member (struct-min sorts
    NULL first, so an unscored document would otherwise beat every scored
    one — the coalesce to +inf inverts that); an all-NULL component falls
    back to lowest-id, same as dedup_keep_canonical."""
    comp = connected_components(pairs, src=src, dst=dst)
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s")),
        "node",
    )
    neg = F.coalesce(
        (-F.col("_s")).cast("double"), F.lit(float("inf"))
    )
    best = scored.groupBy("comp").agg(
        F.min(F.struct(neg.alias("_neg"), F.col("node"))).alias("_b")
    ).select("comp", F.col("_b.node").alias("_keep"))
    drop = (
        comp.join(best, "comp")
        .filter(F.col("node") != F.col("_keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")
