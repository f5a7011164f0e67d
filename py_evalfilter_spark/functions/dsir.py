"""DSIR-style importance resampling for pretraining-data selection
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" — public paper; no reference-repo analogue, this is an engine
extension per SURVEY.md §2.11).

The estimator is deliberately the paper's cheap one: bag-of-hashed-n-grams
unigram models over a TARGET (trusted) corpus and the RAW corpus, and a
per-document importance weight

    log w(doc) = Σ_{g ∈ ngrams(doc)} [ log p_target(b(g)) − log p_raw(b(g)) ]

with b(g) an md5 bucket in [0, B).  Selection is Gumbel-top-k on
log w + g_i, which samples WITHOUT replacement proportionally to w — the
Gumbel noise comes from an md5-uniform per doc, so the whole pipeline is
deterministic, engine-portable, and DuckDB-oracle-able end to end.

Scale shape: both model fits are one explode + groupBy each (map-side
combinable, bucket-bounded output ≤ B rows); scoring is one explode + a
broadcast join against the ≤B-row ratio model + one groupBy.  B is a cap
parameter (default 10k), so the broadcast is bounded BY CONSTRUCTION —
unlike a raw vocabulary it cannot grow with the corpus (the lesson of the
unigram-LM broadcast gate, textanalysis.py)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import md5_int, seeded_int
from .textanalysis import WORD_RE

_M = 1_000_003  # md5-uniform modulus shared with operators/corpus.py mixing


def _hashed_ngram_buckets(df: DataFrame, text_col: str, n_max: int, buckets: int):
    """(id-preserving) explode of word {1..n_max}-gram md5 buckets.
    The words array and each n-gram array are projected to NAMED columns
    before any HOF consumes them — lambda bodies get no subexpression
    elimination (project conventions)."""
    out = df.withColumn(
        "_words", F.filter(F.split(F.lower(F.col(text_col)), WORD_RE), lambda x: x != "")
    )

    def gram_of(n: int):
        # closure factory, NOT `lambda i, n=n`: PySpark treats a
        # two-parameter HOF lambda as (value, index) and would bind the
        # array INDEX to n — producing growing slices (measured)
        return lambda i: F.array_join(F.slice(F.col("_words"), i, n), " ")

    gram_cols = [F.col("_words")]
    for n in range(2, n_max + 1):
        col = f"_grams{n}"
        out = out.withColumn(
            col,
            # guard: Spark's sequence(1, 0) DESCENDS to [1, 0] rather than
            # being empty, so docs shorter than n need the explicit branch
            F.when(
                F.size("_words") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("_words") - (n - 1)), gram_of(n)
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        gram_cols.append(F.col(col))
    exploded = out.withColumn("_gram", F.explode(F.concat(*gram_cols)))
    return exploded.withColumn(
        "bucket",
        F.pmod(md5_int("_gram"), F.lit(buckets)),
    ).drop("_words", "_gram", *[f"_grams{n}" for n in range(2, n_max + 1)])


def dsir_log_ratio_model(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_max: int = 2,
    buckets: int = 10_000,
    smoothing: float = 1.0,
    pins=None,
    raw_buckets: DataFrame | None = None,
) -> tuple[DataFrame, float]:
    """Fit the (bucket, log_ratio) model: log_ratio = log p_t(b) − log p_r(b)
    with additive smoothing over all B buckets.  Returns (model frame of at
    most B rows, the default log-ratio for buckets unseen on BOTH sides).
    Two single-row collects bound the scalars (totals), like the LM fit.

    The per-side count frames are pinned (≤B rows each): the totals
    collect AND the final model join both read them, and without the pin
    each side's corpus explode re-executes — measured 2.9 → 1.5 s at
    sf0.1.  Pass a PinScope to own eviction (pinning.py).

    ``raw_buckets``: a precomputed (and ideally pinned) frame carrying one
    `bucket` row per raw-side n-gram (the ``_hashed_ngram_buckets`` shape)
    — lets a caller that also SCORES the raw side (with_dsir_weight) share
    ONE explode+md5 pass between the fit and the scoring instead of
    re-tokenizing the biggest side (the scoring explode is the model's
    whole raw pass again)."""
    from ..pinning import pin as _pin

    t_counts = _pin(
        _hashed_ngram_buckets(target, text_col, n_max, buckets)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("tc")),
        pins,
    )
    r_counts = _pin(
        (
            raw_buckets
            if raw_buckets is not None
            else _hashed_ngram_buckets(raw, text_col, n_max, buckets)
        )
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("rc")),
        pins,
    )
    n_t = int(t_counts.agg(F.sum("tc")).collect()[0][0] or 0)
    n_r = int(r_counts.agg(F.sum("rc")).collect()[0][0] or 0)
    td, rd = n_t + smoothing * buckets, n_r + smoothing * buckets
    model = (
        t_counts.join(r_counts, "bucket", "full")
        .select(
            "bucket",
            (
                F.log((F.coalesce("tc", F.lit(0)) + smoothing) / F.lit(td))
                - F.log((F.coalesce("rc", F.lit(0)) + smoothing) / F.lit(rd))
            ).alias("log_ratio"),
        )
    )
    default = math.log(smoothing / td) - math.log(smoothing / rd)
    return model, default


def with_dsir_weight(
    df: DataFrame,
    model: DataFrame,
    default_log_ratio: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_max: int = 2,
    buckets: int = 10_000,
    out: str = "dsir_logw",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document log importance weight.  The model side is ≤ `buckets`
    rows by construction, so the broadcast hint is safe (contrast the
    gated unigram-LM broadcast).  Zero-n-gram docs get weight 0.0 (no
    evidence either way).  ``grams``: a precomputed (id, bucket) n-gram
    frame (``_hashed_ngram_buckets`` over the same df/params) — pass the
    pinned frame the model fit consumed so the corpus explodes once."""
    if grams is None:
        grams = _hashed_ngram_buckets(
            df.select(id_col, text_col), text_col, n_max, buckets
        ).select(id_col, "bucket")
    scored = grams.join(F.broadcast(model), "bucket", "left").select(
        id_col,
        F.coalesce("log_ratio", F.lit(default_log_ratio)).alias("lr"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"), F.round(F.sum("lr"), 4).alias(out)
    )
    return df.join(per_doc, id_col, "left").select(
        df["*"],
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce(out, F.lit(0.0)).alias(out),
    )


def gumbel_key(weight_col: str, id_col: str, seed: int):
    """logw + Gumbel(md5-uniform(id, seed)) — the deterministic
    Efraimidis-Spirakis/Gumbel selection key (shared by dsir_resample and
    its parity tests)."""
    u = (F.pmod(seeded_int(id_col, seed), F.lit(_M)) + F.lit(0.5)) / F.lit(float(_M))
    return F.col(weight_col) + (-F.log(-F.log(u)))


def kth_largest(frame: DataFrame, col: str, need: int, eps: float = 1e-4) -> float:
    """EXACT need-th largest value of a numeric column, fully distributed:
    approxQuantile brackets the rank, one aggregation pass verifies with
    exact counts, and the candidate band shrinks geometrically (the band
    between two quantiles eps apart holds O(eps·n) rows, so a 10B-row
    column converges in ~3 passes at eps=1e-4).  The driver holds only
    scalars — never k rows, never a global sort (VERDICT r4 #2: the
    scale-safe replacement for orderBy().limit(k)'s single merge point).

    Self-correcting: every branch decision is made on exact counts, so a
    quantile-sketch miss only costs an extra iteration, never correctness.
    approxQuantile returns observed data values, which is what makes the
    exact-equality break test (count(>c) < need <= count(>=c)) reachable."""
    c_col = F.col(col)
    # NULL keys would desynchronize count() (counts them) from
    # approxQuantile / the exact-count aggregates (ignore them), letting
    # the loop narrow to an all-null frame where approxQuantile returns []
    # (ADVICE r5).  Rank over the non-null population only — the same
    # observable semantics as the old orderBy path (desc puts nulls LAST,
    # and a null never passes dsir_resample's >= threshold filter).
    frame = frame.filter(c_col.isNotNull())
    while True:
        n_f = frame.count()
        if n_f == 0:
            raise ValueError("kth_largest on an empty frame")
        if need >= n_f:
            return frame.agg(F.min(col)).collect()[0][0]
        p = 1.0 - need / n_f
        c_lo, c, c_hi = frame.approxQuantile(
            col, [max(0.0, p - 2 * eps), p, min(1.0, p + 2 * eps)], eps
        )
        row = frame.agg(
            F.sum((c_col > c).cast("long")).alias("g"),
            F.sum((c_col >= c).cast("long")).alias("m"),
            F.sum((c_col > c_hi).cast("long")).alias("g_hi"),
            F.sum((c_col >= c_lo).cast("long")).alias("m_lo"),
        ).collect()[0]
        g, m = int(row["g"]), int(row["m"])
        g_hi, m_lo = int(row["g_hi"]), int(row["m_lo"])
        if g < need <= m:
            return c  # c IS the exact need-th largest (an observed value)
        if g >= need:  # target lies strictly above c
            if g_hi >= need:
                frame = frame.filter(c_col > c_hi)
            else:  # bracketed: (c, c_hi], with g_hi rows consumed above
                frame = frame.filter((c_col > c) & (c_col <= c_hi))
                need -= g_hi
        else:  # m < need: target lies strictly below c
            band = m_lo - m  # rows in [c_lo, c)
            if need - m <= band:  # bracketed: [c_lo, c)
                frame = frame.filter((c_col >= c_lo) & (c_col < c))
                need -= m
            else:
                frame = frame.filter(c_col < c_lo)
                need -= m_lo


def dsir_resample(
    df: DataFrame,
    k: int,
    weight_col: str = "dsir_logw",
    id_col: str = "doc_id",
    seed: int = 42,
    pins=None,
    eps: float = 1e-4,
) -> DataFrame:
    """Gumbel-top-k selection: keep the k docs maximizing
    logw + Gumbel(md5-uniform) — a without-replacement sample with
    P(select) ∝ exp(logw) (Efraimidis-Spirakis via Gumbel keys).  The
    noise is md5-derived, so selection is deterministic and replayable.

    DSIR's real job is "select the best 100M of 10B docs", so the top-k
    is a DISTRIBUTED THRESHOLD-SELECT, not orderBy().limit(k) (whose
    TakeOrderedAndProject holds k rows per partition plus an O(k) driver
    merge — the r4 perf-weak finding): kth_largest() finds the exact
    cutoff key with bounded driver memory, then one filter keeps the
    strictly-above set plus the id-ascending trim of the rows tied at the
    cutoff.  The output SET is byte-identical to the old path (pinned by
    tests/test_corpus.py parity across k); only row order differs, and the
    final plan is scan+filter — no global sort, no single merge point.

    Ties at the cutoff are docs whose continuous md5-Gumbel keys collide
    EXACTLY (measure-zero by construction), so the tie-id collect is
    bounded by contract like the engine's other scalar collects — guarded
    at 100k rows in case a degenerate weight column breaks that contract.

    The ranked frame is pinned (the select runs several count passes over
    it); pass a PinScope to own eviction."""
    from ..pinning import pin as _pin

    if k <= 0:
        return df.limit(0)
    ranked = _pin(df.withColumn("_gkey", gumbel_key(weight_col, id_col, seed)), pins)
    n = ranked.count()
    if k >= n:
        return df
    t = kth_largest(ranked, "_gkey", k, eps)
    g = int(ranked.filter(F.col("_gkey") > t).count())
    take = k - g  # >= 1: the cutoff row itself is always selected
    ties = ranked.filter(F.col("_gkey") == t)
    tie_count = int(ties.count())
    sel = F.col("_gkey") > t
    if take >= tie_count:
        sel = sel | (F.col("_gkey") == t)
    else:
        if tie_count > 100_000:
            raise ValueError(
                f"{tie_count} rows tied at the exact cutoff key — degenerate "
                f"weight/id distribution; refusing an unbounded driver collect"
            )
        tie_ids = sorted(r[0] for r in ties.select(id_col).collect())
        id_cut = tie_ids[take - 1]  # ids are unique; smallest `take` win
        sel = sel | ((F.col("_gkey") == t) & (F.col(id_col) <= id_cut))
    return ranked.filter(sel).drop("_gkey")
