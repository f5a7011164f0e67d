"""Deduplication operators for training-data pipelines.

Five strategies, scale-ranked:
  * exact_dedup          — hash-groupBy on content; one shuffle.
  * fuzzy_window_pairs   — the reference's look-ahead-k Levenshtein scan
                           (deduplicate_rants.py:12-21 semantics) as a window.
  * ngram_jaccard_pairs  — exact char-shingle Jaccard via shingle self-join;
                           hot shingles capped by document frequency (classic
                           "stop-shingle" cut) so the join can't quadratically
                           explode on boilerplate.
  * minhash_lsh_pairs    — MinHash signatures (vectorized numpy, universal
                           hashing over crc32 shingle hashes) → banded LSH
                           buckets → candidate pairs → EXACT Jaccard verify,
                           so precision is 1.0 and only recall depends on
                           (num_perm, bands).
  * simhash_pairs        — 64-bit SimHash over token crc32s → 4x16-bit band
                           blocking → exact Hamming verify.

All hashing is seeded/deterministic (crc32 + fixed LCG coefficients) — no
PYTHONHASHSEED dependence, identical across executors and runs.

Scale notes: every strategy is groupBy/join-shaped (no driver collection);
candidate verification joins text in only for candidate pairs (a tiny
fraction of the corpus); bucket keys are content hashes so skew only arises
from true duplicate floods, which AQE skew-join splitting absorbs.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_int
from ..pinning import PinScope
from ..pinning import pin as _pin

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Survivor set: min id per distinct content."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _ratio_col(a, b, mode: str):
    """Similarity-ratio column in [0,100] from Spark's unit-cost levenshtein.

    * ``maxlen`` (engine default): 100·(1 - dist/max(la, lb)) — documented
      deterministic stand-in.
    * ``fuzz``: 100·(la + lb - dist)/(la + lb) — the fuzzywuzzy fuzz.ratio
      formula (deduplicate_rants.py:17).  NOTE python-Levenshtein computes
      dist with substitution cost 2, so near the threshold this unit-cost
      variant reads slightly HIGHER than fuzzywuzzy for substitution-heavy
      pairs (documented divergence; README).
    """
    return _ratio_of(F.levenshtein(a, b), F.length(a), F.length(b), mode)


def _ratio_of(dist, la, lb, mode: str):
    """:func:`_ratio_col` from an edit distance and the two lengths — one
    arithmetic for the ratio and its length bound, so the bound (dist :=
    |la - lb|) is never below the ratio by a float rounding step."""
    if mode == "fuzz":
        # floor the length sum in BOTH numerator and denominator so two
        # empty strings score 100.0 (dist=0), matching _lev_ratio — flooring
        # only the denominator would score the all-empty edge 0.0
        lsum = F.greatest(la + lb, F.lit(1))
        return 100.0 * (lsum - dist) / lsum
    if mode == "maxlen":
        return 100.0 * (1.0 - dist / F.greatest(la, lb, F.lit(1)))
    raise ValueError(f"unknown ratio mode {mode!r}")


def fuzzy_window_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_col: str,
    partition_col: str | None = None,
    lookahead: int = 3,
    threshold: float | None = 90.0,
    ratio_mode: str = "maxlen",
    rebalance: bool = True,
) -> DataFrame:
    """Reference-shaped near-dup scan: each row vs the next ``lookahead`` rows
    in ``order_col`` order, Levenshtein similarity ratio > threshold
    (``threshold=None`` emits every candidate pair with its ratio).
    ``ratio_mode``: see :func:`_ratio_col` ('fuzz' = reference formula).

    Physical shape (the part that matters at 100 TB): ONE window pass
    computes all ``lookahead`` (lead id, lead text) pairs, explodes them,
    and — when ``rebalance`` — round-robin repartitions the candidate pairs
    BEFORE the O(len_a*len_b) Levenshtein expression.  The window's
    parallelism is bounded by #distinct ``partition_col`` values (a corpus
    with 20 source files gives 20 tasks no matter how many executors);
    without the rebalance the quadratic string work inherits that bound.
    Shuffling the pair rows costs ~2x the text bytes and bought a measured
    3.9x on sf0.1/local[32] (4.4s -> 1.1s, 20 sources); at a 1000-executor
    cluster the gap is the difference between using 20 cores and all of
    them.  With a ``threshold``, pairs whose length difference alone already
    caps the ratio at or below it are dropped before the rebalance: an
    exact prefilter (the kept set is unchanged) that spares the shuffle and
    the Levenshtein for them.

    Scale note: pass ``partition_col`` (the reference scans per source
    file).  ``partition_col=None`` reproduces a single global ordered scan —
    inherently one sort partition, kept only for exact small-input parity
    (the ratio still computes post-rebalance)."""
    w = (
        Window.partitionBy(partition_col).orderBy(order_col)
        if partition_col
        else Window.orderBy(order_col)
    )
    ks = range(1, lookahead + 1)
    leads = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        *[F.lead(id_col, k).over(w).alias(f"__d{k}") for k in ks],
        *[F.lead(text_col, k).over(w).alias(f"__t{k}") for k in ks],
    )
    cand = F.array(
        *[
            F.struct(F.col(f"__d{k}").alias("dup_id"), F.col(f"__t{k}").alias("cand"))
            for k in ks
        ]
    )
    pairs = (
        leads.select("doc_id", "__text", F.explode(cand).alias("c"))
        .filter(F.col("c.dup_id").isNotNull())
    )
    if threshold is not None:
        # exact length prefilter: dist >= |la - lb|, and the ratio falls as
        # dist grows, so the ratio at dist = |la - lb| bounds it from above
        # and round() keeps the order — a pair whose rounded bound already
        # fails the threshold fails it after the Levenshtein too
        la, lb = F.length("__text"), F.length("c.cand")
        bound = _ratio_of(F.abs(la - lb), la, lb, ratio_mode)
        pairs = pairs.filter(F.round(bound, 2) > threshold)
    if rebalance:
        # defaultParallelism, not int(spark.sql.shuffle.partitions): the
        # conf can be non-numeric ("auto" under AQE-managed runtimes), and
        # this matches the minhash/simhash rebalance idiom
        pairs = pairs.repartition(df.sparkSession.sparkContext.defaultParallelism)
    ratio = _ratio_col(F.col("__text"), F.col("c.cand"), ratio_mode)
    out = pairs.select(
        "doc_id", F.col("c.dup_id").alias("dup_id"), F.round(ratio, 2).alias("ratio")
    )
    return out if threshold is None else out.filter(F.col("ratio") > threshold)


def _lev_ratio(a: str, b: str, mode: str = "maxlen") -> float:
    """Levenshtein similarity ratio in [0,100], matching :func:`_ratio_col`.

    ``maxlen``: 100·(1 - dist/max(la, lb)) (unit-cost dist).
    ``fuzz``: 100·(la + lb - dist2)/(la + lb) with SUBSTITUTION COST 2 —
    exactly python-Levenshtein's ``ratio`` (what fuzzywuzzy fuzz.ratio
    calls, deduplicate_rants.py:17), before fuzzywuzzy's int rounding.
    """
    a = a or ""
    b = b or ""
    sub_cost = 2 if mode == "fuzz" else 1
    # O(len*len) DP — fine for the short-window comparisons this feeds
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (sub_cost if ca != cb else 0))
            )
        prev = cur
    if mode == "fuzz":
        lsum = max(len(a) + len(b), 1)
        return 100.0 * (lsum - prev[-1]) / lsum
    return 100.0 * (1.0 - prev[-1] / max(len(a), len(b), 1))


def fuzzy_window_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_col: str,
    partition_col: str,
    lookahead: int = 3,
    threshold: float = 90.0,
    min_length: int | None = 50,
    ratio_mode: str = "maxlen",
) -> DataFrame:
    """EXACT reference dedup semantics (deduplicate_rants.py:7-31): walk rows
    in order; for each surviving row, mark as duplicates any of the next
    ``lookahead`` not-yet-marked rows whose similarity ratio exceeds the
    threshold; survivors shorter than ``min_length`` are then dropped
    (deduplicate_rants.py:28).

    The queue walk is order-chained (a row marked dup is skipped as a later
    comparison anchor), so unlike :func:`fuzzy_window_pairs` a dup-of-a-dup
    SURVIVES.  Sequential per partition key → applyInPandas per
    ``partition_col`` group; ratio = :func:`_lev_ratio` (default 'maxlen'
    stand-in; ``ratio_mode='fuzz'`` gives exact python-Levenshtein
    fuzz.ratio parity with substitution cost 2).
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", df.schema[id_col].dataType, False),
            T.StructField("text", T.StringType(), True),
        ]
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        texts = pdf[text_col].tolist()
        n = len(texts)
        dropped = set()
        kept = []
        for i in range(n):
            if i in dropped:
                continue
            kept.append(i)
            for j in range(i + 1, min(i + 1 + lookahead, n)):
                if j in dropped:
                    continue
                if _lev_ratio(texts[i], texts[j], ratio_mode) > threshold:
                    dropped.add(j)
        out = pdf.iloc[kept][[id_col, text_col]].rename(
            columns={id_col: "doc_id", text_col: "text"}
        )
        if min_length is not None:
            out = out[out["text"].str.len() > min_length]
        return out

    cols = list(dict.fromkeys([id_col, text_col, order_col, partition_col]))
    return (
        df.select(*cols)
        .groupBy(partition_col)
        .applyInPandas(lambda pdf: walk(pdf), schema=out_schema)
    )


# ---------------------------------------------------------------------------
# char-shingle helpers
# ---------------------------------------------------------------------------


def _shingles_df(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """(id, shingle) distinct pairs; optionally drop shingles appearing in
    more than ``max_shingle_df`` docs (stop-shingle cut for join safety).

    JVM-side: sequence of start offsets → substr via transform."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))
                    ),
                    lambda i: F.col(text_col).substr(i, F.lit(n)),
                )
            )
        ).alias("shingle"),
    ).filter(F.length("shingle") > 0)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("sdf"))
            .filter(F.col("sdf") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact char-n-gram Jaccard ≥ threshold via distinct-shingle self-join."""
    sh = _shingles_df(df, id_col, text_col, n, max_shingle_df).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("dup_id"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("dup_id"), F.col("sz").alias("sz_b"))
    out = (
        common.join(sa, "doc_id")
        .join(sb, "dup_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "dup_id", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_coeffs(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def _mulmod_m61(a: np.ndarray, h: np.ndarray) -> np.ndarray:
    """EXACT (a * h) mod 2^61-1 in uint64 numpy (broadcasting), for
    a < 2^61 and h < 2^32 — no 64-bit wraparound.

    Split a = a_hi·2^32 + a_lo:
      a_lo·h < 2^64 fits u64 → fold (x & M) + (x >> 61);
      t = a_hi·h < 2^61 fits; with t = u·2^29 + v,
      t·2^32 = u·2^61 + v·2^32 ≡ u + v·2^32 (mod M) since 2^61 ≡ 1.
    """
    M = np.uint64(_MERSENNE)
    a = np.asarray(a, dtype=np.uint64)
    h = np.asarray(h, dtype=np.uint64)
    a_hi = a >> np.uint64(32)
    a_lo = a & np.uint64(0xFFFFFFFF)
    lo = a_lo * h  # < 2^64, exact
    lo = (lo & M) + (lo >> np.uint64(61))
    t = a_hi * h  # < 2^61, exact
    u = t >> np.uint64(29)
    v = t & np.uint64((1 << 29) - 1)
    hi = u + (v << np.uint64(32))  # < 2^32 + 2^61
    out = lo + hi  # < 2^63
    out = (out & M) + (out >> np.uint64(61))
    return np.where(out >= M, out - M, out)


def _char_shingle_hashes(text: str, n: int) -> np.ndarray:
    if not isinstance(text, str) or len(text) == 0:
        return np.empty(0, dtype=np.uint64)
    m = max(len(text) - n + 1, 1)
    hs = {zlib.crc32(text[i : i + n].encode("utf-8")) for i in range(m)}
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def _word_shingle_hashes(text: str, n: int) -> np.ndarray:
    """crc32 over space-joined word n-grams.  For corpora whose texts draw
    from a small vocabulary, char shingle SETS nearly coincide across
    unrelated docs (the sf `documents` table: measured 8.7M LSH candidates
    from 4,750 docs at char n=3); word shingles keep the space
    discriminative."""
    if not isinstance(text, str) or not text:
        return np.empty(0, dtype=np.uint64)
    toks = text.lower().split()
    if not toks:
        return np.empty(0, dtype=np.uint64)
    m = max(len(toks) - n + 1, 1)
    hs = {
        zlib.crc32(" ".join(toks[i : i + n]).encode("utf-8")) for i in range(m)
    }
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
    unit: str = "char",
) -> DataFrame:
    """(id, signature:array<bigint>) — vectorized universal min-hash over
    crc32 shingle hashes (unit='char'|'word'), one Arrow pass."""
    shingle = _char_shingle_hashes if unit == "char" else _word_shingle_hashes
    a, b = _minhash_coeffs(num_perm, seed)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", df.schema[id_col].dataType, False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                hs = shingle(text, n)
                if hs.size == 0:
                    sigs.append(np.full(num_perm, np.iinfo(np.int64).max).tolist())
                    continue
                # (a*h + b) mod p EXACTLY (no u64 wraparound — _mulmod_m61),
                # min over shingles, per permutation: a true universal hash
                # family so the banded candidate probability 1-(1-j^r)^b holds
                vals = _mulmod_m61(a[:, None], hs[None, :]) + b[:, None]
                M = np.uint64(_MERSENNE)
                vals = np.where(vals >= M, vals - M, vals)
                sigs.append(vals.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf[id_col], "signature": sigs})

    src = df.select(id_col, text_col)
    # the Arrow pass must not inherit a coalesced upstream distribution
    # (e.g. an AQE-shrunk join output): give the per-doc crc32+minhash
    # compute cluster-wide parallelism (same discipline as the fuzzy-window
    # rebalance, BENCH/BASELINE.md round 3).  Streaming frames have no
    # .rdd; their parallelism comes from the source, so skip the probe.
    if not df.isStreaming:
        p = df.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < p:
            src = src.repartition(p)
    return src.mapInPandas(compute, schema=out_schema)


def band_buckets(
    sigs: DataFrame, bands: int, r: int, keep_signature: bool = False
) -> DataFrame:
    """Explode a (doc_id, signature) frame into (doc_id, band, bucket) —
    bucket = xxhash64 of the band's r-row signature slice, salted by the
    band index so identical slices in different bands never collide.
    Shared by the batch LSH self-join and the streaming stateful dedup
    (which also carries the full signature into the bucket state)."""
    cols = ["doc_id", "signature"] if keep_signature else ["doc_id"]
    out = sigs.select(
        *cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.slice(F.col("signature"), bi * r + 1, r),
            )
        ).alias("band", "band_sig"),
    )
    return out.select(
        *cols,
        "band",
        F.xxhash64(F.col("band_sig").cast("string"), F.col("band")).alias("bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    unit: str = "char",
    est_margin: float = 0.15,
    pins: "PinScope | None" = None,
) -> DataFrame:
    """Near-duplicate pairs within `df`: (doc_id, dup_id, jaccard) with
    doc_id < dup_id and EXACT shingle Jaccard >= threshold.  Precision is
    1.0; at bands=16, num_perm=64 (r=4) a pair at jaccard j is a candidate
    with probability 1-(1-j^4)^16 (≈0.99 at j=0.8).

    `unit`: 'char' shingles, or 'word' for small-vocabulary corpora where
    char shingle sets coincide (see _word_shingle_hashes).  `est_margin`:
    candidates whose signature-agreement estimate is below threshold −
    est_margin never reach the text verify; the estimate's std at 0.8/64
    is ≈0.05, so the default is 3σ.

    `_lsh_pairs` with every row new and no old side: char units with
    integral ids run the per-bucket est-kernel (char buckets flood on small
    vocabularies), everything else the banded self-join.
    """
    sigs = _pin(
        minhash_signatures(df, id_col, text_col, n, num_perm, seed, unit=unit), pins
    )
    return _lsh_pairs(
        sigs, None, None, _doc_texts(df, id_col, text_col),
        n, num_perm, bands, threshold, unit, est_margin, pins,
    )


def minhash_lsh_pairs_incremental(
    new: DataFrame,
    old: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    unit: str = "char",
    est_margin: float = 0.15,
    pins: "PinScope | None" = None,
    old_sigs: DataFrame | None = None,
    old_banded: DataFrame | None = None,
) -> DataFrame:
    """minhash_lsh_pairs over new ∪ old restricted to the pairs TOUCHING
    `new` (new×new and new×old, never old×old): a daily shard against an
    already-deduped standing corpus.  Output ≡ the full operator's pairs
    filtered to those touching `new`.  Ids must be unique across both
    frames.  Candidate mass per bucket is |new_b|·|all_b|, linear in the
    shard; `old` texts are read only by the verify join.

    `old_sigs`: persisted minhash_signatures(old, ...) with the SAME (n,
    num_perm, seed, unit) — skips the standing corpus's signature pass.
    `old_banded` (requires `old_sigs`): the banding stored by
    `write_neardup_store`, bucketed by (band, bucket): the shard joins it
    without re-banding, the store side never shuffles, and untouched store
    buckets are semi-joined away first.

    `_lsh_pairs` with the old side: a stored banding runs the banded join;
    otherwise char units with integral ids run the per-bucket est-kernel
    and everything else the banded join (word buckets are sparse).
    """
    if old_banded is not None and old_sigs is None:
        raise ValueError(
            "old_banded requires old_sigs: the estimate filter needs the "
            "standing signatures, and recomputing them would defeat the "
            "stored layout"
        )

    def sigs_of(d: DataFrame) -> DataFrame:
        sigs = minhash_signatures(d, id_col, text_col, n, num_perm, seed, unit=unit)
        return _pin(sigs, pins)

    sigs_new = sigs_of(new)
    sigs_old = old_sigs if old_sigs is not None else sigs_of(old)
    texts = _doc_texts(new, id_col, text_col).unionByName(
        _doc_texts(old, id_col, text_col)
    )
    return _lsh_pairs(
        sigs_new, sigs_old, old_banded, texts,
        n, num_perm, bands, threshold, unit, est_margin, pins,
    )


def _doc_texts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))


_INTEGRAL_ID_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _lsh_pairs(
    sigs_new: DataFrame, sigs_old: DataFrame | None,
    banded_old: DataFrame | None, texts: DataFrame, n: int, num_perm: int,
    bands: int, threshold: float, unit: str, est_margin: float,
    pins: "PinScope | None",
) -> DataFrame:
    """The MinHash-LSH pair engine behind both public operators: the pairs
    (new×new with doc_id < dup_id) ∪ (new×old) that share a band bucket,
    whose signature-agreement estimate is >= threshold − est_margin and
    whose exact Jaccard over `texts` (doc_id, __text) is >= threshold.

    Two candidate strategies with identical pair sets:
      * est-kernel (`_est_passing_pairs`): colocates each bucket's members
        with their signatures and emits only est-passing pairs, so the
        |bucket|² candidate mass never materializes — the win where char
        shingles flood buckets.  Needs integral ids; shuffles every banded
        row's signature.
      * banded join + JVM estimate: skinny (doc_id, band, bucket) rows,
        cheaper on sparse word-shingle buckets, and the only one that reads
        a stored bucketed banding without shuffling it.
    """
    assert num_perm % bands == 0
    r = num_perm // bands
    cut = threshold - est_margin
    id_type = sigs_new.schema["doc_id"].dataType
    integral_ids = isinstance(id_type, _INTEGRAL_ID_TYPES)
    if banded_old is None and unit == "char" and integral_ids:
        def tagged(sigs: DataFrame, is_new: bool) -> DataFrame:
            banded = band_buckets(sigs, bands, r, keep_signature=True)
            return banded.withColumn("_new", F.lit(is_new))

        banded = tagged(sigs_new, True)
        if sigs_old is not None:
            banded = banded.unionByName(tagged(sigs_old, False))
        cands = _est_passing_pairs(banded, num_perm, cut, id_type)
    else:
        # persist: the joins read `banded_new` more than once, and
        # broadcast/shuffle sides don't share an Exchange — unpinned, the
        # signature Arrow pass would run twice
        banded_new = _pin(band_buckets(sigs_new, bands, r), pins)
        l = banded_new.alias("l")
        same_bucket = (F.col("l.band") == F.col("r.band")) & (
            F.col("l.bucket") == F.col("r.bucket")
        )
        cands = l.join(
            banded_new.alias("r"),
            same_bucket & (F.col("l.doc_id") < F.col("r.doc_id")),
        ).select(F.col("l.doc_id").alias("doc_id"), F.col("r.doc_id").alias("dup_id"))
        if sigs_old is not None:
            if banded_old is None:
                banded_old = band_buckets(sigs_old, bands, r)
            touched = banded_new.select("band", "bucket").distinct()
            banded_old = banded_old.join(
                F.broadcast(touched), ["band", "bucket"], "left_semi"
            )
            # its own join, not new×(new ∪ old): a union would drop a stored
            # banding's bucketed distribution and shuffle the whole store
            new_old = (
                l.join(banded_old.alias("r"), same_bucket)
                .filter(F.col("l.doc_id") != F.col("r.doc_id"))
                .select(
                    F.least("l.doc_id", "r.doc_id").alias("doc_id"),
                    F.greatest("l.doc_id", "r.doc_id").alias("dup_id"),
                )
            )
            cands = new_old.unionByName(cands)
        sigs = sigs_new if sigs_old is None else sigs_new.unionByName(sigs_old)
        agree = F.aggregate(
            F.zip_with("a", "b", lambda x, y: (x == y).cast("int")),
            F.lit(0), lambda acc, v: acc + v,
        )
        cands = (
            _with_both_sides(cands.distinct(), sigs, "signature")
            .filter(agree / F.lit(float(num_perm)) >= cut)
            .select("doc_id", "dup_id")
        )
    jaccard_udf = _exact_jaccard_udf(unit, n)
    return (
        _with_both_sides(cands, texts, "__text")
        .withColumn("jaccard", jaccard_udf("a", "b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "dup_id", "jaccard")
    )


def _with_both_sides(pairs: DataFrame, side: DataFrame, col: str) -> DataFrame:
    """(doc_id, dup_id, a, b): each pair with `side`'s `col` for doc_id (a)
    and for dup_id (b).  The SAME `side` plan is joined under two aliases,
    so both broadcasts canonicalize alike and the second is a
    ReusedExchange: `side` is scanned once.  A renamed copy (toDF,
    withColumnRenamed) differs in its alias names and plans its own
    broadcast and scan.  A `side` that reads a persisted frame still gets
    two broadcasts: the two cached-scan references keep distinct output
    attribute ids in their canonical form."""
    return (
        pairs.alias("p")
        .join(side.alias("sa"), F.col("p.doc_id") == F.col("sa.doc_id"))
        .join(side.alias("sb"), F.col("p.dup_id") == F.col("sb.doc_id"))
        .select(
            "p.doc_id", "p.dup_id",
            F.col(f"sa.{col}").alias("a"), F.col(f"sb.{col}").alias("b"),
        )
    )


def _est_passing_pairs_kernel(num_perm: int, cut: float):
    """Arrow kernel over hash-colocated (band, bucket, _salt) groups of
    (doc_id, signature, band, bucket, _new, _salt, _probe) rows: each
    group's PROBE members meet ALL members in one agreement-count matrix,
    emitting the pairs the banded join + estimate filter would keep:

        same (band, bucket) AND (r is old OR l.doc < r.doc) AND l.doc != r.doc
        AND (# equal signature rows)/num_perm >= cut

    The numpy matrix runs the JVM filter's IEEE comparison at memory
    bandwidth (the JVM zip_with fold: ~0.6M estimates/s).  A pair sharing
    k bands is emitted k times — the caller .distinct()s."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf) == 0:
            return
        # ONE list→matrix conversion per partition (per-group conversion
        # measured ~60 s of pure object churn at sf1.0), then per-group
        # work indexes into the matrix.
        M = np.asarray(pdf["signature"].tolist(), dtype=np.int64)
        ids = pdf["doc_id"].to_numpy()
        nw = pdf["_new"].to_numpy(dtype=bool)
        probe = pdf["_probe"].to_numpy(dtype=bool)
        out_a, out_b = [], []
        groups = pdf.groupby(["band", "bucket", "_salt"], sort=False).indices
        for idx in groups.values():
            g_new = idx[probe[idx]]
            if g_new.size == 0:
                continue
            Y, aid, r_new = M[idx], ids[idx], nw[idx]
            X, nid = M[g_new], ids[g_new]
            # small groups: one 3-D broadcast; big groups: chunk the new
            # side so the bool temp stays ~tens of MB
            chunk = max(1, min(len(X), 8_000_000 // (len(Y) * num_perm) + 1))
            for i0 in range(0, len(X), chunk):
                Xc = X[i0 : i0 + chunk]
                lid = nid[i0 : i0 + chunk]
                agree = (Xc[:, None, :] == Y[None, :, :]).sum(
                    axis=2, dtype=np.int16
                )
                # IDENTICAL comparison to the JVM est filter: exact int →
                # double cast, one IEEE division, >= against the same
                # python-float literal
                mask = (agree.astype(np.float64) / num_perm) >= cut
                mask &= (~r_new[None, :]) | (lid[:, None] < aid[None, :])
                mask &= lid[:, None] != aid[None, :]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    a, b = lid[ii], aid[jj]
                    out_a.append(np.minimum(a, b))
                    out_b.append(np.maximum(a, b))
        if out_a:
            yield pd.DataFrame(
                {"doc_id": np.concatenate(out_a), "dup_id": np.concatenate(out_b)}
            )

    return kernel


def _est_passing_pairs(
    banded_s: DataFrame,
    num_perm: int,
    cut: float,
    id_type,
    hot_work: int = 4_000_000,
    max_salt: int = 16,
) -> DataFrame:
    """Salted per-bucket est-passing pair enumeration around the kernel
    over ``banded_s`` (doc_id, signature, band, bucket, _new).  Buckets whose
    probe×member product exceeds ``hot_work`` (at sf1.0 one bucket held 22%
    of all comparisons) replicate their rows across ceil(work/hot_work)
    salts, at most ``max_salt``, while each probe row probes in exactly ONE
    salt — every (probe, partner) pair meets once, the pair set is
    unchanged, and cold buckets (salt 1) replicate nothing."""
    counts = banded_s.groupBy("band", "bucket").agg(
        F.sum(F.when(F.col("_new"), 1).otherwise(0)).alias("_mn"),
        F.count(F.lit(1)).alias("_ma"),
    )
    hot = (
        counts.withColumn("_w", F.col("_mn") * F.col("_ma"))
        .filter(F.col("_w") > hot_work)
        .select(
            "band", "bucket",
            F.least(
                F.lit(max_salt), F.ceil(F.col("_w") / F.lit(hot_work)).cast("int")
            ).alias("_s"),
        )
    )
    b = (
        banded_s.join(F.broadcast(hot), ["band", "bucket"], "left")
        .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
        .select(
            "doc_id", "signature", "band", "bucket", "_new",
            F.explode(F.sequence(F.lit(0), F.col("_s") - 1)).alias("_salt"),
            F.pmod(F.xxhash64(F.col("doc_id")), F.col("_s").cast("bigint"))
            .cast("int")
            .alias("_own"),
        )
        .withColumn("_probe", F.col("_new") & (F.col("_salt") == F.col("_own")))
        .drop("_own")
    )
    pair_schema = T.StructType(
        [T.StructField(c, id_type, False) for c in ("doc_id", "dup_id")]
    )
    p = 2 * banded_s.sparkSession.sparkContext.defaultParallelism
    return (
        b.repartition(p, "band", "bucket", "_salt")
        .mapInPandas(_est_passing_pairs_kernel(num_perm, cut), schema=pair_schema)
        .distinct()
    )


_GRAM_PAD = 0x1FFFFF  # > max unicode codepoint (0x10FFFF): short-string filler


def _exact_jaccard_udf(unit: str, n: int):
    """The LSH engine's Arrow verify stage: exact shingle-set Jaccard,
    rounded to 4 dp (the oracle convention).

    Fast path (unit='char', n<=3): each n-gram is BIJECTIVELY encoded as an
    int64 (n codepoints x 21 bits; positions past a short string's end take
    a pad above the unicode range, so a short string never collides with a
    full gram).  Both paths memoize each doc's shingles per task: a doc
    appears in many candidate pairs (rebuilding per pair cost 31 s for 3.4M
    pairs at sf1.0)."""

    char_fast = unit == "char" and n <= 3

    def _shingle_set(x: str):
        if not isinstance(x, str) or not x:
            return set()
        if unit == "char":
            return {x[i : i + n] for i in range(max(len(x) - n + 1, 1))}
        toks = x.lower().split()
        if not toks:
            return set()
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}

    def _char_codes(x: str) -> np.ndarray:
        if not isinstance(x, str) or not x:
            return np.empty(0, dtype=np.int64)
        cp = np.frombuffer(x.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        if len(cp) < n:
            cp = np.concatenate(
                [cp, np.full(n - len(cp), _GRAM_PAD, dtype=np.int64)]
            )
        w = np.lib.stride_tricks.sliding_window_view(cp, n)
        code = w[:, 0]
        for k in range(1, n):
            code = (code << 21) | w[:, k]
        return np.unique(code)

    @F.pandas_udf(T.DoubleType())
    def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        cache: dict = {}

        def memo(x, build):
            s = cache.get(x)
            if s is None:
                if len(cache) > 65536:
                    cache.clear()
                s = cache[x] = build(x)
            return s

        if char_fast:
            def j(x, y):
                cx = memo(x, _char_codes)
                cy = memo(y, _char_codes)
                if not len(cx) and not len(cy):
                    return 1.0
                inter = np.intersect1d(cx, cy, assume_unique=True).size
                u = len(cx) + len(cy) - inter
                return inter / u if u else 0.0
        else:
            def j(x, y):
                sx = memo(x, _shingle_set)
                sy = memo(y, _shingle_set)
                if not sx and not sy:
                    return 1.0
                u = len(sx | sy)
                return len(sx & sy) / u if u else 0.0

        return pd.Series([round(j(x, y), 4) for x, y in zip(a, b)])

    # the callers FILTER on the UDF output column: without this the
    # optimizer pushes the filter below the projection and evaluates the
    # UDF twice per pair (two ArrowEvalPython nodes — guide §4.4; measured
    # 12.8 s single-eval vs 42 s through the filter+project plan at sf1.0)
    return jaccard_udf.asNondeterministic()


# ---------------------------------------------------------------------------
# Persisted near-dup signature store (the standing-corpus layout)
# ---------------------------------------------------------------------------

NEARDUP_BUCKETS = 32  # the store's default bucket count


def _write_store(
    sigs: DataFrame,
    banded: DataFrame,
    table_prefix: str,
    n_buckets: int,
    path: str | None,
    suffix: str = "",
    mode: str = "overwrite",
) -> None:
    """The store's one writer: `sigs` as the plain table
    {prefix}_sigs, `banded` bucketed by (band, bucket) as {prefix}_banded,
    external under `path` (as sigs{suffix} and banded{suffix}) when given."""
    from ..sources.tables import write_bucketed

    w = sigs.write.mode(mode).format("parquet")
    if path:
        w = w.option("path", f"{path}/sigs{suffix}")
    w.saveAsTable(f"{table_prefix}_sigs")
    write_bucketed(
        banded,
        f"{table_prefix}_banded",
        ["band", "bucket"],
        n_buckets,
        sort_cols=["band", "bucket"],
        path=(f"{path}/banded{suffix}" if path else None),
        mode=mode,
    )


def write_neardup_store(
    sigs: DataFrame,
    table_prefix: str,
    bands: int = 16,
    num_perm: int = 64,
    n_buckets: int = NEARDUP_BUCKETS,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a standing corpus's minhash signatures in the layout the
    daily-shard regime wants, as two catalog tables:

      {prefix}_sigs    (doc_id, signature)        plain parquet
      {prefix}_banded  (doc_id, band, bucket)     bucketed by (band, bucket)

    The banded table is the standing corpus's LSH banding computed ONCE at
    backfill: each arriving shard joins it directly (see
    minhash_lsh_pairs_incremental's `old_banded`), so the per-shard cost
    stops carrying the O(standing) explode+hash re-banding, and the store
    side of the candidate join never shuffles (its scan's bucketing IS the
    join distribution).  The sigs table feeds the estimate filter, joined
    on doc_id against the broadcast-small candidate sliver — a doc_id
    bucketing would never be exploited there, so the table is plain.

    `bands`/`num_perm` must match the incremental call's parameters
    (banding is parameter-determined); `n_buckets` sizes a bucket at
    roughly one executor-task's worth of rows at target scale — at 100 TB
    / ~1e11 docs × 16 band rows each, tens of thousands of buckets.
    `mode="append"` adds a shard's rows to both tables (Spark validates
    the bucket spec matches the existing tables); `append_neardup_store`
    wraps that with the banding derivation.  Bucketed writes go through
    `tables.write_bucketed`, which clusters rows by bucket id first, so a
    write adds at most `n_buckets` banded files whatever the shard's
    partitioning.
    """
    assert num_perm % bands == 0
    _write_store(
        sigs,
        band_buckets(sigs, bands, num_perm // bands),
        table_prefix,
        n_buckets,
        path,
        mode=mode,
    )


def append_neardup_store(
    shard_sigs: DataFrame,
    table_prefix: str,
    bands: int = 16,
    num_perm: int = 64,
    n_buckets: int = NEARDUP_BUCKETS,
) -> None:
    """Append a processed shard's signatures (and their banding) to an
    existing neardup store — the amortized daily loop: dedup the shard
    against the store, then fold it in so the NEXT shard sees it as
    standing.  Each document is shingled exactly once in its lifetime."""
    write_neardup_store(
        shard_sigs,
        table_prefix,
        bands=bands,
        num_perm=num_perm,
        n_buckets=n_buckets,
        mode="append",
    )


def read_neardup_store(
    spark, table_prefix: str
) -> tuple[DataFrame, DataFrame]:
    """(sigs, banded) with bucket metadata intact — must go through the
    catalog (spark.table); a plain parquet read of the same files would
    forget the bucketing and reintroduce the store-side shuffle."""
    return (
        spark.table(f"{table_prefix}_sigs"),
        spark.table(f"{table_prefix}_banded"),
    )


def compact_neardup_store(
    spark, table_prefix: str, n_buckets: int = NEARDUP_BUCKETS
) -> None:
    """Rewrite the store in place, collapsing append debris: each append
    adds up to n_buckets banded files and a sigs file per write task, so
    after many shards the scans pay file-open overhead proportional to
    append COUNT, not data size; the rewrite merges them into at most
    n_buckets banded files.  Run this on the maintenance cadence a real
    pipeline would (e.g. weekly for daily shards).  The rewrite stages
    through temp tables then swaps, so a concurrent reader of the old
    tables in the same session sees either the old or the new listing, and
    the banding is REUSED from the stored table — documents are not
    re-banded.  The superseded data directories are left on disk (their
    tables are dropped); reclaim them with the storage layer's GC — the
    function cannot know whether another engine still reads them."""
    import uuid

    sigs, banded = read_neardup_store(spark, table_prefix)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table_prefix}_sigs")
        .filter(F.col("col_name") == "Location")
        .collect()
    )
    # derive the external base dir ONLY from write_neardup_store's layout
    # (.../sigs); a managed table's location is its own table dir, which
    # DROP TABLE deletes — writing the compacted data inside it would
    # destroy the new files along with the old table
    base = (
        loc[0]["data_type"][: -len("/sigs")]
        if loc and loc[0]["data_type"].endswith("/sigs")
        else None
    )
    gen = uuid.uuid4().hex[:8]
    tmp = f"{table_prefix}_compact_{gen}"
    _write_store(sigs, banded, tmp, n_buckets, base, suffix=f"_{gen}")
    for suffix in ("sigs", "banded"):
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_{suffix}")
        spark.sql(
            f"ALTER TABLE {tmp}_{suffix} RENAME TO {table_prefix}_{suffix}"
        )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, token_re: str = "[^a-z0-9]+"
) -> DataFrame:
    """(id, simhash:bigint) — 64-bit SimHash over md5-derived token hashes,
    tf-weighted, computed ENTIRELY JVM-side: explode tokens, take the first
    16 hex chars of md5(token) as two 32-bit halves, accumulate 64 per-bit
    ±1 sums in one map-side-combinable groupBy, reassemble the sign bits
    into a signed 64-bit value.  No Arrow pass (the former mapInPandas
    version shipped every text through Python); md5 is available verbatim
    in DuckDB, so the operator carries a full value-level oracle.

    Zero-token docs keep signature 0 (the explode drops them; a left join
    against the distinct ids restores them) — so exact-empty docs still
    pair with each other at hamming 0."""
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), token_re), lambda t: t != ""
            )
        ).alias("tok"),
    ).select(
        "doc_id",
        md5_int("tok").alias("hi"),
        md5_int("tok", 9).alias("lo"),
    )

    def bit(i: int):
        src = F.col("lo") if i < 32 else F.col("hi")
        return F.shiftright(src, i % 32).bitwiseAND(F.lit(1))

    acc = toks.groupBy("doc_id").agg(
        *[F.sum(bit(i) * 2 - F.lit(1)).alias(f"a{i}") for i in range(64)]
    )
    terms = [
        F.when(F.col(f"a{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(63)
    ] + [
        F.when(F.col("a63") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    ]
    sig = acc.select(
        "doc_id", sum(terms[1:], terms[0]).alias("simhash")
    )
    return ids.join(sig, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    pins: "PinScope | None" = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, blocked on four
    16-bit bands.  Pigeonhole: any pair within distance 3 differs in at
    most 3 of the 4 bands, so it SHARES at least one — recall is exactly 1
    for max_hamming <= 3 (pinned against a brute-force all-pairs oracle in
    tests/test_dedup_similarity.py); above 3 the blocking is approximate."""
    sigs = _pin(simhash_signatures(df, id_col, text_col), pins)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    l = banded.alias("l")
    rt = banded.alias("r")
    cands = (
        l.join(rt, (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key")))
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("dup_id"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id", "dup_id", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _lsh_tables_for_recall(threshold: float, n_planes: int, target_recall: float) -> int:
    """Number of independent hyperplane tables so that a pair at exactly
    ``threshold`` cosine is recalled with probability >= target_recall.

    Per plane, P(same sign) = 1 - theta/pi with theta = arccos(threshold);
    per table of r planes the pair collides with p^r; over b independent
    tables recall = 1 - (1 - p^r)^b, so b = ceil(ln(1-R)/ln(1-p^r)).
    """
    import math

    theta = math.acos(max(min(threshold, 1.0), -1.0))
    p = 1.0 - theta / math.pi
    p_r = p**n_planes
    if p_r >= 1.0:
        return 1
    if p_r <= 0.0:
        raise ValueError(f"n_planes={n_planes} too high for threshold={threshold}")
    # UNCAPPED analytic count: the caller (embedding_neardup_pairs) enforces
    # its table budget by REDUCING planes, never by capping tables — a
    # silent cap here would quietly trade away target_recall
    return max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_r)))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    target_bucket_rows: int | None = 128,
    n_tables: int | None = None,
    target_recall: float = 0.95,
    dim: int | None = None,
    pins: "PinScope | None" = None,
) -> DataFrame:
    """Cosine >= threshold pairs via MULTI-TABLE random-hyperplane blocking +
    exact verify (JVM-side dot products).  Fuzzy-dedup threshold semantics of
    the reference (deduplicate_rants.py:12-21) generalized to embeddings.

    Blocking: ``n_tables`` independent plane sets (same pattern as
    similarity.lsh_topk); a pair is a candidate if it shares a bucket in ANY
    table, so recall at cosine c is 1-(1-p^r)^b with p = 1-arccos(c)/pi and
    r = n_planes per table.  A SINGLE table's recall is p^r — at threshold
    0.95, r=16 that's ~18% (and falls as r rises), which is why single-table
    blocking is a recall cliff, not a tuning knob.  ``n_tables=None``
    derives b analytically so a pair at exactly ``threshold`` is recalled
    with >= ``target_recall`` probability (recall above threshold is higher;
    pinned by a perturbed-vector pytest fixture, not just identical dups).

    ``target_bucket_rows`` scales PER-TABLE planes with the corpus so the
    within-bucket self-join stays linear: r = max(n_planes,
    ceil(log2(n/target))) capped at 30 (2^12 buckets over 10^9 rows would be
    ~244k rows/bucket → ~3e10 candidate pairs per bucket); the auto table
    count then RISES to hold target_recall — occupancy is bought with more
    tables, never with silently dropped true pairs; if holding
    ``target_recall`` would need more than 64 tables, PLANES are walked
    back down until the budget fits (occupancy degrades, recall does not).
    The sizing count is a parquet count-pushdown scan (reads no column
    data).  The DEFAULT is 128 (not None): a fixed r=8 means 2^8 buckets
    at ANY corpus size — at 333k vectors that is ~1,300 rows/bucket ×
    ~10 tables ≈ 10^10 exact-verify dot products (measured hang); below
    ~32k rows log2(n/128) <= 8, so small-corpus outputs are unchanged.
    Pass ``target_bucket_rows=None`` to pin r = n_planes exactly.

    Precision is 1.0 by construction: every candidate is exact-verified.
    Candidates are deduped as id PAIRS before vectors are re-joined, so the
    cross-table distinct never shuffles vector payloads.
    """
    import math

    from .similarity import cosine_expr, with_hyperplane_bucket

    # persist: every table's bucketing plus both verify-joins read `d` —
    # without pinning, the upstream lineage re-executes n_tables+2 times
    d = _pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
        ),
        pins,
    )
    if target_bucket_rows:
        # count the PINNED projection, not the raw input: the count then
        # materializes the cache every later table/verify pass reads,
        # instead of executing the full upstream plan a second time with
        # nothing persisted (CacheManager matches analyzed plans — df's
        # plan differs from d's, so `df.count()` would never hit the pin;
        # ADVICE r7)
        n = d.count()
        n_planes = max(
            n_planes, min(30, math.ceil(math.log2(max(n / target_bucket_rows, 1.0))))
        )
    if n_tables is None:
        # table budget 64: walk planes DOWN (raising per-table recall) until
        # the analytic table count fits — recall holds, occupancy degrades
        while (
            _lsh_tables_for_recall(threshold, n_planes, target_recall) > 64
            and n_planes > 1
        ):
            n_planes -= 1
        n_tables = min(_lsh_tables_for_recall(threshold, n_planes, target_recall), 64)
    if dim is None:
        # one driver job to pin the dimension, not one per table.  Pass
        # `dim` when the frame's lineage is expensive (e.g. a curation
        # pipeline suffix): this .first() executes the whole upstream plan
        # at CONSTRUCTION time otherwise.
        head = d.select("vec").first()
        if head is None:  # empty corpus: no pairs, keep the output schema
            return d.select(
                "doc_id", F.col("doc_id").alias("dup_id"), F.lit(0.0).alias("cosine")
            ).limit(0)
        dim = len(head["vec"])
    cands = None
    for t in range(n_tables):
        b = with_hyperplane_bucket(
            d, "vec", n_planes=n_planes, seed=seed + 1000 * t, dim=dim
        )
        l = b.alias("l")
        rt = b.alias("r")
        c = (
            l.join(rt, F.col("l.bucket") == F.col("r.bucket"))
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(
                F.col("l.doc_id").alias("doc_id"), F.col("r.doc_id").alias("dup_id")
            )
        )
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.distinct()
    va = d.select(F.col("doc_id"), F.col("vec").alias("va"))
    vb = d.select(F.col("doc_id").alias("dup_id"), F.col("vec").alias("vb"))
    return (
        cands.join(va, "doc_id")
        .join(vb, "dup_id")
        .withColumn("cosine", F.round(cosine_expr("va", "vb"), 4))
        .filter(F.col("cosine") >= threshold)
        .select("doc_id", "dup_id", "cosine")
    )
