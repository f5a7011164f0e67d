"""Corpus vectorizers with sklearn-0.16 parity — SURVEY.md §2.5 A1-A4.

The reference's CountVectorizer / TfidfVectorizer calls
(/root/reference/src/generate_dataset_gvsb.py:72-86,
 /root/reference/src/generate_dataset_price.py:104-130) re-expressed as
DataFrame aggregations:

  fit   = explode(ngrams) → groupBy(term){tf=count, df=countDistinct(doc)}
          → df >= min_df → top-max_features by (tf desc, term asc)
          → lexicographic vocabulary index
  tfidf = smooth idf ln((1+n)/(1+df)) + 1, l2 row norm (0.16 defaults)

Deterministic divergence from sklearn (documented, mirrored by golden.py):
tf ties in the max_features cut break by term asc; sklearn 0.16 used an
unstable argsort.  pyspark.ml.feature.CountVectorizer is NOT used because it
orders vocabulary by frequency, not lexicographically — column order would
diverge from DictVectorizer/CountVectorizer parity.

Point-in-time discipline (north_rule): ``cutoff_ts`` restricts the FIT to
rows with ts <= cutoff; transform may run on any rows — the fitted state
never sees the future (models vectorise_text_fit, features.py:239-247).

Scale: fit is two shuffles over exploded terms (partial aggs map-side);
the vocabulary (< max_features rows) broadcasts for transform, so transform
adds one broadcast-join + one groupBy(doc) shuffle.  No driver collection of
corpus-sized data.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.textfeats import analyzer_udf


def _terms(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    tokenizer: str,
    ngram_range,
    stop_words=None,
):
    ana = analyzer_udf(tokenizer, ngram_range, stop_words)
    return df.select(*id_cols, F.explode(ana(F.col(text_col))).alias("term"))


def terms_df(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    tokenizer: str = "rant",
    ngram_range: tuple[int, int] = (1, 1),
    cache: bool = True,
    stop_words: frozenset | None = None,
) -> DataFrame:
    """Tokenize ONCE into an exploded (id..., term) frame shared by fit and
    transform — the tokenize-once discipline that fixes the reference's
    repeated re-tokenization (SURVEY.md §4.1: every sklearn vectorizer
    re-ran MeCab over the full corpus; fit_transform tokenized twice more).
    Pass the result as ``terms`` to fit_vocabulary/transform_counts."""
    out = _terms(
        df, text_col, id_cols or ["conv_id", "turn_idx"], tokenizer, ngram_range, stop_words
    )
    return out.cache() if cache else out


def with_sorted_index(
    df: DataFrame,
    order_cols=("term",),
    out: str = "index",
    base: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a contiguous global index (``base``, ``base``+1, …) in
    ``order_cols`` order WITHOUT a single-partition Window: range-partition
    + sort within partitions, local row_number per physical partition, then
    add per-partition offsets computed from the (tiny, #partitions-sized)
    count vector — the classic distributed zipWithIndex, all JVM-side.

    ``order_cols``: column names or sort expressions (``F.col(c).desc()``
    allowed).  The frame is cached first so the counts job and the index
    job see identical range boundaries / partition ids.
    ``num_partitions``: pass a small value (e.g. 1) when the input is
    bounded-small by contract (a post-limit survivor set) to avoid paying
    32 range-partition tasks for 50 rows; leave None for corpus-sized
    inputs.

    Cache lifecycle: the multi-partition path caches the range-partitioned
    frame and must KEEP it cached for as long as the returned frame lives —
    the range partitioner samples boundaries nondeterministically, so a
    recompute could shift rows across partitions and invalidate the offset
    map.  Callers that are done with the result own the unpersist (e.g.
    ``spark.catalog.clearCache()`` between pipelines); fit_vocabulary's
    vocab cache is deliberately long-lived.
    """
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    range_args = ([num_partitions] if num_partitions else []) + order_exprs
    d = (
        df.repartitionByRange(*range_args)
        .sortWithinPartitions(*order_exprs)
        .withColumn("__pid", F.spark_partition_id())
    )
    if num_partitions == 1:
        # single partition by contract: the offset is trivially ``base`` —
        # no counts job, no cache, still a partitioned (warning-free) window
        wloc = Window.partitionBy("__pid").orderBy(*order_exprs)
        return (
            d.withColumn(out, (F.row_number().over(wloc) - 1 + base).cast("int"))
            .drop("__pid")
        )
    d = d.cache()
    counts = {
        r["__pid"]: r["n"]
        for r in d.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: list[int] = []
    acc = base
    for pid in sorted(counts):
        offsets.extend([pid, acc])
        acc += counts[pid]
    off_map = F.create_map(*[F.lit(x) for x in offsets])
    wloc = Window.partitionBy("__pid").orderBy(*order_exprs)
    return (
        d.withColumn("__r", F.row_number().over(wloc) - 1)
        .withColumn(out, (F.col("__r") + F.element_at(off_map, F.col("__pid"))).cast("int"))
        .drop("__pid", "__r")
    )


def fit_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    tokenizer: str = "rant",
    ngram_range: tuple[int, int] = (1, 1),
    min_df: int = 1,
    max_features: int | None = None,
    cutoff_ts=None,
    ts_col: str = "ts",
    terms: DataFrame | None = None,
    stop_words: frozenset | None = None,
) -> DataFrame:
    """Fit → DataFrame(term, tf, docfreq, index) with lexicographic index.

    ``id_cols`` identify a document for doc-frequency (default
    [conv_id, turn_idx]).  ``cutoff_ts`` makes the fit point-in-time.
    ``terms``: pre-tokenized (id..., term) frame from :func:`terms_df`
    (the tokenize-once path; ignored when cutoff_ts is set, since the
    cutoff filter needs the ts column).

    Scale shape: the max_features cut is orderBy+limit →
    TakeOrderedAndProject (distributed partial top-k; no single-partition
    Window over the full term universe); the lexicographic index applies to
    the bounded survivors, or via the distributed range-partitioned indexer
    when the vocabulary is uncapped; n_docs is observed on the stats job
    instead of a separate count scan.
    """
    from pyspark.sql import Observation

    id_cols = id_cols or ["conv_id", "turn_idx"]
    fit_df = df.filter(F.col(ts_col) <= F.lit(cutoff_ts)) if cutoff_ts is not None else df

    obs = None
    if terms is not None and cutoff_ts is None:
        # pre-tokenized path: n_docs must count ALL fit rows (zero-token
        # docs included, as sklearn's idf does), which the exploded terms
        # frame cannot supply — a separate scan of the SOURCE frame (cheap:
        # parquet count pushdown reads no column data), not of the cache
        n_docs = fit_df.count()
    else:
        # n_docs rides the stats job as an observe() metric — no separate
        # count scan of the fit frame
        obs = Observation("fit_n_docs")
        fit_df = fit_df.observe(obs, F.count(F.lit(1)).alias("n"))
        terms = _terms(fit_df, text_col, id_cols, tokenizer, ngram_range, stop_words)
    # doc-frequency counts distinct id TUPLES directly — no string concat of
    # the ids (a separator-free concat would collide ('conv_1', 23) with
    # ('conv_12', 3) and silently undercount docfreq / skew idf)
    stats = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(*[F.col(c) for c in id_cols]).alias("docfreq"),
    )
    vocab = stats.filter(F.col("docfreq") >= min_df)
    if max_features is not None and max_features > 0:
        # TakeOrderedAndProject: per-partition partial top-k, merged once —
        # never a single-partition global Window over all post-min_df terms
        vocab = vocab.orderBy(F.col("tf").desc(), "term").limit(max_features)
    # lexicographic index via the distributed zipWithIndex (also caches the
    # fitted vocab, so downstream reuse never rescans the corpus); a capped
    # vocab is bounded-small -> few index partitions
    nparts = (
        max(1, max_features // 65536) if max_features is not None and max_features > 0 else None
    )
    vocab = with_sorted_index(vocab, ("term",), "index", num_partitions=nparts)
    if obs is not None:
        if nparts == 1:
            # the single-partition indexer is jobless — materialize the
            # (bounded) vocab once: the ONLY full corpus scan of the fit,
            # which also fills the observation
            vocab = vocab.cache()
            vocab.count()
        # else: the indexer's counts job already ran the fit scan
        n_docs = obs.get["n"]
    # idf uses the smooth sklearn-0.16 formula; n_docs baked in at fit time
    return vocab.withColumn(
        "idf", F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("docfreq"))) + 1.0
    )


def transform_counts(
    df: DataFrame,
    vocabulary: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    tokenizer: str = "rant",
    ngram_range: tuple[int, int] = (1, 1),
    tfidf: bool = False,
    terms: DataFrame | None = None,
    stop_words: frozenset | None = None,
) -> DataFrame:
    """Transform → long-format (id_cols..., index, value) sparse matrix.

    ``tfidf=True`` applies idf then l2-normalizes each document row, exactly
    as sklearn-0.16 TfidfVectorizer(norm='l2', smooth_idf=True).  Long
    format IS the sparse representation — assemble to vectors only at the
    sink if a consumer needs it.
    """
    id_cols = id_cols or ["conv_id", "turn_idx"]
    if terms is None:
        terms = _terms(df, text_col, id_cols, tokenizer, ngram_range, stop_words)
    vocab = F.broadcast(vocabulary.select("term", "index", "idf"))
    counts = (
        terms.join(vocab, "term")
        .groupBy(*id_cols, "index", "idf")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    if not tfidf:
        return counts.select(*id_cols, "index", "value")
    weighted = counts.withColumn("value", F.col("value") * F.col("idf"))
    wnorm = Window.partitionBy(*id_cols)
    norm = F.sqrt(F.sum(F.col("value") * F.col("value")).over(wnorm))
    return weighted.withColumn(
        "value", F.col("value") / F.when(norm == 0.0, 1.0).otherwise(norm)
    ).select(*id_cols, "index", "value")


def hashing_bucket_expr(term, n_features: int):
    """Portable term→bucket hash: first 8 hex chars of md5, mod n_features.

    md5 is identical across engines (unlike xxhash64/murmur3), so the
    hashing vectorizer carries a DuckDB oracle:
    ``CAST('0x' || substr(md5(term),1,8) AS BIGINT) % n``."""
    return F.pmod(md5_int(term), F.lit(n_features)).cast("int")


def hashing_sign_expr(term):
    """±1 from the parity of md5's 9th hex nibble — an independent bit
    stream from the bucket (chars 1-8), mirroring sklearn's
    alternate_sign: collisions cancel in expectation instead of
    accumulating."""
    return F.lit(1) - (md5_int(term, 9, 1) % 2) * 2


def transform_hashing(
    df: DataFrame,
    n_features: int = 1 << 18,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    tokenizer: str = "rant",
    ngram_range: tuple[int, int] = (1, 1),
    terms: DataFrame | None = None,
    stop_words: frozenset | None = None,
    alternate_sign: bool = True,
    l2_norm: bool = False,
) -> DataFrame:
    """Fit-free hashing-trick vectorizer (sklearn HashingVectorizer
    semantics) → long-format (id_cols..., index, value).

    THE vectorizer scale path: no vocabulary fit job, no broadcast state,
    no driver round trip — one tokenize + one groupBy shuffle regardless
    of corpus size, and the feature space is fixed up front so two
    independently processed corpora are feature-aligned by construction
    (what CountVectorizer cannot give you across 100 TB re-runs).
    Trade-off (same as sklearn's): no inverse vocabulary, rare collisions;
    ``alternate_sign`` makes collisions cancel in expectation.  Values are
    exact signed BIGINT counts unless ``l2_norm``.
    """
    id_cols = id_cols or ["conv_id", "turn_idx"]
    if terms is None:
        terms = _terms(df, text_col, id_cols, tokenizer, ngram_range, stop_words)
    sign = hashing_sign_expr("term") if alternate_sign else F.lit(1).cast("long")
    hashed = terms.select(
        *id_cols,
        hashing_bucket_expr(F.col("term"), n_features).alias("index"),
        sign.alias("sign"),
    )
    out = hashed.groupBy(*id_cols, "index").agg(F.sum("sign").alias("value"))
    if not l2_norm:
        return out
    wnorm = Window.partitionBy(*id_cols)
    norm = F.sqrt(F.sum(F.col("value") * F.col("value")).over(wnorm))
    return out.withColumn(
        "value",
        F.col("value").cast("double") / F.when(norm == 0.0, 1.0).otherwise(norm),
    )


def vocabulary_to_list(vocabulary: DataFrame) -> list[str]:
    """Small-vocab convenience for tests/exports (index order)."""
    return [r["term"] for r in vocabulary.orderBy("index").select("term").collect()]
