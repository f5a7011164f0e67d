"""Corpus-curation operators for LLM training-data pipelines: repetition
quality stats, benchmark decontamination, sequence packing, weighted source
mixing.

These extend the reference's filter/dedup surface (deduplicate_rants.py,
generate_dataset_gvsb.py's length filter) to the operations a web-scale
pretraining pipeline runs over a `documents` corpus.  The repetition rules
follow the published Gopher heuristics (Rae et al. 2021, "Scaling Language
Models", appendix A1.1): fraction of duplicate lines, fraction of characters
in duplicate lines, and the character share of the most frequent word
bigram.  Everything stays in JVM column expressions / relational ops —
no Python in the hot path — and each operator has a DuckDB oracle in
plans/driver_queries.py.

Scale notes (100 TB):
  * repetition_stats: explode + two map-side-combining groupBys on doc_id —
    linear work, partial aggregation before each Exchange; no per-doc
    quadratic higher-order-function scans.
  * decontaminate: the benchmark side (eval sets) is tiny vs the corpus, so
    its distinct n-grams broadcast (size-gated, gate.py); the corpus side
    never shuffles for the match itself — only the hit-id set (<< corpus)
    reduces.
  * pack_sequences: one window per pack group.  Pack within bounded groups
    (source × shard), never a single global ORDER BY — a global pack order
    is a single-partition sort at corpus scale.
  * mix_sources / temperature_mix / upsample_sources: one rate sampler,
    a pure map-side filter against a broadcast rates dim; the md5-derived
    uniform (functions/hashing.uniform) is engine-portable, so the exact
    sample is reproducible anywhere.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import gate
from ..functions.hashing import md5_int, seeded_int, uniform

if TYPE_CHECKING:
    from .bloom import SlicedBloom

WORD_RE = "[^a-z0-9]+"


def _words(text_col: str):
    """lowercased regex word tokens, empties dropped (matches the
    driver_queries TOKENS_CTE tokenization exactly)."""
    return F.filter(F.split(F.lower(F.col(text_col)), WORD_RE), lambda x: x != "")


def _ngrams_of(arr, n: int):
    """word n-grams from an ALREADY-MATERIALIZED array column.

    `arr` must be a plain attribute (not the split expression itself):
    higher-order-function lambdas get no subexpression elimination, so
    `slice(split(text), i, n)` re-tokenizes the text once per position —
    O(words²) per row, measured 5-8x on the sf0.1 bench.  Callers project
    the words array first (CollapseProject keeps a non-cheap alias that is
    referenced more than once in its own Project)."""
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Gopher-style repetition stats
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition quality stats (Gopher A1.1 subset):

      n_lines             non-blank trimmed lines
      dup_line_frac       1 - distinct_lines / n_lines
      dup_line_char_frac  chars in lines occurring >1x / chars in all lines
      top_bigram_frac     occurrences-weighted char share of the most
                          frequent word bigram (ties: lexicographically
                          largest bigram — deterministic either way, the
                          share is what matters)

    ONE text scan: lines and bigrams explode together as tagged (kind, val)
    items, then one map-side-combined (id, kind, val) count and one final
    per-id conditional aggregation — no second scan of the (at 100 TB,
    dominant) text column and no stats-side join.  Returns one row per
    input document that has at least one non-blank line.
    """
    lines_arr = F.filter(
        F.transform(F.split(F.col(text_col), "\\n"), F.trim), lambda x: x != ""
    )
    base = df.select(
        id_col, lines_arr.alias("_lines"), _words(text_col).alias("_w")
    )
    items = F.concat(
        F.transform(
            F.col("_lines"), lambda x: F.struct(F.lit("L").alias("kind"), x.alias("val"))
        ),
        F.transform(
            _ngrams_of(F.col("_w"), 2),
            lambda x: F.struct(F.lit("B").alias("kind"), x.alias("val")),
        ),
    )
    exploded = base.select(id_col, F.explode(items).alias("it")).select(
        id_col, F.col("it.kind").alias("kind"), F.col("it.val").alias("val")
    )
    counts = exploded.groupBy(id_col, "kind", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_line = F.col("kind") == "L"
    is_gram = F.col("kind") == "B"
    line_cnt = F.when(is_line, F.col("cnt"))
    stats = counts.groupBy(id_col).agg(
        F.sum(line_cnt).alias("n_lines"),
        F.round(1.0 - F.count(line_cnt) / F.sum(line_cnt), 4).alias("dup_line_frac"),
        F.round(
            F.sum(
                F.when(is_line & (F.col("cnt") > 1), F.col("cnt") * F.length("val")).otherwise(0)
            )
            / F.greatest(F.sum(F.when(is_line, F.col("cnt") * F.length("val")).otherwise(0)), F.lit(1)),
            4,
        ).alias("dup_line_char_frac"),
        F.max(F.when(is_gram, F.struct("cnt", F.col("val").alias("bigram")))).alias("top"),
        F.sum(F.when(is_gram, F.col("cnt") * F.length("val")).otherwise(0)).alias("totb"),
    )
    return stats.filter(F.col("n_lines").isNotNull()).select(
        id_col,
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.coalesce(
            F.round(
                F.col("top.cnt") * F.length("top.bigram") / F.greatest("totb", F.lit(1)),
                4,
            ),
            F.lit(0.0),
        ).alias("top_bigram_frac"),
    )


def filter_repetitive(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """Drop documents exceeding the Gopher repetition thresholds (defaults
    are the published cut-offs).  Anti-join on the small failing-id set —
    the corpus side is filtered without re-shuffling its payload columns."""
    stats = repetition_stats(df, id_col, text_col)
    bad = stats.filter(
        (F.col("dup_line_frac") > max_dup_line_frac)
        | (F.col("dup_line_char_frac") > max_dup_line_char_frac)
        | (F.col("top_bigram_frac") > max_top_bigram_frac)
    ).select(id_col)
    return df.join(bad, id_col, "left_anti")


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------


def _exploded_ngrams(df: DataFrame, n: int, text_col: str, *keep_cols: str) -> DataFrame:
    """(keep_cols..., ngram) — words materialized in their own Project
    before the n-gram transform (see _ngrams_of)."""
    base = df.select(*keep_cols, _words(text_col).alias("_w"))
    return base.select(
        *keep_cols, F.explode(_ngrams_of(F.col("_w"), n)).alias("ngram")
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus documents sharing ≥1 word n-gram with any benchmark document
    (the standard train/test leakage check, e.g. GPT-3 appendix C /
    Gopher A2): returns (id, n_shared) with n_shared = distinct shared
    n-grams.  The benchmark n-gram set is distinct + broadcast when it fits
    ``gate.BROADCAST_MAX_ROWS`` (one count job; shuffle join otherwise,
    same output) — the corpus is matched map-side and only the hits
    aggregate.  Benchmark gram sets are small by nature (eval suites, not
    corpora), but an adversarially large one must not OOM executors."""
    bench_grams = gate.broadcast_if_small(
        _exploded_ngrams(benchmark, n, text_col).distinct()
    )
    corpus_grams = _exploded_ngrams(corpus, n, text_col, id_col)
    return (
        corpus_grams.join(bench_grams, "ngram")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("n_shared"))
    )


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_shared, n_grams, contaminated_frac) for every corpus document
    sharing ≥1 distinct word n-gram with the benchmark — the measured-overlap
    refinement of contamination_report (GPT-3 appendix C reports the
    *fraction* of a document's n-grams that collide, not just the hit bit;
    PaLM/Llama decontamination thresholds on that fraction).

    One corpus-gram pass, one shuffle: the benchmark grams broadcast with a
    hit mark (gated as in contamination_report), and a single per-doc
    aggregate counts distinct total and distinct shared grams together (no
    second pass for the denominator)."""
    bench_grams = gate.broadcast_if_small(
        _exploded_ngrams(benchmark, n, text_col)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_grams = _exploded_ngrams(corpus, n, text_col, id_col)
    return (
        corpus_grams.join(bench_grams, "ngram", "left")
        .groupBy(id_col)
        .agg(
            F.count_distinct("ngram").alias("n_grams"),
            F.count_distinct(
                F.when(F.col("_hit").isNotNull(), F.col("ngram"))
            ).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            id_col,
            "n_shared",
            "n_grams",
            F.round(F.col("n_shared") / F.col("n_grams"), 4).alias(
                "contaminated_frac"
            ),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frac: float = 0.0,
) -> DataFrame:
    """Remove contaminated documents: anti-join the corpus against the
    contaminated-id set.  With max_frac = 0 (default) ANY shared n-gram
    disqualifies (the strict gate, and the cheap plan — no per-doc gram
    denominator is computed).  With max_frac > 0, only documents whose
    contaminated_frac EXCEEDS it are dropped — the fraction-threshold
    policy large corpora actually run, where a stray idiom shared with one
    benchmark question shouldn't discard an entire long document."""
    if max_frac <= 0.0:
        hits = contamination_report(corpus, benchmark, n, id_col, text_col).select(
            id_col
        )
    else:
        hits = (
            contamination_stats(corpus, benchmark, n, id_col, text_col)
            .filter(F.col("contaminated_frac") > max_frac)
            .select(id_col)
        )
    return corpus.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# sequence packing (concat-then-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    budget: int,
    by: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a fixed-token-budget pack (training context
    window): documents are concatenated in (by, order_col) order and chunked
    every `budget` tokens; a document's pack is the chunk its first token
    lands in — the deterministic "concat then chunk" packing used to build
    pretraining batches.

    Adds `n_tokens` (word-token count, matching the token_count query),
    `pack_id` (0-based within the group) and `pack_offset` (token offset of
    the document inside its pack).  One window Exchange per call; pack
    within bounded groups at scale (see module docstring).
    """
    from pyspark.sql import Window

    if tokens_col is None:
        df = df.withColumn("n_tokens", F.size(_words(text_col)).cast("long"))
        tokens_col = "n_tokens"
    w = (
        Window.partitionBy(by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0).cast("long"))
    return df.withColumn(
        "pack_id", F.floor(cum_before / budget).cast("long")
    ).withColumn(
        "pack_offset", (cum_before % budget).cast("long")
    )


# ---------------------------------------------------------------------------
# per-group document cap
# ---------------------------------------------------------------------------


def cap_per_group(
    df: DataFrame,
    max_per_group: int,
    by: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep at most `max_per_group` documents per group (the curation step
    that stops one crawl domain from dominating the mix).  Selection is a
    deterministic md5-uniform shuffle of ids within the group — an unbiased
    sample that is stable across runs and engines (same portable-hash idiom
    as mix_sources), NOT first-N in storage order, which would bias toward
    whatever the ingest happened to write first.  One window Exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(seeded_int(id_col, seed), id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_group)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# document chunking (fixed window + overlap)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows (the
    RAG / context-window prep step): chunk i covers
    [i*(chunk_chars-overlap), +chunk_chars).  Pure JVM — one
    posexplode(sequence) + substring, no shuffle at all; the final chunk
    may be shorter, an empty text yields one empty chunk.  Trailing starts
    whose remaining tail is already inside the previous chunk (start +
    overlap >= len, for start > 0) are dropped — emitting them would
    produce fully-contained duplicate chunks whenever len % step falls in
    1..overlap, bloating a RAG index with exact-duplicate entries.

    Returns (id, chunk_idx int, chunk_start long, chunk_text)."""
    if overlap >= chunk_chars:
        raise ValueError(f"overlap {overlap} must be < chunk_chars {chunk_chars}")
    step = chunk_chars - overlap
    starts = F.filter(
        F.sequence(
            F.lit(0), F.greatest(F.length(text_col) - 1, F.lit(0)), F.lit(step)
        ),
        lambda s: (s == F.lit(0)) | (s + overlap < F.length(text_col)),
    )
    return df.select(
        id_col,
        text_col,
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.expr(
            f"substring({text_col}, chunk_start + 1, {chunk_chars})"
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# weighted source mixing
# ---------------------------------------------------------------------------


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    seed: int = 42,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic weighted downsampling per source (data-mixing step:
    e.g. upweight curated sources, downweight crawl).  Keep a row iff
    u(id, seed) < rate[source], where u is an md5-derived uniform in [0,1)
    — portable bit-for-bit to any engine (same idiom as the hashing
    vectorizer), so the exact training subset is reproducible off-Spark.

    The rates dict joins as a broadcast dim table; rows whose source has no
    rate are dropped (explicit mixing contract).  Pure map-side — no corpus
    shuffle."""
    return _sample_at_rates(
        df, _rates_frame(df, rates, source_col), seed, id_col, source_col
    )


def _rates_frame(df: DataFrame, rates: dict[str, float], source_col: str) -> DataFrame:
    return df.sparkSession.createDataFrame(
        sorted(rates.items()), f"{source_col} string, rate double"
    )


def _sample_at_rates(
    df: DataFrame, rates_df: DataFrame, seed: int, id_col: str, source_col: str
) -> DataFrame:
    """The one rate sampler: keep a row iff u(id, seed) < its source's rate
    in the (source, rate) frame, joined as a broadcast dim; rows whose
    source has no rate drop."""
    return (
        df.join(F.broadcast(rates_df), source_col)
        .withColumn("u", uniform(id_col, seed))
        .filter(F.col("u") < F.col("rate"))
        .drop("u", "rate")
    )


def upsample_sources(
    df: DataFrame,
    rates: dict[str, float],
    seed: int = 42,
    id_col: str = "doc_id",
    source_col: str = "source",
    rep_col: str = "rep",
) -> DataFrame:
    """mix_sources generalized to rates ABOVE 1 — the multi-epoch mixture
    table (LLaMA samples Wikipedia ~2.4 epochs while CommonCrawl gets
    <1): a rate of 2.3 keeps floor = 2 copies of every row plus a third
    iff u(id, seed) < 0.3, so expected copies = rate exactly and the
    realized sample is deterministic per id.  Adds `rep_col` (0-based
    copy index) so downstream packing/dedup see distinct rows; rate < 1
    degenerates to exactly mix_sources' keep test (floor 0 + the
    fractional draw).

    Plan shape: broadcast rates dim + a guarded sequence explode — pure
    map-side; output size is Σ n_s·rate_s by construction, so the explode
    amplification is the operator's contract, not a hazard."""
    u = uniform(id_col, seed)
    n_copies = (
        F.floor("rate") + F.when(u < F.col("rate") - F.floor("rate"), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(F.broadcast(_rates_frame(df, rates, source_col)), source_col)
        .withColumn("_nc", n_copies)
        .filter(F.col("_nc") >= 1)  # sequence(0, -1) DESCENDS — guard first
        .withColumn(rep_col, F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)))
        .drop("rate", "_nc")
    )


def shard_corpus(
    df: DataFrame, n_shards: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic training-shard assignment + within-shard order — the
    "global shuffle" a training run needs over the finished corpus,
    WITHOUT a global sort: shard = md5-uniform of the id mod n_shards
    (the engine-portable vectorize.hashing_bucket_expr idiom, so shard
    membership is reproducible anywhere), position = rank of the full md5
    within the shard.  Adds (shard, pos); the writer realizes it as
    ``repartition(n_shards, "shard").sortWithinPartitions("pos")`` → one
    ordered file per shard.

    100 TB shape: the only wide operation is one row_number window PER
    SHARD partition — exactly the per-shard external sort the shard
    writer performs anyway, and n_shards independent sort tasks is the
    intended parallelism (size shards to the training-file target, a few
    GB, so a 100 TB corpus yields tens of thousands of tasks).  Never a
    corpus-wide ORDER BY rand()."""
    from pyspark.sql import Window

    key = F.col(id_col).cast("string")
    shard = F.pmod(md5_int(key), F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("_u")
    return (
        df.withColumn("_u", F.md5(key))
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w) - 1)
        .drop("_u")
    )


def c4_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    sep: str = "\n",
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning", §2.2), map-only — ZERO shuffle: line-level, keep
    only lines that end in a terminal punctuation mark (. ! ? "), contain
    ≥ `min_words_per_line` words, and don't mention javascript; page-level,
    drop pages with fewer than `min_sentences` surviving sentences, any
    curly bracket, or the phrase "lorem ipsum".

    Returns every input row with the rewritten text, the per-doc counters,
    and the page-level `keep` flag — the caller chooses filter(keep) vs
    auditing the drop reasons (same contract as repetition_stats →
    filter_repetitive)."""
    line_ok = lambda x: (
        x.rlike(r'[.!?"]\s*$')
        & (F.size(F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != ""))
           >= min_words_per_line)
        & ~F.lower(x).contains("javascript")
    )
    kept_arr = F.filter(F.split(F.col(text_col), sep), line_ok)
    d = (
        df.withColumn("_kept", kept_arr)
        .withColumn("n_lines_kept", F.size("_kept"))
        .withColumn("clean_text", F.array_join("_kept", sep))
        .withColumn(
            "n_sentences",
            F.size(F.filter(
                F.split(F.col("clean_text"), r'[.!?"]+'),
                lambda s: F.trim(s) != "",
            )),
        )
        .withColumn(
            "keep",
            (F.col("n_sentences") >= min_sentences)
            & ~F.col("clean_text").contains("{")
            & ~F.col("clean_text").contains("}")
            & ~F.lower("clean_text").contains("lorem ipsum"),
        )
    )
    return d.drop("_kept", text_col).withColumnRenamed("clean_text", text_col)


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, appendix A1.1)
    that are NOT the repetition family (see repetition_stats for those):
    word count in [min_words, max_words]; mean word length in [3, 10];
    symbol-to-word ratio ≤ 0.1, where a symbol hit is one '#' or one
    ellipsis in EITHER form — U+2026 or ASCII '...' (the paper counts
    ellipses, not codepoints; a run of dots yields ⌊run/3⌋ hits, greedy
    non-overlapping); ≥ 80% of words contain an
    alphabetic character; and at least `min_stopword_hits` distinct hits
    from the stop-word probe (default = the paper's canonical English
    eight; pass a language/domain-appropriate set otherwise).  Map-only —
    one projection, zero shuffle; every metric is emitted so the keep
    decision is auditable."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    d = (
        df.withColumn("_w", words)
        .withColumn("n_words", F.size("_w"))
        .withColumn(
            "mean_word_len",
            F.when(
                F.col("n_words") > 0,
                F.aggregate(
                    "_w", F.lit(0), lambda acc, w: acc + F.length(w)
                ) / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "symbol_ratio",
            F.when(
                F.col("n_words") > 0,
                F.regexp_count(F.col(text_col), F.lit(r"#|…|\.{3}"))
                / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "alpha_word_frac",
            F.when(
                F.col("n_words") > 0,
                F.size(F.filter("_w", lambda w: w.rlike(r"\p{L}")))
                / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
        )
        # lowercased words projected to a NAMED column before the lambda
        # references it (HOF lambdas get no subexpression elimination —
        # the O(words²) trap, operators/corpus.py _ngrams_of)
        .withColumn("_wl", F.transform("_w", lambda w: F.lower(w)))
        .withColumn(
            "stopword_hits",
            F.size(F.filter(
                F.array(*[F.lit(s) for s in stopwords]),
                lambda s: F.array_contains(F.col("_wl"), s),
            )),
        )
        .withColumn(
            "keep",
            F.col("n_words").between(min_words, max_words)
            & F.col("mean_word_len").between(
                min_mean_word_len, max_mean_word_len
            )
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("alpha_word_frac") >= min_alpha_word_frac)
            & (F.col("stopword_hits") >= min_stopword_hits),
        )
    )
    return d.drop("_w", "_wl")


def sample_to_token_budget(
    df: DataFrame,
    budgets: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    bucket_bits: int = 12,
) -> DataFrame:
    """EXACT token-budget composition: per source, take documents in a
    deterministic pseudo-random order (md5 of the id — the engine's
    portable-uniform idiom) until the cumulative token count reaches the
    source's budget; keep a doc iff its inclusive running sum ≤ budget.
    This is the doc-granular exact counterpart of rate-based mixing
    (mix_sources / temperature_mix): rates hit a budget in expectation,
    this hits it exactly — what "assemble a 500B-token corpus with 30B
    from source X" actually requires.

    `budgets` is a (source, token_budget) frame (tiny — one row per
    source; broadcast).

    100 TB shape — the naive plan is a WINDOW cumsum partitioned by
    source, i.e. every doc of a mega-source sorts through ONE task.
    Instead, the same two-level decomposition as the DSIR threshold
    select: order is (bucket, md5) where bucket = the md5's leading
    `bucket_bits` bits, so a bucket is an md5-prefix RANGE.  (1) one
    groupBy(source, bucket) token-sum — map-side combining, ≤ 2^bits rows
    per source; (2) a window cumsum over THAT aggregate (partitions
    bounded by 2^bits rows, never by corpus size) classifies each bucket:
    entirely under budget → keep all its docs map-side; entirely over →
    drop all; the ONE straddling bucket per source gets an exact
    within-bucket window cumsum over its ~n/2^bits docs, offset by the
    preceding buckets' running total.  No corpus-sized sort anywhere.
    The bucket classification broadcast is ≤ |sources|·2^bucket_bits rows
    by construction (mixing sources are coarse — tens, not millions);
    docs whose source has no budget row are dropped (budget 0)."""
    from pyspark.sql import Window

    key = F.col(id_col).cast("string")
    b = md5_int(key, nhex=(bucket_bits + 3) // 4)
    rows = df.withColumn("_u", F.md5(key)).withColumn("_b", b)
    per_bucket = rows.groupBy(source_col, "_b").agg(
        F.sum(tokens_col).alias("_bt")
    )
    w = Window.partitionBy(source_col).orderBy("_b")
    classified = (
        per_bucket.withColumn("_cum", F.sum("_bt").over(w))
        .withColumn("_before", F.col("_cum") - F.col("_bt"))
        .join(F.broadcast(budgets), source_col)
        .withColumn(
            "_cls",
            F.when(F.col("_cum") <= F.col("token_budget"), F.lit("keep"))
            .when(F.col("_before") >= F.col("token_budget"), F.lit("drop"))
            .otherwise(F.lit("straddle")),
        )
        .select(source_col, "_b", "_before", "token_budget", "_cls")
    )
    tagged = rows.join(F.broadcast(classified), [source_col, "_b"])
    kept_whole = tagged.filter(F.col("_cls") == "keep")
    straddle = tagged.filter(F.col("_cls") == "straddle")
    ws = Window.partitionBy(source_col, "_b").orderBy("_u")
    kept_straddle = straddle.withColumn(
        "_doc_cum", F.col("_before") + F.sum(tokens_col).over(ws)
    ).filter(F.col("_doc_cum") <= F.col("token_budget"))
    drop_aux = ["_u", "_b", "_before", "token_budget", "_cls"]
    return kept_whole.drop(*drop_aux).unionByName(
        kept_straddle.drop(*drop_aux, "_doc_cum")
    )


def temperature_rates(
    df: DataFrame,
    alpha: float = 0.5,
    frac: float = 0.5,
    source_col: str = "source",
) -> DataFrame:
    """(source, rate) — per-source keep rates implementing temperature /
    α-sampling (Lample & Conneau 2019 §3.1; the mT5 / XLM-R mixture rule):
    a source holding share p of the corpus is sampled toward share
    q ∝ p^α, flattening the head and boosting the tail as α → 0.  `frac`
    is the overall corpus fraction to keep; each source's row-level keep
    rate is min(1, q·N·frac / n_s), ROUNDed to 6 decimals — the
    cross-engine determinism contract (the md5 uniform below is an exact
    multiple of 1e-6, so equal-rounded rates decide identically anywhere).

    One tiny groupBy (≤ #sources rows) then pure scalar math — at corpus
    scale the count aggregate is the only pass, map-side combined."""
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    w = Window.partitionBy()  # ≤ #sources rows: a single-partition window is fine
    return (
        counts.withColumn("p_a", F.pow(F.col("n_s"), F.lit(float(alpha))))
        .withColumn(
            "rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("p_a") / F.sum("p_a").over(w))
                    * F.sum("n_s").over(w)
                    * F.lit(float(frac))
                    / F.col("n_s"),
                ),
                6,
            ),
        )
        .select(source_col, "rate")
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    frac: float = 0.5,
    seed: int = 42,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic α-temperature downsampling: mix_sources with the rates
    computed FROM the corpus's own source distribution instead of supplied
    by hand.  Same md5-uniform keep test, same broadcast-dim plan shape —
    the rates frame is ≤ #sources rows by construction."""
    return _sample_at_rates(
        df, temperature_rates(df, alpha, frac, source_col), seed, id_col, source_col
    )


# ---------------------------------------------------------------------------
# exact substring (duplicate-span) dedup — Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"
# ---------------------------------------------------------------------------


def _positioned_ngrams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, gh) — 1-based word position + md5 of the word n-gram
    starting there.  The md5 is taken BEFORE the shuffle so the global
    frequency count moves 32-byte digests, not n-word strings (at n=50,
    Lee et al.'s setting, the raw gram is ~300 bytes/row of shuffle);
    collision probability at 128 bits is negligible against any corpus
    size, and hashing the gram is exactly what the suffix-array
    implementations do to their seed matches."""
    base = df.select(id_col, _words(text_col).alias("_w"))
    grams = F.when(
        F.size("_w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(F.col("_w"), i, n))).alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:string>>"))
    return base.select(
        id_col, F.explode(grams).alias("_g")
    ).select(id_col, F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh"))


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated word spans per document: every word n-gram whose
    exact text occurs >= min_count times ANYWHERE in the corpus marks its
    n words as duplicated, and overlapping-or-adjacent marks merge into
    (id, span_start, span_end) — 1-based inclusive word indices.  This is
    the MATCH structure of Lee et al. 2021's ExactSubstr dedup (suffix
    arrays there, a distributed n-gram frequency join here: same
    "duplicated substring" relation restricted to length-n seeds, which is
    what their implementation seeds matches with too).

    Scale shape: one explode (n-grams with position) + one hash-partition
    window count over the md5 digest + one per-doc window merge.  No
    joins; the frequency count is the only corpus-wide shuffle.  A
    pathological gram shared by millions of docs skews its count
    partition — the count needs no ordering, so AQE's skew handling
    applies; positions stay (doc, pos)-granular throughout.

    Interval merge is the standard running-max island trick: a span opens
    where its start exceeds max(end)+1 over all earlier spans in the doc.

    Why a window count and not groupBy(gh).count() joined back to the
    gram stream: the join has to GENERATE the gram stream twice (once for
    the counts, once for the probe), and gram generation (tokenize +
    slice + md5 × corpus) dominates the stage.  Measured at 1M docs /
    ~200M grams, local[32]: window 45.9-55.7 s vs join 85.3-90.0 s."""
    from pyspark.sql import Window

    grams = _positioned_ngrams(df, n, text_col, id_col)
    dup_marks = grams.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    ).filter(F.col("c") >= min_count)
    dup = dup_marks.select(
        id_col, F.col("pos").alias("s"), (F.col("pos") + (n - 1)).alias("e")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "nf",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1, 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = flagged.withColumn("island", F.sum("nf").over(w_run))
    return (
        isl.groupBy(id_col, "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .drop("island")
    )


def dup_span_stats(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span rollup over duplicate_spans:
    (id, n_spans, dup_words, n_words, dup_frac) for documents with >= 1
    duplicated span.  dup_frac is the usual removal-decision diagnostic
    (Lee et al. drop or trim by duplicated fraction)."""
    spans = duplicate_spans(df, n, min_count, id_col, text_col)
    lens = df.select(id_col, F.size(_words(text_col)).alias("n_words"))
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_words"),
    )
    return agg.join(lens, id_col).select(
        id_col,
        "n_spans",
        "dup_words",
        "n_words",
        F.round(
            F.col("dup_words") / F.greatest(F.col("n_words"), F.lit(1)), 4
        ).alias("dup_frac"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """df with `text_col` rewritten to the word sequence OUTSIDE every
    duplicated span (Lee et al.'s ExactSubstr-cut), plus n_words_kept.
    Documents that were entirely duplicated keep an empty string — the
    row survives so downstream length filters make the drop decision
    explicitly.

    The rebuild collects each doc's surviving (idx, word) pairs into one
    array — bounded by the document length, the same per-doc memory
    contract every text operator here already has."""
    spans = duplicate_spans(df, n, min_count, id_col, text_col)
    cov = spans.select(
        id_col,
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("idx"),
    ).distinct()
    words = (
        df.select(id_col, F.posexplode(_words(text_col)).alias("idx0", "word"))
        .select(id_col, (F.col("idx0") + 1).alias("idx"), "word")
    )
    kept = words.join(cov, [id_col, "idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("_clean"),
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("_clean"), F.lit("")))
        .withColumn("n_words_kept", F.coalesce("n_words_kept", F.lit(0)))
        .drop("_clean")
    )


def _line_norm(line):
    """CCNet's per-line normalization: lowercase, strip everything but
    letters (digits + punctuation removed).  Empty result ⇒ the line is
    structural (blank/punctuation-only) and exempt from dedup."""
    return F.regexp_replace(F.lower(line), r"[^\p{L}]+", "")


def _line_key(line):
    """The dedup hash over the normalized line.  Only the HASH sees the
    normalization — surviving lines keep their raw text.  Single source of
    truth: dedup_lines's key build and its rebuild exemption test both go
    through _line_norm/_line_key, so the two can't drift."""
    return F.md5(_line_norm(line))


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level (paragraph-level) deduplication — CCNet's
    first pipeline stage (Wenzek et al. 2019, "CCNet", §3.1): every line
    whose normalized hash already occurred anywhere in the corpus is
    dropped, keeping exactly the FIRST occurrence in deterministic
    (id, line_idx) order.  This is the dedup granularity between the
    doc-level operators (dedup.py) and the word-n-gram span operator
    (duplicate_spans): it kills boilerplate — headers, nav bars, cookie
    banners — that repeats across *different* pages.

    Lines whose normalized form is EMPTY (blank / punctuation-only) are
    exempt — they carry document structure, and hashing them would
    collapse every blank line in the corpus onto one survivor.

    Output: df with `text_col` rebuilt from the surviving lines (original
    order, original raw text, joined by `sep`), plus n_lines_kept /
    n_lines_dropped.  Fully-duplicated documents keep an empty string —
    the row survives so a downstream length filter makes the drop
    decision explicitly (same contract as remove_duplicate_spans).

    100 TB shape — the line TEXT crosses the wire exactly once.  The keep
    decision runs entirely on narrow (id, idx, line-hash) rows: (1)
    first-occurrence per hash via groupBy(key).min(struct(id, idx)) —
    map-side partial aggregation absorbs the boilerplate skew (a
    million-occurrence cookie banner partially aggregates to one row per
    map task before the Exchange; never a window partitionBy(key), which
    would put every occurrence of the hottest line in ONE task); (2) the
    survivor (id, idx) pairs reduce to one keep-index array per document.
    The rebuild then joins the UNEXPLODED corpus against that per-doc
    index array and rebuilds lines MAP-SIDE — document text is shuffled
    only by the final doc-id join, not through the hash-keyed exchange (a
    first version shuffled full text twice and measured 0.70 N→4N
    efficiency at 1M pages; this shape restored it, BENCH/BASELINE.md
    round 6).  Per-doc rebuild cost is O(lines + kept·log kept): exempt
    positions come from ONE indexed transform pass, survivor positions
    from the (sorted) keep-index array, and the kept lines are O(1)
    element_at picks over the named line array — never an
    array_contains membership scan per line, which is O(lines·kept) and
    turns a 10^5-line mega-doc into a quadratic single task."""
    keys = _line_keys(df, id_col, text_col, sep)
    return _rebuild_lines(df, _first_keeps(keys, id_col), id_col, text_col, sep)


def _first_keeps(keys: DataFrame, id_col: str) -> DataFrame:
    """(id, _keep_idx): per document, the line indices that are the FIRST
    (id, idx) occurrence of their key among `keys` — the keep decision
    dedup_lines and dedup_lines_against share."""
    firsts = keys.groupBy("_key").agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("_first")
    )
    return (
        keys.join(firsts, "_key")
        .filter(F.struct(F.col(id_col), F.col("idx")) == F.col("_first"))
        .groupBy(id_col)
        .agg(F.collect_list("idx").alias("_keep_idx"))
    )


def _line_keys(df: DataFrame, id_col: str, text_col: str, sep: str) -> DataFrame:
    """(id, idx, _key) for every non-structural line — the narrow frame
    every line-dedup variant keys on (text never enters it)."""
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(text_col, sep)).alias("idx", "line"),
        )
        .filter(_line_norm(F.col("line")) != "")
        .select(F.col(id_col), F.col("idx"), _line_key(F.col("line")).alias("_key"))
    )


def _rebuild_lines(
    df: DataFrame, keep_sets: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """Rebuild `text_col` from the per-doc survivor index arrays, keeping
    structural (blank/punct-only) lines — the shared tail of dedup_lines
    and dedup_lines_against (contract documented on dedup_lines)."""

    def _exempt_pos(x, i):
        # two-parameter HOF lambda = (element, index) — here that trap IS
        # the tool: blank/punct-only lines carry document structure and
        # always survive, independent of the first-occurrence race.
        return F.when(_line_norm(x) == "", i)

    # kept positions = exempt ∪ survivors, in original line order; the
    # lines themselves are O(1) positional picks from the named array
    # (HOF lambdas get no subexpression elimination — `_arr`/`_pos` are
    # projected to named columns first, per the O(words²) trap note)
    pos = F.array_sort(
        F.array_union(
            F.filter(
                F.transform("_arr", _exempt_pos), lambda v: v.isNotNull()
            ),
            F.coalesce("_keep_idx", F.array().cast("array<int>")),
        )
    )
    return (
        df.join(keep_sets, id_col, "left")
        .withColumn("_arr", F.split(text_col, sep))
        .withColumn("_pos", pos)
        .withColumn(
            "_kept",
            F.transform("_pos", lambda i: F.element_at("_arr", i + 1)),
        )
        .withColumn("n_lines_kept", F.size("_kept"))
        .withColumn(
            "n_lines_dropped", F.size("_arr") - F.col("n_lines_kept")
        )
        .withColumn(text_col, F.array_join("_kept", sep))
        .drop("_keep_idx", "_arr", "_pos", "_kept")
    )


def dedup_lines_against(
    shard: DataFrame,
    standing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    fp_rate: float = 1e-4,
    confirm: bool = True,
    n_standing_lines: int | None = None,
    prebuilt: SlicedBloom | None = None,
    seed: int = 42,
) -> DataFrame:
    """Incremental line-level dedup: drop from each `shard` document every
    line whose normalized hash occurs in the STANDING corpus, or earlier
    within the shard — ≡ `dedup_lines(standing ∪ shard)` restricted to
    shard rows (standing lines always precede shard lines), which is what
    the driver oracle states.  This is the daily-crawl regime CCNet-style
    line dedup actually runs in (and the membership-filter pattern
    Dolma's dedupe tool uses): the standing corpus is already deduped,
    only the shard's rows change.

    100 TB shape — the standing corpus is never shuffled:
      * both sides reduce to line keys (explode lines → md5(normalized));
        the shard's keys go through operators/bloom.bloom_dedup_against
        against the standing keys — one map-side Bloom build (no
        distinct, no groupBy: inserting a duplicate key twice is a
        no-op), a map-side probe whose NEGATIVES skip every join, and,
        with confirm=True (exact), an anti-join of only the positive
        sliver.  confirm=False (approximate, Dolma's trade): positives
        drop outright — ~ε of genuinely-new lines lost, ZERO
        standing-side shuffle ever;
      * within-shard first-occurrence keep is dedup_lines' keep decision
        (groupBy(key).min(struct) over NEW lines only — shard-sized);
      * `prebuilt` = a SlicedBloom from bloom.build_bloom_sliced over the
        standing line keys, the amortized loop: build at backfill, then
        each shard pays only the probe (+ the sliver confirm).  With
        confirm=False and `prebuilt`, `standing` may be None.

    Structural (blank/punct-only) lines are exempt and survive, exactly as
    in dedup_lines; fully-duplicated documents keep an empty string."""
    from .bloom import bloom_dedup_against

    skeys = _line_keys(shard, id_col, text_col, sep)
    # the standing side needs NO id column (only line keys leave it) — a
    # bare text table works, e.g. the curation flow's standing_path select
    st_keys = (
        standing.select(F.explode(F.split(text_col, sep)).alias("line"))
        .filter(_line_norm(F.col("line")) != "")
        .select(_line_key(F.col("line")).alias("_key"))
        if standing is not None
        else None
    )
    # the standing key frame has up to THREE consumers in one call (sizing
    # count, Bloom build scan, confirm anti-join) and each re-executes the
    # standing text explode without a pin (ADVICE r7).  Persist only when
    # ≥2 consumers exist; eviction follows the session-cache discipline
    # (callers clear after materializing — the curation flows checkpoint
    # right above this boundary).
    st_consumers = (1 if confirm else 0) + (
        0 if prebuilt is not None else (1 if n_standing_lines is not None else 2)
    )
    if st_keys is not None and st_consumers >= 2:
        st_keys = st_keys.persist()
    new_keys = bloom_dedup_against(
        skeys, st_keys, "_key", fp_rate=fp_rate, n_standing=n_standing_lines,
        confirm=confirm, seed=seed, prebuilt=prebuilt,
    )
    return _rebuild_lines(shard, _first_keeps(new_keys, id_col), id_col, text_col, sep)
