"""End-to-end training-corpus curation: the operators of
operators/{bloom,corpus,dedup,graph}.py and functions/{textanalysis,pii}.py
composed into the pipeline a pretraining data job actually runs:

    [ingest dedup against a standing corpus] → [C4 line/page rules] →
    [Gopher quality rules] → quality filter → [linear classifier cut] →
    repetition filter → PII scrub → [corpus-wide line dedup] →
    exact dedup → MinHash-LSH near-dup clustering (keep one canonical doc
    per cluster) → [semantic near-dup over the aligned embeddings table] →
    [exact substring-span removal] → benchmark decontamination →
    [weighted source mixing] → [exact per-source token budget] →
    sequence packing                          ([…] = optional stage)

Stage ordering is the cheap-to-expensive discipline: per-row JVM filters
(quality, repetition thresholds, PII) shrink the corpus before the
shuffle-bearing stages (exact dedup groupBy, LSH banding, component
loop), and the benchmark/packing passes run on the smallest frame.

Each stage is built once, in one of three segment builders that match the
durable boundaries: `_filtered` (ingest … line dedup), `_deduped` (exact …
substring) and `_packed` (decontaminate … pack).  A builder takes the frame
it starts from, the flow's options, an ``obs(df, stage)`` hook and a
:class:`~py_evalfilter_spark.pinning.PinScope` (`_packed` pins nothing; it
takes the documents table for the benchmark slice instead).  Two boundary
strategies join the segments:

* in memory (:func:`curate_corpus`): the segments chain into one lazy plan;
  per-stage row counts ride its action as `observe` metrics (no extra
  actions), and a segment's output is pinned because the next segment reads
  it twice.
* durable (:func:`curate_corpus_staged`): each segment is a parquet stage
  written by tables.run_stage and resumed by its chained config
  fingerprint; `obs` is a no-op and a segment's output, which only the
  stage write reads, is not pinned.

Pin rule: a frame is pinned where what follows reads it twice (a stats/
survivor/pair derivation + the filtering join back).  Without the pins the
scan→filter→scrub prefix recomputes multiplicatively down the chain —
measured 75 s → 13 s at sf0.1.

Reference analogue: this generalizes deduplicate_rants.py:7-31 (load →
length filter → fuzzy dedup → save) to the corpus-scale curation flow.
"""

from __future__ import annotations

import functools
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import pii, textanalysis
from ..operators import bloom as bloom_ops
from ..operators import corpus as corpus_ops
from ..operators import dedup, graph
from ..pinning import PinScope
from ..sources import tables


def input_partitions(spark: SparkSession) -> int:
    """Input-layout normalization width: 2x defaultParallelism (the classic
    slight-overdecomposition so stragglers rebalance), replacing the old
    hard-coded 64 which under-splits past 32 cores (VERDICT r3 #3)."""
    return 2 * spark.sparkContext.defaultParallelism


def _quality_filter(df: DataFrame, quality_min: float) -> DataFrame:
    """Quality-score threshold, aux feature columns dropped — the shared
    first stage of the batch, staged, and streaming curation flows."""
    return (
        textanalysis.with_quality(df)
        .filter(F.col("quality_score") >= quality_min)
        .drop("n_tokens", "avg_token_len", "punct_ratio", "ws_ratio", "quality_score")
    )


def _documents(o: SimpleNamespace) -> DataFrame:
    return o.spark.read.parquet(f"{o.sf_dir}/documents.parquet")


def _filtered(
    docs: DataFrame, o: SimpleNamespace, obs, pins: PinScope, pin_out: bool
) -> DataFrame:
    """Segment 1, the documents table → ingest dedup, C4, Gopher, quality,
    classifier, repetition, PII scrub, line dedup.  `pin_out`: the caller
    reads the output twice."""
    df = obs(
        docs.filter(F.col("source") != o.benchmark_source).repartition(
            input_partitions(o.spark)
        ),
        "input",
    )
    # 0a (optional): ingest dedup against an already-curated STANDING
    # corpus (the daily-crawl regime: never re-process what's already
    # landed).  Bloom prefilter (operators/bloom): the standing side is
    # read map-side into an m-bit filter and only the Bloom-positive sliver
    # enters the exact confirm join.  FIRST of all stages: every downstream
    # filter/shuffle sees only genuinely-new rows.
    if o.standing is not None:
        # EAGERLY localCheckpoint'ed, not persisted: its lineage (probe UDF
        # union + the confirm join) is consumed multiply downstream, and
        # lazy persists neither dedupe concurrent subtree execution inside
        # one action nor survive eviction — measured +190 s at 1M in memory
        # and 782 s vs ~95 s for the staged build.  The checkpoint also
        # gives the input/ingest observations their one clean completion.
        # The probe pin is operator-internal (one probe pass for both union
        # branches) and releases as soon as the checkpoint lands.
        ingest_pins = PinScope()
        df = pins.pin_local_checkpoint(
            obs(
                bloom_ops.bloom_dedup_against(
                    df, o.standing.select("text"), "text", fp_rate=1e-3,
                    n_standing=o.standing_count, pins=ingest_pins,
                ),
                "ingest_dedup",
            )
        )
        ingest_pins.release()
    # 0 (optional): the published structural cleanups — C4's line/page
    # rules and Gopher's doc-quality rules, both MAP-ONLY
    if o.c4_rules:
        df = obs(
            corpus_ops.c4_filter(df)
            .filter(F.col("keep"))
            .drop("n_lines_kept", "n_sentences", "keep"),
            "c4",
        )
    if o.gopher_min_words is not None:
        gq_kw = {"min_words": o.gopher_min_words}
        if o.gopher_stopwords is not None:
            gq_kw["stopwords"] = o.gopher_stopwords
        df = obs(
            corpus_ops.gopher_quality(df, **gq_kw)
            .filter(F.col("keep"))
            .drop(
                "n_words", "mean_word_len", "symbol_ratio",
                "alpha_word_frac", "stopword_hits", "keep",
            ),
            "gopher",
        )
    # 1-2: per-row quality + repetition filters; the classifier (1b, the
    # GPT-3/CCNet model-based cut) and the repetition filter both read
    # their input twice (score/stats + semi/anti join back)
    quality = pins.pin(obs(_quality_filter(df, o.quality_min), "quality"))
    if o.classifier_min is not None:
        quality = obs(
            textanalysis.filter_by_classifier(quality, threshold=o.classifier_min),
            "classifier",
        )
    # 3: PII scrub (counts kept as features, text redacted in place)
    out = pii.scrub_pii(obs(corpus_ops.filter_repetitive(quality), "repetition"))
    # 3b (optional): CCNet corpus-wide line dedup — kills cross-page
    # boilerplate BEFORE doc-level dedup.  It scans its input twice (line
    # marks + per-doc rebuild).  With a STANDING corpus the incremental
    # form runs instead: lines the standing corpus already owns drop too,
    # ≡ dedup_lines(standing ∪ shard) restricted to shard rows.
    if o.line_dedup:
        out = pins.pin(out)
        ld = (
            corpus_ops.dedup_lines_against(out, o.standing.select("text"))
            if o.standing is not None
            else corpus_ops.dedup_lines(out)
        )
        out = obs(ld.drop("n_lines_kept", "n_lines_dropped"), "line_dedup")
    return pins.pin(out) if pin_out else out


def _deduped(
    df: DataFrame, o: SimpleNamespace, obs, pins: PinScope, pin_out: bool
) -> DataFrame:
    """Segment 2: exact dedup (min doc_id per distinct text) → MinHash
    clustering → semantic near-dup → substring-span removal.  Pairs chain
    A~B, B~C, so one canonical doc per component is kept instead of
    dropping pair-wise.  `pin_out`: the caller reads the output twice."""
    sem, sub = o.semantic_threshold is not None, o.substring_n is not None
    survivors = dedup.exact_dedup(df, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    exact = pins.pin(obs(df.join(survivors, "doc_id", "left_semi"), "exact_dedup"))
    # unit="word": these corpora draw from a small vocabulary, where char
    # shingle sets coincide across unrelated docs and flood the LSH buckets
    # (measured 5.2M candidates → 214 true pairs at sf0.1 with char
    # shingles); word shingles keep the space discriminative
    pairs = dedup.minhash_lsh_pairs(
        df=exact, id_col="doc_id", text_col="text", threshold=o.minhash_threshold,
        unit="word", pins=pins,
    )
    near = graph.dedup_keep_canonical(exact, pairs, src="doc_id", dst="dup_id")
    if sem or sub or pin_out:
        near = pins.pin(near)
    # the observation attaches AFTER the pin: the semantic stage's eager
    # pair jobs run on the unobserved twin
    out = obs(near, "near_dedup")
    # 5b (optional): SEMANTIC near-dup — the same cluster-then-keep-canonical
    # shape over vec_id-aligned embeddings; catches paraphrase-level dups
    # lexical MinHash can't
    if sem:
        emb = o.spark.read.parquet(f"{o.sf_dir}/embeddings.parquet")
        # probe the vector dimension from the RAW embeddings table (a
        # one-row read): through the curation lineage .first() would run
        # the whole upstream pipeline during plan construction
        head = emb.select(F.size("embedding").alias("d")).first()
        # ids from the unobserved twin: the pair jobs must not be the first
        # to complete an observed node (its metrics row can come back empty)
        vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding").join(
            near.select("doc_id"), "doc_id", "left_semi"
        )
        spairs = dedup.embedding_neardup_pairs(
            vecs, "doc_id", "embedding", threshold=o.semantic_threshold,
            dim=head["d"] if head else None, pins=pins,
        )
        out = obs(
            graph.dedup_keep_canonical(out, spairs, src="doc_id", dst="dup_id"),
            "semantic_dedup",
        )
        if sub or pin_out:
            out = pins.pin(out)
    # 5c (optional): exact substring dedup — remove duplicated word spans
    # that survive doc-level dedup (Lee et al. 2021's ExactSubstr-cut:
    # doc-level near-dup drops COPIES, this trims shared BOILERPLATE),
    # before decontamination (the trimmed text is what must be clean)
    if sub:
        out = obs(
            corpus_ops.remove_duplicate_spans(out, n=o.substring_n).drop(
                "n_words_kept"
            ),
            "substring_dedup",
        )
        if pin_out:
            out = pins.pin(out)
    return out


def _packed(df: DataFrame, docs: DataFrame, o: SimpleNamespace, obs) -> DataFrame:
    """Segment 3: decontamination against the documents table's benchmark
    slice → weighted mixing → exact per-source token budget → packing into
    fixed-token-budget windows."""
    benchmark = docs.filter(F.col("source") == o.benchmark_source)
    out = obs(
        corpus_ops.decontaminate(df, benchmark, n=o.decontam_n), "decontaminate"
    )
    if o.rates:
        out = obs(corpus_ops.mix_sources(out, o.rates), "mix")
    # EXACT per-source token budget (chars as the token proxy, same as
    # pack_sequences): rate-based mixing hits budgets in expectation, this
    # caps them exactly (bucketed cumsum, no per-source global sort)
    if o.source_token_budget is not None:
        budgets = (
            out.select("source").distinct()
            .withColumn("token_budget", F.lit(o.source_token_budget))
        )
        out = obs(
            corpus_ops.sample_to_token_budget(out, budgets, tokens_col="n_chars"),
            "token_budget",
        )
    return corpus_ops.pack_sequences(out, budget=o.budget)


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    quality_min: float = 0.5,
    c4_rules: bool = False,
    gopher_min_words: int | None = None,
    gopher_stopwords: tuple[str, ...] | None = None,
    classifier_min: float | None = None,
    line_dedup: bool = False,
    minhash_threshold: float = 0.8,
    semantic_threshold: float | None = None,
    substring_n: int | None = None,
    decontam_n: int = 6,
    rates: dict[str, float] | None = None,
    source_token_budget: int | None = None,
    budget: int = 256,
    benchmark_source: str = "src0",
    standing: DataFrame | None = None,
    standing_count: int | None = None,
    observations: dict[str, Observation] | None = None,
    pins: PinScope | None = None,
) -> DataFrame:
    """Returns the packed training corpus: documents columns + n_email/
    n_ip/n_phone (PII counts), n_tokens, pack_id, pack_offset — text
    redacted.  Pass `observations={}` to receive per-stage Observations
    (read `.get` after an action on the result).  Pass a
    :class:`~py_evalfilter_spark.pinning.PinScope` to own eviction of the
    stage-boundary persists: release it after materializing the result and
    storage memory returns to baseline.  Without one the pins go to a
    private scope that is never released: they stay in the session cache
    under LRU."""
    o = SimpleNamespace(**locals())

    def obs(df: DataFrame, stage: str) -> DataFrame:
        if observations is None:
            return df
        observations[stage] = Observation(stage)
        return df.observe(observations[stage], F.count(F.lit(1)).alias("rows"))

    # one read of the documents table: each read costs a schema job
    docs = _documents(o)
    scope = pins if pins is not None else PinScope()
    filtered = _filtered(docs, o, obs, scope, pin_out=True)
    return _packed(_deduped(filtered, o, obs, scope, pin_out=True), docs, o, obs)


def curation_stream_filters(
    stream: DataFrame,
    quality_min: float = 0.5,
    rates: dict[str, float] | None = None,
    seed: int = 42,
) -> DataFrame:
    """The STATELESS curation stages as a streaming ingest filter: quality
    scoring/thresholding, PII scrub, and deterministic source mixing are
    per-row (the mix joins a static broadcast dim), so the same operators
    run unchanged on a stream — documents are triaged and redacted at
    ingest, before they ever land in the corpus store.  The stateful stages
    (dedup, clustering, decontamination, packing) remain batch/staged jobs
    over the landed data; batch/stream parity is pinned in
    tests/test_corpus.py."""
    out = pii.scrub_pii(_quality_filter(stream, quality_min))
    if rates:
        out = corpus_ops.mix_sources(out, rates, seed=seed)
    return out


def curate_corpus_staged(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    quality_min: float = 0.5,
    c4_rules: bool = False,
    gopher_min_words: int | None = None,
    gopher_stopwords: tuple[str, ...] | None = None,
    classifier_min: float | None = None,
    line_dedup: bool = False,
    minhash_threshold: float = 0.8,
    semantic_threshold: float | None = None,
    substring_n: int | None = None,
    decontam_n: int = 6,
    rates: dict[str, float] | None = None,
    source_token_budget: int | None = None,
    budget: int = 256,
    benchmark_source: str = "src0",
    standing_path: str | None = None,
    n_shards: int | None = None,
) -> tuple[DataFrame, dict]:
    """Durable, resumable curation: the segments of :func:`curate_corpus`
    as manifest-checkpointed parquet stages (tables.run_stage — the
    flagship pipeline's resume discipline):

      filtered  ingest dedup against `standing_path` + C4 + Gopher +
                quality + classifier + repetition + PII scrub + line dedup
      deduped   exact dedup + MinHash clustering + semantic near-dup +
                substring-span removal
      packed    decontamination + mixing + token budget + packing
      sharded   (n_shards set) terminal corpus assembly — shard_corpus
                realized as one ORDERED parquet file per training shard

    Optional stages run as in :func:`curate_corpus`.  No per-stage
    Observations are recorded; the ingest stage counts `standing_path`
    for its Bloom sizing.

    A rerun after a mid-job failure recomputes ONLY stages whose outputs
    are missing or whose config fingerprint changed (e.g. a new `budget`
    re-packs without re-deduping).  Each stage's config CHAINS the
    upstream stage's fingerprint, so changing an upstream parameter (e.g.
    `quality_min` or `minhash_threshold`) invalidates every downstream
    stage too — without the chain, a downstream stage whose own params
    were unchanged would silently resume a stale output.  Returns
    (last stage's df, {stage: manifest}); each manifest carries a
    `resumed` flag and the sharded one a per-shard row rollup."""
    o = SimpleNamespace(**locals(), standing=None, standing_count=None)
    docs_path = f"{sf_dir}/documents.parquet"
    manifests: dict[str, dict] = {}

    # Stage-internal persists release as soon as run_stage returns: the
    # stage output is durable parquet by then, so the intermediates are
    # dead weight — the staged flow never accumulates cache across stages.
    stage_pins = PinScope()

    def stage(
        name: str, cfg: dict, build_fn, partition_by: list[str] | None = None
    ) -> DataFrame:
        try:
            df, m, skipped = tables.run_stage(
                spark, f"{out_dir}/{name}", name, build_fn,
                config=cfg, input_paths=[docs_path],
                partition_by=partition_by,
            )
        finally:
            stage_pins.release()
        manifests[name] = {**m, "resumed": skipped}
        return df

    def no_obs(df: DataFrame, stage: str) -> DataFrame:
        return df

    # read the documents table at most once (each read costs a schema job),
    # and only when a stage that is not resumed builds from it
    documents = functools.cache(lambda: _documents(o))

    def build_filtered() -> DataFrame:
        if standing_path is not None:
            o.standing = spark.read.parquet(standing_path)
        return _filtered(documents(), o, no_obs, stage_pins, pin_out=False)

    filtered_cfg = {
        "quality_min": quality_min,
        "c4_rules": c4_rules,
        "gopher_min_words": gopher_min_words,
        "gopher_stopwords": list(gopher_stopwords or ()),
        "classifier_min": classifier_min,
        "line_dedup": line_dedup,
        "benchmark_source": benchmark_source,
        "standing_path": standing_path,
    }
    if line_dedup and standing_path is not None:
        # semantics marker: line dedup now also drops standing-owned lines
        # — invalidate manifests written by the batch-only form for THIS
        # combination without touching any other config's fingerprint
        filtered_cfg["line_dedup_mode"] = "against_standing"
    filtered = stage("filtered", filtered_cfg, build_filtered)
    deduped = stage(
        "deduped",
        {
            "upstream": manifests["filtered"]["config_fingerprint"],
            "minhash_threshold": minhash_threshold,
            "semantic_threshold": semantic_threshold,
            "substring_n": substring_n,
        },
        lambda: _deduped(filtered, o, no_obs, stage_pins, pin_out=False),
    )
    packed = stage(
        "packed",
        {
            "upstream": manifests["deduped"]["config_fingerprint"],
            "benchmark_source": benchmark_source,
            "decontam_n": decontam_n,
            "rates": rates,
            "source_token_budget": source_token_budget,
            "budget": budget,
        },
        lambda: _packed(deduped, documents(), o, no_obs),
    )
    if n_shards is None:
        return packed, manifests

    def build_sharded() -> DataFrame:
        # Realize shard_corpus's documented contract (operators/corpus.py
        # shard_corpus docstring): every shard's rows land in ONE task —
        # repartition(n_shards, "shard") hashes each shard value to a
        # single partition — sorted there by (shard, pos), so the file the
        # dynamic-partition writer emits under shard=k/ IS the training
        # order.  The extra "shard" sort key keeps per-shard pos runs
        # contiguous when two shard values hash-collide into one task.
        return (
            corpus_ops.shard_corpus(packed, n_shards)
            .repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "pos")
        )

    sharded = stage(
        "sharded",
        {
            "upstream": manifests["packed"]["config_fingerprint"],
            "n_shards": n_shards,
        },
        build_sharded,
        partition_by=["shard"],
    )
    # per-shard rollup on top of write_stage's per-file lineage
    # ("shard=3/part-….parquet" entries) — an IN-PROCESS convenience view
    # for this call's return value; a loader reading the on-disk
    # _lineage_manifest.json derives the same map from its partitions list
    # (ADVICE r7: the rollup is computed after write_stage committed the
    # manifest, so it is not in the file).
    shards: dict[int, int] = {}
    for p in manifests["sharded"]["partitions"]:
        if "/" in p["file"] and p["file"].startswith("shard="):
            k = int(p["file"].split("/", 1)[0].split("=", 1)[1])
            shards[k] = shards.get(k, 0) + p["rows"]
    # a layout mismatch (e.g. a partition entry that fell back to a bare
    # basename) must fail loudly, not ship a short rollup (ADVICE r7) —
    # a raise, not an assert, so `python -O` keeps the check
    if sum(shards.values()) != manifests["sharded"]["rows"]:
        raise RuntimeError(
            "shard rollup undercounts the stage manifest: "
            f"{sum(shards.values())} != {manifests['sharded']['rows']}"
        )
    manifests["sharded"]["shards"] = {str(k): shards[k] for k in sorted(shards)}
    return sharded, manifests
