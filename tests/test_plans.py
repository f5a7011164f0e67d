"""Physical-plan assertions: the optimizer properties the engine relies on
at 100 TB must hold in the actual executed plans, not just in intent.

Checks: parquet predicate pushdown + column pruning, broadcast join choice,
a single Exchange shared by the whole window-feature chain, zero Python
nodes in the JVM as-of join, scalar-UDF prunability, and AQE enablement.
"""

import pytest
from conftest import relation_root_paths
from pyspark.sql import functions as F

from py_evalfilter_spark.functions import textfeats
from py_evalfilter_spark.operators import asof, windows
from py_evalfilter_spark.plans import driver_queries as dq

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanProperties:
    def test_filter_pushdown_and_pruning(self, spark):
        df = dq.q_scan_filter_project(spark, SF)
        plan = _plan(df)
        assert "PushedFilters:" in plan
        assert "l_shipdate" in plan.split("PushedFilters:")[1][:300]
        # projection pruned to the 4 needed columns
        read = plan.split("ReadSchema:")[1][:300]
        for col in ["l_orderkey", "l_partkey", "l_extendedprice"]:
            assert col in read
        assert "l_comment" not in read and "l_tax" not in read

    def test_metadata_scan_skips_text(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
        read = _plan(docs).split("ReadSchema:")[1][:200]
        assert "text" not in read


class TestJoinStrategies:
    def test_dimension_join_is_broadcast(self, spark):
        plan = _plan(dq.q_broadcast_join_agg(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_vocab_transform_join_is_broadcast(self, spark):
        plan = _plan(dq.q_bow_counts(spark, SF))
        assert "BroadcastHashJoin" in plan


class TestWindowChain:
    def test_single_exchange_for_all_window_features(self, spark):
        t = dq.transcripts_df(spark, SF)
        chain = windows.with_session(
            windows.with_rolling_count(
                windows.with_backfill(windows.with_lag_lead(t))
            )
        )
        plan = _plan(chain)
        # ONE Exchange total: the derivation's row_number partitions on the
        # conv_id attribute, and every window operator reuses it
        assert plan.count("Exchange hashpartitioning") == 1, plan[:500]

    def test_benched_pipeline_is_not_column_pruned(self, spark):
        """The bench's aggregation consumes one column from every stage, so
        the windows/as-of chain must SURVIVE in the executed plan — under a
        bare count()+sum(tokens) Catalyst prunes the whole chain (zero
        hashpartitioning Exchanges) and the bench would measure scan+map
        only (round-1 mistake).  Expected: exactly 3 hashpartitioning
        Exchanges — derivation(conv_id) shared by all windows, the as-of
        union re-shuffle(conv_id), and the profile-side aggregation."""
        from py_evalfilter_spark.plans.pipeline import feature_pipeline

        aggs = [
            "count(*)", "sum(tokens)", "sum(turn_idx)", "sum(turns_last3)",
            "sum(session_seq)", "max(tool_ffill)",
            "sum(cast(cast(profile_ts AS timestamp) AS long))", "sum(purchase_value)",
        ]
        plan = _plan(feature_pipeline(spark, SF).selectExpr(*aggs))
        assert plan.count("Exchange hashpartitioning") == 3, plan[:900]
        # sort reuse: the window chain orders by (ts, __ord) — the identical
        # permutation as (turn_idx, ts) — so it reuses the derivation
        # WindowExec's sort: exactly 2 Sort nodes (derivation + as-of union),
        # not 3
        assert plan.count("Sort [") == 2, plan[:900]
        # and the pruned variant really does prune (optimizer sanity)
        pruned = _plan(
            feature_pipeline(spark, SF).selectExpr("count(*)", "sum(tokens)")
        )
        assert pruned.count("Exchange hashpartitioning") == 0

    def test_session_agg_reuses_conv_exchange(self, spark):
        # grouping on (conv_id, session_seq) must be satisfied by the
        # sessionize window's hashpartitioning(conv_id) — one Exchange total,
        # no second full-data shuffle on a derived session_id key
        plan = _plan(dq.q_session_agg(spark, SF))
        assert plan.count("Exchange hashpartitioning") == 1, plan[:800]

    def test_jvm_asof_has_no_python(self, spark):
        t = dq.transcripts_df(spark, SF)
        p = dq.profile_df(spark, SF)
        plan = _plan(asof.asof_join(t, p))
        assert "Python" not in plan
        assert "FlatMapCoGroupsInPandas" not in plan


class TestBenchedQueryPlans:
    """What bench.py actually times must contain each query's characteristic
    operator.  Under a bare .count(), Catalyst legitimately deletes scalar
    UDFs, window functions (row counts are window-invariant), and the as-of
    struct fill — so a count()-timed bench measures a different plan than
    the one users run (the round-1/round-2 bench trap, VERDICT r2 #1).
    bench.benched_df is the exact frame the bench collects."""

    @staticmethod
    def _benched(spark, name):
        import bench

        return _plan(bench.benched_df(spark, name, SF))

    def test_rant_stats_keeps_arrow_udf(self, spark):
        plan = self._benched(spark, "rant_stats_features")
        assert "ArrowEvalPython" in plan  # the feature map is what's timed

    def test_lag_lead_keeps_window_functions(self, spark):
        plan = self._benched(spark, "lag_lead")
        assert "Window" in plan and "lag(" in plan and "lead(" in plan

    def test_sessionize_keeps_window(self, spark):
        plan = self._benched(spark, "sessionize")
        assert "Window" in plan

    def test_asof_keeps_union_window_fill(self, spark):
        plan = self._benched(spark, "asof_join")
        # the ignore-nulls last() struct fill is the as-of operator itself
        assert "Window" in plan and "last(" in plan

    def test_dup_spans_is_window_counted_not_joined(self, spark):
        """The corpus-wide 8-gram frequency must be a window count over the
        gram hash (one hash-partition exchange), not a groupBy+join back —
        and the benched frame must keep the interval-merge windows."""
        plan = self._benched(spark, "dup_spans")
        assert "Window" in plan
        # the only join allowed is the final doc-level stats join (on the
        # id), never a gram-keyed corpus join ("gh#NNN" is the column-ref
        # form; a bare "gh" also matches BuildRight and fires falsely)
        assert "gh#" not in plan.split("Join", 1)[-1].split("\n")[0]

    def test_classifier_score_stays_jvm_side(self, spark):
        """The md5-weight path is pure column expressions: no Python in
        the plan at all (the map-side no-model-join contract)."""
        plan = self._benched(spark, "classifier_score")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_token_budget_never_global_sorts(self, spark):
        """The exact-budget cumsum must stay two-level bucketed: window
        sorts run inside hash-partitioned (source[, bucket]) groups, never
        as a corpus-wide range-partitioned ORDER BY (the naive plan)."""
        plan = self._benched(spark, "token_budget")
        assert "rangepartitioning" not in plan.lower()
        assert "Window" in plan  # the bounded per-bucket windows remain

    def test_gopher_is_map_only(self, spark):
        """The Gopher rules must contribute ZERO hashpartitioning
        Exchanges of their own — the benched frame shows only the CONSUME
        aggregation's own single-partition reduction."""
        plan = self._benched(spark, "gopher_quality")
        assert plan.count("Exchange hashpartitioning") == 0, plan[:600]

    def test_spine_features_keeps_struct_fills(self, spark):
        """The benched spine join must keep the ignore-nulls last() struct
        fills (the k-table as-of itself) and exactly ONE WindowExec for
        the join — k same-spec fills ride one window (operators/spine)."""
        plan = self._benched(spark, "spine_features")
        assert "last(" in plan
        # transcripts derivation adds its own row_number window; the spine
        # join itself must not add more than one on top
        assert plan.count("Window") <= 2

    def test_line_dedup_incremental_keeps_probe_udf(self, spark):
        """The benched frame must keep the Bloom probe (ArrowEvalPython) —
        a pruned plan would time the shard explode only."""
        plan = self._benched(spark, "line_dedup_incremental")
        assert "ArrowEvalPython" in plan

    def test_dedup_incremental_keeps_verify_udf(self, spark):
        """The benched frame must keep the exact-Jaccard Arrow verify (the
        jaccard sum consumes it) — a pruned plan would time LSH banding
        only."""
        plan = self._benched(spark, "dedup_incremental")
        assert "ArrowEvalPython" in plan

    def test_dedup_incremental_verify_udf_evaluated_once(self, spark):
        """The jaccard filter must NOT duplicate the Arrow verify (guide
        §4.4: a filter on a UDF-output column gets pushed below the
        projection and the UDF runs twice — measured 12.8 s single-eval
        vs 42 s duplicated at sf1.0; the UDF is asNondeterministic to pin
        a single ArrowEvalPython node)."""
        plan = self._benched(spark, "dedup_incremental")
        assert plan.count("ArrowEvalPython") == 1

    def test_smote_spreads_pairs_and_ranks_without_exchange(self, spark):
        """The O(n²) kNN pair generation must be spread BEFORE the
        nested-loop join (one scan split otherwise ran the whole thing in
        a single task: 47.7 s → ~3 s at sf1.0), and the rank window must
        reuse that partitioning: Spark's WindowGroupLimit cuts each
        partition to top-k per base with NO Exchange between the join and
        the rank — only the n base rows cross the wire, never the n²
        pairs."""
        plan = self._benched(spark, "smote")
        assert "WindowGroupLimit" in plan
        assert "BroadcastNestedLoopJoin" in plan
        # plans print consumer-first: the segment from the first (and
        # only) group-limit down to the join must carry no Exchange — the
        # pre-fix plan had a second WindowGroupLimit + a pair-sized
        # hashpartitioning Exchange in exactly this span
        seg = plan[
            plan.index("WindowGroupLimit"):plan.index("BroadcastNestedLoopJoin")
        ]
        assert "Exchange" not in seg

    def test_media_digest_dedup_shuffles_digest_key(self, spark):
        """The digest groupBy must key the exchange on md5(content) — blobs
        never move (the media-dedup scale contract)."""
        plan = self._benched(spark, "media_digest_dedup")
        assert "md5" in plan and "HashAggregate" in plan

    def test_media_digest_content_never_enters_exchange(self, spark):
        """VERDICT r6 #5: the payload column must be fully consumed BELOW
        the digest Exchange — the partial aggregate's input Project
        computes md5(payload) in the scan stage, so the one shuffle moves
        32-char digests, never blobs.  Physical plans print consumer-
        first, so the md5 projection and the payload attribute must both
        appear AFTER the Exchange line (scripts/bench_media_scale.py
        asserts the same property on a real 1M-row binary-content table;
        the driver query synthesizes media from document text)."""
        plan = self._benched(spark, "media_digest_dedup")
        assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
        ex = plan.index("Exchange hashpartitioning")
        assert "md5(" in plan and ex < plan.index("md5("), plan[:900]
        assert "text#" in plan and ex < plan.index("text#"), plan[:900]

    def test_media_metadata_reader_prunes_blob(self, spark, tmp_path):
        """A metadata-only consumer of a persisted media table must not
        scan the blob column at all (ReadSchema excludes content)."""
        from py_evalfilter_spark.functions import multimodal

        path = str(tmp_path / "media.parquet")
        multimodal.make_fake_media(spark, n=30).write.parquet(path)
        meta_only = spark.read.parquet(path).select(
            "media_id", "kind", F.col("meta.duration_ms")
        )
        read = _plan(meta_only).split("ReadSchema:")[1][:300]
        assert "content" not in read, read

    def test_dedup_fuzzy_rebalances_before_levenshtein(self, spark):
        """The O(len^2) Levenshtein must run AFTER a round-robin Exchange,
        not inside the source-partitioned window stage whose parallelism is
        #sources (measured 3.9x at sf0.1: 4.4s -> 1.1s with 20 sources)."""
        plan = self._benched(spark, "dedup_fuzzy_window")
        assert "levenshtein" in plan and "RoundRobinPartitioning" in plan
        # plans print consumer-first: levenshtein (downstream) before the
        # rebalance Exchange, which is before the Window (upstream)
        assert plan.index("levenshtein") < plan.index("RoundRobinPartitioning")
        assert plan.index("RoundRobinPartitioning") < plan.index("Window")

    def test_quality_score_reads_text(self, spark):
        # quality features are JVM expressions over text; a pruned plan
        # would scan no text bytes at all
        plan = self._benched(spark, "quality_score")
        assert "text" in plan.split("ReadSchema:")[1][:300]

    def test_hashing_vectorize_keeps_hash_and_agg(self, spark):
        # the md5 bucket hash and the signed-count aggregation are the op;
        # a pruned plan would count tokens without hashing anything
        plan = self._benched(spark, "hashing_vectorize")
        assert "md5" in plan and "conv(" in plan
        assert "HashAggregate" in plan

    def test_smote_keeps_knn_and_interpolation(self, spark):
        # within-class kNN = broadcast non-equi self-join + rank window;
        # interpolation = zip_with over both vectors
        plan = self._benched(spark, "smote")
        assert "BroadcastNestedLoopJoin" in plan
        assert "Window" in plan
        assert "zip_with" in plan and "Python" not in plan

    def test_repetition_stats_single_scan_no_join(self, spark):
        # lines + bigrams explode together as tagged items: ONE text scan,
        # ONE Generate, no stats-side join — two scan branches would double
        # the dominant text I/O at corpus scale
        plan = self._benched(spark, "repetition_stats")
        assert plan.count("Generate") == 1
        assert "Join" not in plan
        assert "HashAggregate" in plan

    def test_decontaminate_broadcasts_benchmark(self, spark):
        # benchmark n-grams must broadcast: the corpus side never shuffles
        # for the match, only the hit-id aggregation reduces
        plan = self._benched(spark, "decontaminate")
        assert "BroadcastHashJoin" in plan
        assert "Generate" in plan  # the n-gram explode survives

    def test_lm_score_broadcasts_model(self, spark):
        # the unigram model joins broadcast; the corpus side only shuffles
        # for the per-doc aggregation
        plan = self._benched(spark, "lm_score")
        assert "BroadcastHashJoin" in plan
        assert "Generate" in plan  # the tokenize explode survives

    def test_mask_pii_is_pure_jvm_regexp(self, spark):
        # plan toString truncates expression lists at 25 fields — widen so
        # the regexp expressions are visible to the assertion
        prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
        spark.conf.set("spark.sql.debug.maxToStringFields", "200")
        try:
            plan = self._benched(spark, "mask_pii")
        finally:
            spark.conf.set("spark.sql.debug.maxToStringFields", prev)
        # regexp_count lowers to size(regexp_extract_all(...)) in Catalyst
        assert "regexp_extract_all" in plan and "regexp_replace" in plan
        assert "Python" not in plan  # no UDF fallback in the scrub path

    def test_every_benched_query_runs_and_is_nonempty(self, spark):
        import bench

        for name in bench.BENCH_QUERIES:
            row = bench.benched_df(spark, name, SF).collect()[0]
            assert row["n"] > 0, name


class TestBucketedStore:
    def test_bucketed_join_and_window_are_shuffle_free(self, spark, tmp_path):
        """The conversation-store layout (tables.write_bucketed): two tables
        bucketed by conv_id with equal bucket counts join with NO Exchange,
        and a per-conv window over the bucketed scan needs NO Exchange —
        the scan's hashpartitioning already satisfies both."""
        from pyspark.sql import Window

        from py_evalfilter_spark.sources import tables

        t = dq.transcripts_df(spark, SF)
        s = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
        tables.write_bucketed(
            t, "bt_turns", ["conv_id"], 8, sort_cols=["conv_id"],
            path=str(tmp_path / "bt_turns"),
        )
        tables.write_bucketed(
            s, "bt_stats", ["conv_id"], 8, sort_cols=["conv_id"],
            path=str(tmp_path / "bt_stats"),
        )
        bt = tables.read_bucketed(spark, "bt_turns")
        bs = tables.read_bucketed(spark, "bt_stats")

        # At test SF the stats side fits the broadcast threshold, which makes
        # the planner broadcast and SKIP bucketed reading ("Bucketed: false
        # (disabled by query planner)").  The layout exists for the 100 TB
        # case where neither side broadcasts — pin that regime.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bt.join(bs, "conv_id").selectExpr(
                "count(*) AS n", "sum(n_turns) AS s")
            jplan = _plan(bt.join(bs, "conv_id"))
            assert "Exchange" not in jplan, jplan
            assert joined.collect()[0]["n"] > 0

            w = Window.partitionBy("conv_id").orderBy("turn_idx")
            wdf = bt.withColumn("r", F.row_number().over(w))
            wplan = _plan(wdf)
            assert "Window" in wplan and "Exchange hashpartitioning" not in wplan, wplan

            # a plain parquet read of the SAME files forgets the bucketing
            raw = spark.read.parquet(str(tmp_path / "bt_turns"))
            rejoin = _plan(raw.join(bs, "conv_id"))
            assert "Exchange" in rejoin
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        spark.sql("DROP TABLE IF EXISTS bt_turns")
        spark.sql("DROP TABLE IF EXISTS bt_stats")


class TestNeardupStorePlan:
    def test_banded_store_side_never_shuffles(self, spark, tmp_path):
        """The incremental near-dup layout (dedup.write_neardup_store): the
        standing banding, bucketed by (band, bucket), joins an arriving
        shard's banding with NO Exchange on the store side — only the
        shard-sized side shuffles.  A plain parquet read of the SAME files
        forgets the bucketing and shuffles BOTH sides; that delta is the
        O(standing)-per-shard shuffle the layout exists to remove."""
        import uuid

        from py_evalfilter_spark.operators import dedup

        docs = dq._read(spark, SF, "documents").select("doc_id", "text").limit(200)
        shard = docs.limit(40).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        prefix = f"ndplan_{uuid.uuid4().hex[:8]}"
        dedup.write_neardup_store(
            dedup.minhash_signatures(docs, "doc_id", "text"),
            prefix, n_buckets=4, path=str(tmp_path / "store"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            _, banded_store = dedup.read_neardup_store(spark, prefix)
            banded_shard = dedup.band_buckets(
                dedup.minhash_signatures(shard, "doc_id", "text"), 16, 4
            )
            joined = banded_shard.join(banded_store, ["band", "bucket"])
            jplan = _plan(joined)
            assert jplan.count("Exchange hashpartitioning") == 1, jplan

            raw = spark.read.parquet(str(tmp_path / "store" / "banded"))
            rplan = _plan(banded_shard.join(raw, ["band", "bucket"]))
            assert rplan.count("Exchange hashpartitioning") == 2, rplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    def test_lsh_operators_store_side_and_single_verify(self, spark, tmp_path):
        """The operators themselves: minhash_lsh_pairs_incremental over a
        stored word-unit banding reads the store scan into its candidate
        join with NO Exchange in between, and both LSH operators evaluate
        the exact-Jaccard verify UDF in exactly one ArrowEvalPython node."""
        import uuid

        from py_evalfilter_spark.operators import dedup

        docs = dq._read(spark, SF, "documents").select("doc_id", "text").limit(200)
        shard = docs.limit(40).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        prefix = f"ndplan_{uuid.uuid4().hex[:8]}"
        dedup.write_neardup_store(
            dedup.minhash_signatures(docs, "doc_id", "text", unit="word"),
            prefix, n_buckets=4, path=str(tmp_path / "store"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
            plan = _plan(
                dedup.minhash_lsh_pairs_incremental(
                    shard, docs, "doc_id", "text", unit="word",
                    old_sigs=s_sigs, old_banded=s_banded,
                )
            )
            store_path = _path_to_sort_merge_join(plan, f"{prefix}_banded[")
            assert store_path, plan
            assert not any("Exchange" in node for node in store_path), store_path
            assert plan.count("ArrowEvalPython") == 1, plan

            full = _plan(dedup.minhash_lsh_pairs(docs, "doc_id", "text", unit="word"))
            assert full.count("ArrowEvalPython") == 1, full
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    def test_verify_join_scans_corpus_texts_once(self, spark, tmp_path):
        """The verify join reads (doc_id, text) for both sides of a pair
        from ONE texts plan: after an action, the executed incremental plan
        scans the standing corpus once — the dup side's broadcast is a
        ReusedExchange, not a second full corpus scan."""
        import uuid

        from py_evalfilter_spark.operators import dedup

        corpus_dir = str(tmp_path / "corpus")
        dq._read(spark, SF, "documents").select("doc_id", "text").limit(200) \
            .write.parquet(corpus_dir)
        docs = spark.read.parquet(corpus_dir)
        shard = docs.limit(40).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        ).localCheckpoint()
        prefix = f"ndplan_{uuid.uuid4().hex[:8]}"
        dedup.write_neardup_store(
            dedup.minhash_signatures(docs, "doc_id", "text", unit="word"),
            prefix, n_buckets=4, path=str(tmp_path / "store"),
        )
        try:
            s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
            out = dedup.minhash_lsh_pairs_incremental(
                shard, docs, "doc_id", "text", unit="word",
                old_sigs=s_sigs, old_banded=s_banded,
            )
            assert out.collect()
            # the adaptive plan's current (final) physical plan: its string
            # would also print the initial plan, which scans per reference
            final = out._jdf.queryExecution().executedPlan().executedPlan()
            # match scans by root path: the printed `Location:` is cut to
            # spark.sql.maxMetadataStringLength characters
            scans = [r for r in _file_scan_roots(final) if r == corpus_dir]
            assert len(scans) == 1, final.toString()
            assert "ReusedExchange" in final.toString(), final.toString()
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")


def _file_scan_roots(plan) -> list[str]:
    """Root paths of every FileSourceScanExec in an executed (JVM) plan,
    one entry per scan node, walking into AQE query stages; a
    ReusedExchange is a leaf, so a reused scan is not counted twice."""
    roots, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            roots += relation_root_paths(node.relation())
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return roots


def _path_to_sort_merge_join(plan: str, needle: str) -> list[str]:
    """Plan nodes from the first node containing `needle` up through its
    nearest SortMergeJoin ancestor ([] if either is missing).  A node's
    depth in the tree string is the column of its `+-`/`:-` marker."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        hits = [i for i in (line.find("+- "), line.find(":- ")) if i >= 0]
        return min(hits) if hits else -1

    start = next((i for i, l in enumerate(lines) if needle in l), None)
    if start is None:
        return []
    path, d = [lines[start]], depth(lines[start])
    for line in reversed(lines[:start]):
        if depth(line) < d:
            path.append(line)
            d = depth(line)
            if "SortMergeJoin" in line:
                return path
    return []


class TestBm25DoclenPlan:
    def test_doclen_side_never_shuffles(self, spark, tmp_path):
        """write_bm25_index buckets {prefix}_doclen by doc_id: the scoring
        join hits⋈doc_len reads the doc_len side with ZERO Exchange (only
        the term-filtered hits move) — on a heavy term, hits ≈ corpus and
        an unbucketed doc_len would put BOTH corpus-sized sides through
        the shuffle, the dominant cost at 10^10 docs.  A plain parquet
        read of the SAME doclen files forgets the bucketing and shuffles
        both sides."""
        import uuid

        from py_evalfilter_spark.operators import retrieval

        docs = dq._read(spark, SF, "documents").select("doc_id", "text").limit(200)
        postings, doc_len = retrieval.bm25_postings(docs, "doc_id", "text")
        prefix = f"bm25plan_{uuid.uuid4().hex[:8]}"
        retrieval.write_bm25_index(
            postings, doc_len, prefix, n_buckets=4, path=str(tmp_path / "ix")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p, d = retrieval.read_bm25_index(spark, prefix)
            hits = p.filter(F.col("term").isin(["the", "scan", "row"]))
            jplan = _plan(hits.join(d, "doc_id"))
            assert jplan.count("Exchange hashpartitioning") == 1, jplan

            raw = spark.read.parquet(str(tmp_path / "ix" / "doclen"))
            rplan = _plan(hits.join(raw, "doc_id"))
            assert rplan.count("Exchange hashpartitioning") == 2, rplan
            # scoring through the persisted index stays correct
            scored = retrieval.bm25_scores(
                docs, "doc_id", "text", "table scan row",
                postings=p, doc_len=d,
            )
            fresh = retrieval.bm25_scores(docs, "doc_id", "text", "table scan row")
            got = {r["doc_id"]: r["bm25"] for r in scored.collect()}
            want = {r["doc_id"]: r["bm25"] for r in fresh.collect()}
            assert got.keys() == want.keys() and all(
                abs(got[k] - want[k]) < 1e-9 for k in want
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_postings")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_doclen")


class TestSemanticClusteringPlan:
    def test_kmeans_and_semdedup_run_only_arrow_kernels(self, spark, monkeypatch):
        """q_semantic_cluster and q_semdedup build their plans after the
        k-means fit's collects, so every collect's executed plan is recorded
        along with the final query's.  None may cross-join vectors with
        centroids (BroadcastNestedLoopJoin / CartesianProduct) or explode
        vectors per dimension (Generate posexplode): the assign is one
        ArrowEvalPython and the pairs one FlatMapGroupsInPandas."""
        sf = "/root/testdata/sf0.001"
        cls = type(spark.range(1))
        real_collect = cls.collect
        seen: list[str] = []

        def collect(self):
            rows = real_collect(self)
            seen.append(_plan(self))
            return rows

        monkeypatch.setattr(cls, "collect", collect)
        finals = {}
        for name in ("q_semantic_cluster", "q_semdedup"):
            df = getattr(dq, name)(spark, sf)
            df.collect()
            finals[name] = seen[-1]
        assert len(seen) > 2 * len(finals), "fit collects were not recorded"
        for plan in seen:
            for node in ("BroadcastNestedLoopJoin", "CartesianProduct", "Generate posexplode"):
                assert node not in plan, plan
        assert "ArrowEvalPython" in finals["q_semantic_cluster"], finals
        assert "ArrowEvalPython" in finals["q_semdedup"], finals
        assert "FlatMapGroupsInPandas" in finals["q_semdedup"], finals


class TestUdfProperties:
    def test_scalar_feature_udf_prunes_under_count(self, spark):
        t = dq.transcripts_df(spark, SF)
        feats = textfeats.with_rant_stats(t)
        counted = feats.groupBy().count()
        assert "rant_stats_udf" not in _optimized(counted)
        # ...but evaluates when a feature is consumed
        consumed = feats.selectExpr("sum(tokens)")
        assert "rant_stats_udf" in _optimized(consumed)

    def test_feature_udf_is_arrow_eval(self, spark):
        t = dq.transcripts_df(spark, SF)
        plan = _plan(textfeats.with_rant_stats(t).select("tokens"))
        assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython

    def test_session_config(self, spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_default_driver_memory_is_half_ram(self, monkeypatch):
        from py_evalfilter_spark import session

        for ram_kib, want in ((16_479_424, "7g"), (2 * 1024**2, "2g"), (512 * 1024**2, "48g")):
            monkeypatch.setattr(
                session.os, "sysconf",
                lambda name, kib=ram_kib: kib if name == "SC_PHYS_PAGES" else 1024,
            )
            assert session._default_driver_memory() == want
