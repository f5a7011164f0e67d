"""Split operators + streaming sessionization parity with the batch engine."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.operators import splits, windows


class TestSplits:
    def test_kfold_deterministic_and_balanced(self, spark):
        df = spark.range(10_000)
        a = splits.kfold_assign(df, "id", 5).groupBy("fold").count().collect()
        b = splits.kfold_assign(df, "id", 5).groupBy("fold").count().collect()
        assert sorted((r["fold"], r["count"]) for r in a) == sorted(
            (r["fold"], r["count"]) for r in b
        )
        counts = [r["count"] for r in a]
        assert len(counts) == 5
        assert max(counts) - min(counts) < 10_000 * 0.05  # roughly balanced

    def test_stratified_assign_exact(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = splits.stratified_assign(emb, "label", 3, order_col="vec_id")
        per = out.groupBy("label", "fold").count().toPandas()
        for label, grp in per.groupby("label"):
            counts = grp["count"].tolist()
            assert max(counts) - min(counts) <= 1  # exact stratification

    def test_train_test_split_stable_membership(self, spark):
        df = spark.range(1000)
        small = splits.train_test_split(df, "id", test_frac=0.2)
        grown = splits.train_test_split(spark.range(2000), "id", test_frac=0.2)
        a = {r["id"]: r["is_test"] for r in small.collect()}
        b = {r["id"]: r["is_test"] for r in grown.collect()}
        assert all(b[i] == a[i] for i in a)  # growing the corpus never flips a row
        frac = sum(a.values()) / len(a)
        assert 0.15 < frac < 0.25


class TestSmote:
    """X4 — reference tests/smote.py:1-38 semantics, deterministic re-expression."""

    def _minority(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_count_and_label(self, spark):
        from py_evalfilter_spark.operators import smote

        emb = self._minority(spark)
        lbl = emb.groupBy("label").count().orderBy("count", "label").first()["label"]
        n_min = emb.filter(F.col("label") == lbl).count()
        out = smote.smote_oversample(emb, minority_label=lbl, k=3, n_per_base=2)
        pdf = out.toPandas()
        assert len(pdf) == n_min * 2  # exactly n_per_base synthetic rows per base
        assert (pdf["label"] == lbl).all()
        assert pdf.groupby("base_id").size().eq(2).all()

    def test_synth_on_segment_and_deterministic(self, spark):
        from py_evalfilter_spark.operators import smote

        emb = self._minority(spark)
        out = smote.smote_oversample(emb, minority_label=0, k=3, n_per_base=2)
        a = out.orderBy("base_id", "rep").toPandas()
        b = smote.smote_oversample(
            emb, minority_label=0, k=3, n_per_base=2
        ).orderBy("base_id", "rep").toPandas()
        assert a.drop(columns="synth").equals(b.drop(columns="synth"))
        assert all((x == y).all() for x, y in zip(a["synth"], b["synth"]))
        # every coordinate of the synthetic vector lies between base and nbr
        vecs = {
            r["vec_id"]: [float(v) for v in r["embedding"]]
            for r in emb.filter(F.col("label") == 0).collect()
        }
        assert (a["gap"] > 0).all() and (a["gap"] < 1).all()
        for _, r in a.iterrows():
            base, nbr = vecs[r["base_id"]], vecs[r["nbr_id"]]
            for s, x, y in zip(r["synth"], base, nbr):
                lo, hi = min(x, y), max(x, y)
                assert lo - 1e-9 <= s <= hi + 1e-9

    def test_neighbor_injection_matches_exact(self, spark):
        """`neighbors=` (the LSH-at-scale hook) reproduces the default path
        when fed the exact kNN frame."""
        from py_evalfilter_spark.operators import smote

        emb = self._minority(spark)
        m = emb.filter(F.col("label") == 1).select(
            F.col("vec_id").alias("base_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("base_vec"),
        )
        knn = smote.knn_within_class(m, k=3)
        via_inject = smote.smote_oversample(
            emb, minority_label=1, k=3, neighbors=knn
        ).orderBy("base_id", "rep").toPandas()
        default = smote.smote_oversample(emb, minority_label=1, k=3).orderBy(
            "base_id", "rep"
        ).toPandas()
        assert via_inject.drop(columns="synth").equals(default.drop(columns="synth"))


class TestStreamingSessions:
    def test_session_agg_matches_batch(self, spark, transcripts_pdf, tmp_path):
        from py_evalfilter_spark.streaming import sessions

        src = str(tmp_path / "turns")
        sdf = spark.createDataFrame(transcripts_pdf)
        sdf.write.parquet(src)

        stream = spark.readStream.schema(sdf.schema).parquet(src)
        sessions.run_stream_once(
            stream,
            lambda s: sessions.streaming_session_agg(s, gap="30 minutes", watermark="1 hour"),
            "stream_sessions",
            output_mode="complete",
        )
        got = spark.sql("SELECT * FROM stream_sessions").toPandas()

        batch = windows.with_session(sdf, gap_s=1800).toPandas()
        want = (
            batch.groupby(["conv_id", "session_id"])
            .size()
            .reset_index(name="n_turns")
        )
        # same number of sessions per conversation
        g = got.groupby("conv_id").size().sort_index()
        w = want.groupby("conv_id").size().sort_index()
        pd.testing.assert_series_equal(g, w, check_names=False)
        # same multiset of session sizes per conversation
        gs = got.groupby("conv_id")["n_turns"].apply(lambda s: sorted(s)).sort_index()
        ws = want.groupby("conv_id")["n_turns"].apply(lambda s: sorted(s)).sort_index()
        assert (gs == ws).all()

    def test_streaming_hashing_vectorizer_matches_batch(
        self, spark, transcripts_pdf, tmp_path
    ):
        """transform_hashing is fit-free (no broadcast vocabulary state), so
        the SAME call vectorizes a stream — feature indexes are aligned with
        every batch run by construction."""
        from py_evalfilter_spark.operators import vectorize
        from py_evalfilter_spark.streaming import sessions

        src = str(tmp_path / "turns_hash")
        sdf = spark.createDataFrame(transcripts_pdf)
        sdf.write.parquet(src)

        stream = spark.readStream.schema(sdf.schema).parquet(src)
        sessions.run_stream_once(
            stream,
            lambda s: vectorize.transform_hashing(s, n_features=256, tokenizer="rant"),
            "stream_hashed",
            output_mode="complete",
        )
        got = (
            spark.sql("SELECT * FROM stream_hashed")
            .toPandas()
            .sort_values(["conv_id", "turn_idx", "index"])
            .reset_index(drop=True)
        )
        want = (
            vectorize.transform_hashing(sdf, n_features=256, tokenizer="rant")
            .toPandas()
            .sort_values(["conv_id", "turn_idx", "index"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_streaming_features_run(self, spark, transcripts_pdf, tmp_path):
        from py_evalfilter_spark.streaming import sessions

        src = str(tmp_path / "turns2")
        sdf = spark.createDataFrame(transcripts_pdf.head(50))
        sdf.write.parquet(src)
        stream = spark.readStream.schema(sdf.schema).parquet(src)
        sessions.run_stream_once(stream, sessions.streaming_features, "stream_feats")
        out = spark.sql("SELECT * FROM stream_feats").toPandas()
        assert len(out) == 50
        assert "avgTokenLength" in out.columns


class TestStreamingEnrich:
    def test_streaming_asof_enrich_matches_batch_asof(
        self, spark, transcripts_pdf, profiles_pdf, tmp_path
    ):
        """Stream-static interval join ≡ the batch as-of join on identical
        data (backward, exact matches allowed, leak-free)."""
        from py_evalfilter_spark.operators import asof
        from py_evalfilter_spark.streaming import enrich, sessions

        src = str(tmp_path / "turns3")
        sdf = spark.createDataFrame(transcripts_pdf)
        sdf.write.parquet(src)
        prof = spark.createDataFrame(profiles_pdf)

        stream = spark.readStream.schema(sdf.schema).parquet(src)
        sessions.run_stream_once(
            stream,
            lambda s: enrich.streaming_asof_enrich(s, prof),
            "stream_enriched",
        )
        got = (
            spark.sql("SELECT * FROM stream_enriched")
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        want = (
            asof.asof_join(
                sdf, prof, on="ts", by="conv_id", right_ts_alias="profile_ts"
            )
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        value_cols = [c for c in profiles_pdf.columns if c not in ("conv_id", "ts")]
        for col in ["profile_ts"] + value_cols:
            av, bv = got[col], want[col]
            assert ((av == bv) | (av.isna() & bv.isna())).all(), col
        matched = got["profile_ts"].notna()
        assert (got.loc[matched, "profile_ts"] <= got.loc[matched, "ts"]).all()

    def test_streaming_exact_dedup_first_wins(self, spark, tmp_path):
        from py_evalfilter_spark.streaming import enrich, sessions

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": ["aaa", "bbb", "aaa", "ccc", "bbb"],
                "ts": pd.to_datetime([10, 20, 30, 40, 50], unit="s"),
            }
        )
        src = str(tmp_path / "docs")
        sdf = spark.createDataFrame(pdf)
        sdf.write.parquet(src)
        stream = spark.readStream.schema(sdf.schema).parquet(src)
        sessions.run_stream_once(
            stream,
            lambda s: enrich.streaming_exact_dedup(s, ["text"], watermark="1 hour"),
            "stream_dedup",
        )
        got = spark.sql("SELECT * FROM stream_dedup").toPandas()
        assert sorted(got["text"].tolist()) == ["aaa", "bbb", "ccc"]


class TestStatefulConvState:
    def test_state_carries_across_micro_batches(self, spark, transcripts_pdf, tmp_path):
        """applyInPandasWithState running per-conversation stats: the source
        is split into TWO files processed one-per-trigger, so the final
        emitted row per conversation must merge state across micro-batches
        — equal to the batch groupBy over the full data."""
        from pyspark.sql import functions as F

        from py_evalfilter_spark.streaming import sessions

        src = str(tmp_path / "turns_state")
        sdf = spark.createDataFrame(transcripts_pdf)
        # split by ROW RANGE inside each conversation so most convs appear
        # in BOTH files (true cross-batch state merge, not disjoint keys)
        a = sdf.filter(F.col("turn_idx") % 2 == 0)
        b = sdf.filter(F.col("turn_idx") % 2 == 1)
        a.coalesce(1).write.parquet(f"{src}/f=1")
        b.coalesce(1).write.parquet(f"{src}/f=2")

        stream = (
            spark.readStream.schema(sdf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        sessions.run_stream_once(
            stream, sessions.streaming_conv_state, "conv_state", output_mode="update"
        )
        got_all = spark.sql("SELECT * FROM conv_state").toPandas()
        # update mode emits one row per (conv, batch-with-updates): keep the
        # final state = max n_turns per conv (monotone counter)
        got = (
            got_all.sort_values("n_turns")
            .groupby("conv_id", as_index=False)
            .last()
            .sort_values("conv_id")
            .reset_index(drop=True)
        )
        want = (
            sdf.groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(F.length("text")).alias("total_chars"),
                F.min(F.col("ts").cast("long")).alias("first_ep"),
                F.max(F.col("ts").cast("long")).alias("last_ep"),
            )
            .toPandas()
            .sort_values("conv_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        # and the split really exercised cross-batch merge: some conv got
        # updates in both micro-batches
        multi = got_all.groupby("conv_id").size()
        assert (multi >= 2).any(), "no conversation spanned two micro-batches"


class TestStreamingNearDup:
    def test_minhash_candidates_across_micro_batches(self, spark, tmp_path):
        """Streaming MinHash LSH (applyInPandasWithState keyed by
        (band, bucket)): near-dup docs arriving in DIFFERENT micro-batches
        must still pair — the bucket state carries earlier signatures.
        The emitted candidate set must cover the batch operator's verified
        pairs on the same corpus (same n/num_perm/bands/seed/unit)."""
        from pyspark.sql import functions as F

        from py_evalfilter_spark.operators import dedup
        from py_evalfilter_spark.streaming import neardup, sessions

        texts = {
            1: "the quick brown fox jumps over the lazy dog tonight",
            2: "the quick brown fox jumps over the lazy dog tonight",   # exact dup of 1
            3: "the quick brown fox jumps over the lazy cat tonight",   # near dup of 1/2
            4: "partition pruning and predicate pushdown in parquet scans everywhere",
            5: "partition pruning and predicate pushdown in parquet scans everywhere",  # exact dup of 4
            6: "a completely different document about cooking pasta recipes",
            7: "structured streaming state stores and watermarks explained",
        }
        pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        sdf = spark.createDataFrame(pdf)
        src = str(tmp_path / "neardup_docs")
        # dup pairs STRADDLE the two files: 1|2, 4|5 in different batches
        sdf.filter(F.col("doc_id").isin(1, 3, 4, 6)).coalesce(1).write.parquet(f"{src}/f=1")
        sdf.filter(F.col("doc_id").isin(2, 5, 7)).coalesce(1).write.parquet(f"{src}/f=2")

        stream = (
            spark.readStream.schema(sdf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        sessions.run_stream_once(
            stream,
            lambda s: neardup.streaming_minhash_candidates(s, unit="word"),
            "stream_neardup",
        )
        got = spark.sql("SELECT * FROM stream_neardup").toPandas()
        # per-band multiplicity is documented; dedup to pairs, keep max est
        cands = got.groupby(["doc_id", "dup_id"])["est"].max().to_dict()

        # cross-micro-batch exact dups found with estimate 1.0
        assert cands.get((1, 2)) == 1.0
        assert cands.get((4, 5)) == 1.0
        # batch verified pairs are covered by the stream's candidate set
        batch = dedup.minhash_lsh_pairs(sdf, "doc_id", "text", unit="word").toPandas()
        for a, b in zip(batch.doc_id, batch.dup_id):
            assert (a, b) in cands, (a, b)
        # the unrelated doc never pairs
        assert not any(6 in p for p in cands)

    def test_incremental_sink_matches_batch_operator(self, spark, tmp_path):
        """foreachBatch incremental near-dup (signature-store design,
        BENCH/BASELINE.md r6): union of per-batch verified pairs must
        EQUAL the batch operator's full pair set — every pair is emitted
        by the batch its later member arrives in, exactly once, with the
        same jaccard."""
        from pyspark.sql import functions as F

        from py_evalfilter_spark.operators import dedup
        from py_evalfilter_spark.streaming import neardup

        texts = {
            1: "the quick brown fox jumps over the lazy dog tonight",
            2: "the quick brown fox jumps over the lazy dog tonight",
            3: "the quick brown fox jumps over the lazy cat tonight",
            4: "partition pruning and predicate pushdown in parquet scans everywhere",
            5: "partition pruning and predicate pushdown in parquet scans everywhere",
            6: "a completely different document about cooking pasta recipes",
            7: "structured streaming state stores and watermarks explained",
        }
        pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        sdf = spark.createDataFrame(pdf)
        src = str(tmp_path / "incr_docs")
        # dup pairs straddle batches: (1,2) across f1/f2, (4,5) across f1/f3;
        # (1,3) and (2,3) exercise new-vs-standing AND new-vs-new
        sdf.filter(F.col("doc_id").isin(1, 4, 6)).coalesce(1).write.parquet(f"{src}/f=1")
        sdf.filter(F.col("doc_id").isin(2, 3)).coalesce(1).write.parquet(f"{src}/f=2")
        sdf.filter(F.col("doc_id").isin(5, 7)).coalesce(1).write.parquet(f"{src}/f=3")

        store = str(tmp_path / "incr_store")
        stream = (
            spark.readStream.schema(sdf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        q = (
            stream.writeStream.foreachBatch(
                neardup.incremental_neardup_sink(store, threshold=0.7, unit="char")
            )
            .option("checkpointLocation", str(tmp_path / "incr_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        got = spark.read.parquet(f"{store}/pairs").drop("batch").toPandas()
        want = dedup.minhash_lsh_pairs(
            sdf, "doc_id", "text", threshold=0.7
        ).toPandas()
        key = lambda df: {
            (a, b): j for a, b, j in zip(df.doc_id, df.dup_id, df.jaccard)
        }
        assert key(got) == key(want)
        assert len(got) == len(got.drop_duplicates(["doc_id", "dup_id"]))
        assert (1, 2) in key(got) and (4, 5) in key(got)  # cross-batch pairs

    def test_incremental_sink_replay_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-delivering a batch_id must
        overwrite its own previous attempt (batch=N dirs) and must NOT see
        its first attempt's signatures as standing state (batch < N read
        filter) — pairs and store row counts end identical to a single
        delivery."""
        import pandas as pd

        from py_evalfilter_spark.streaming import neardup

        store = str(tmp_path / "replay_store")
        sink = neardup.incremental_neardup_sink(store, threshold=0.7, unit="char")
        b0 = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["the quick brown fox jumps over the lazy dog tonight",
                     "an unrelated standing doc about parquet file readers"],
        }))
        b1 = spark.createDataFrame(pd.DataFrame({
            "doc_id": [3],
            "text": ["the quick brown fox jumps over the lazy dog tonite"],
        }))
        sink(b0, 0)
        sink(b1, 1)
        once_pairs = sorted(
            map(tuple, spark.read.parquet(f"{store}/pairs")
                .select("doc_id", "dup_id", "jaccard").collect())
        )
        once_sigs = spark.read.parquet(f"{store}/signatures").count()
        sink(b1, 1)  # replay the same batch
        again_pairs = sorted(
            map(tuple, spark.read.parquet(f"{store}/pairs")
                .select("doc_id", "dup_id", "jaccard").collect())
        )
        assert again_pairs == once_pairs and once_pairs  # (1,3) found once
        assert spark.read.parquet(f"{store}/signatures").count() == once_sigs

    def test_replayed_docs_do_not_duplicate_pairs(self, spark, tmp_path):
        """At-least-once replay (ADVICE r4): redelivering the same docs in
        a later micro-batch must add NOTHING — no duplicate state entries,
        no re-emitted pairs.  Two exact-dup docs share all 16 band buckets,
        so the pair appears exactly 16 times regardless of replays."""
        from py_evalfilter_spark.streaming import neardup, sessions

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["spark structured streaming state store eviction test"] * 2,
            }
        )
        sdf = spark.createDataFrame(pdf)
        src = str(tmp_path / "replay_docs")
        sdf.coalesce(1).write.parquet(f"{src}/f=1")
        sdf.coalesce(1).write.parquet(f"{src}/f=2")  # exact redelivery

        stream = (
            spark.readStream.schema(sdf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        sessions.run_stream_once(
            stream,
            lambda s: neardup.streaming_minhash_candidates(s, unit="word"),
            "stream_replay",
        )
        got = spark.sql("SELECT * FROM stream_replay").toPandas()
        assert set(zip(got.doc_id, got.dup_id)) == {(1, 2)}
        assert len(got) == 16, f"replay duplicated emissions: {len(got)} rows"

    def test_non_integral_id_rejected(self, spark):
        """The state schema stores ids as long; a string id column must be
        rejected up front instead of silently int()-truncating (ADVICE r4)."""
        from py_evalfilter_spark.streaming import neardup

        sdf = spark.createDataFrame(
            pd.DataFrame({"doc_id": ["a"], "text": ["some text"]})
        )
        with pytest.raises(TypeError, match="integral"):
            neardup.streaming_minhash_candidates(sdf)

    def test_bucket_cap_evicts_oldest_fifo(self, spark, tmp_path):
        """max_bucket_size bounds per-bucket state on an adversarial flood
        (VERDICT r4 #5): with cap=2 and four identical docs in four
        micro-batches, doc 4 pairs only against the two MOST RECENT state
        entries — the oldest was evicted."""
        from py_evalfilter_spark.streaming import neardup, sessions

        text = "adversarial flood of identical documents hammering one bucket"
        schema = "doc_id long, text string"
        src = str(tmp_path / "flood_docs")
        for i in (1, 2, 3, 4):
            spark.createDataFrame([(i, text)], schema).coalesce(1).write.parquet(
                f"{src}/f={i}"
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        sessions.run_stream_once(
            stream,
            lambda s: neardup.streaming_minhash_candidates(
                s, unit="word", max_bucket_size=2
            ),
            "stream_flood",
        )
        got = spark.sql("SELECT * FROM stream_flood").toPandas()
        pairs = set(zip(got.doc_id, got.dup_id))
        assert (2, 4) in pairs and (3, 4) in pairs
        assert (1, 4) not in pairs, "oldest entry was not evicted"
        assert {(1, 2), (1, 3), (2, 3)} <= pairs  # pre-eviction pairs intact

    def test_idle_bucket_timeout_returns_state_to_bounded(self, spark, tmp_path):
        """Idle buckets are evicted after `timeout` (VERDICT r4 #5: a long
        stream with idle buckets must return to bounded state): doc 1's
        state is swept to ZERO rows by the engine's no-data timer batches
        while the stream idles, so a later exact dup of doc 1 finds empty
        state and emits no pair.

        NOTE: driven by progress polling, not processAllAvailable — with
        ProcessingTimeTimeout this Spark build never reports "caught up"
        (the timer machinery keeps scheduling micro-batches), so
        processAllAvailable blocks forever (measured; hence also why
        `timeout` is opt-in rather than a default)."""
        import time

        from py_evalfilter_spark.streaming import neardup

        schema = "doc_id long, text string"
        src = str(tmp_path / "timeout_docs")
        text_a = "the first document whose bucket state must expire eventually"
        spark.createDataFrame([(1, text_a)], schema).coalesce(1).write.parquet(
            f"{src}/f=1"
        )
        stream = spark.readStream.schema(schema).parquet(f"{src}/f=*")
        out = neardup.streaming_minhash_candidates(
            stream, unit="word", timeout="1 second"
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("stream_timeout")
            .start()
        )

        def inputs() -> int:
            return sum(p.numInputRows for p in q.recentProgress)

        def state_rows():
            lp = q.lastProgress
            if not lp or not lp.get("stateOperators"):
                return None
            return lp["stateOperators"][0]["numRowsTotal"]

        def wait(cond, t=90.0) -> bool:
            deadline = time.time() + t
            while time.time() < deadline:
                if cond():
                    return True
                time.sleep(0.3)
            return False

        try:
            # doc 1 lands: one state row per band bucket
            assert wait(lambda: state_rows() == 16), q.lastProgress
            # the stream idles past the timeout: the timer sweep must
            # return the state store to ZERO rows — the bounded-state claim
            assert wait(lambda: state_rows() == 0), q.lastProgress
            # exact dup of doc 1 — state was evicted, so NO pair
            spark.createDataFrame([(2, text_a)], schema).coalesce(1).write.parquet(
                f"{src}/f=2"
            )
            assert wait(lambda: inputs() >= 2), q.lastProgress
            time.sleep(2)  # let the f=2 batch's (empty) output commit
        finally:
            q.stop()
        got = spark.sql("SELECT * FROM stream_timeout").toPandas()
        assert len(got) == 0, f"evicted bucket still paired: {got}"


class TestNearDupGroupCoalesce:
    def test_coalesced_groups_match_per_bucket_groups(self, spark, tmp_path):
        """group_coalesce changes only the physical state grouping: the
        emitted (pair, est) multiset must be identical to the
        one-group-per-bucket shape, including with a P small enough that
        unrelated buckets share every group."""
        from py_evalfilter_spark.streaming import neardup, sessions

        texts = {
            1: "the quick brown fox jumps over the lazy dog tonight",
            2: "the quick brown fox jumps over the lazy dog today",
            3: "completely different content about spark partitions",
            4: "structured streaming stateful operators in production",
            5: "the quick brown fox jumps over the lazy dog tonight",
        }
        pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        sdf = spark.createDataFrame(pdf)
        src = str(tmp_path / "coalesce_docs")
        sdf.filter(F.col("doc_id") <= 3).coalesce(1).write.parquet(f"{src}/f=1")
        sdf.filter(F.col("doc_id") > 3).coalesce(1).write.parquet(f"{src}/f=2")

        results = {}
        for name, coalesce in (("per_bucket", None), ("coalesced", 2)):
            stream = (
                spark.readStream.schema(sdf.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/f=*")
            )
            sessions.run_stream_once(
                stream,
                lambda s, c=coalesce: neardup.streaming_minhash_candidates(
                    s, unit="word", group_coalesce=c
                ),
                f"stream_coalesce_{name}",
            )
            got = spark.sql(f"SELECT * FROM stream_coalesce_{name}").toPandas()
            results[name] = sorted(
                zip(got.doc_id, got.dup_id, got.est.round(4))
            )
        assert results["per_bucket"] == results["coalesced"]
        assert len(results["per_bucket"]) > 0
