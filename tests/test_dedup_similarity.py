"""Dedup + similarity operators: exactness, LSH recall, determinism."""

import numpy as np
import pandas as pd
import pytest
from conftest import relation_root_paths
from pyspark.sql import functions as F

from py_evalfilter_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog!",  # near-dup of 0
                "a completely different document about spark sql",
                "the quick brown fox jumps over the lazy cat",  # near-dup of 0/1
                "hello world",
                "hello world",  # exact dup of 4
                "partition pruning and predicate pushdown in parquet",
                "partition pruning and predicate pushdown in parquet scans",  # near 6
                "tiny",
                "completely unrelated text about cooking pasta recipes",
                "spark sql is a completely different engine document",
                "",
            ],
            "source": ["s"] * 12,
        }
    )
    return spark.createDataFrame(pdf)


def _brute_jaccard_pairs(pdf, n=3, threshold=0.6):
    def sh(t):
        return {t[i : i + n] for i in range(max(len(t) - n + 1, 1))} if t else set()

    out = set()
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            a, b = sh(pdf.text[i]), sh(pdf.text[j])
            if not a and not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                out.add((pdf.doc_id[i], pdf.doc_id[j]))
    return out


class TestDedup:
    def test_exact(self, spark, docs):
        out = dedup.exact_dedup(docs, ["text"], "doc_id").toPandas()
        assert len(out) == 11  # 12 docs, one exact dup
        dup_row = out[out.n_copies > 1]
        assert len(dup_row) == 1 and dup_row.keep_id.iloc[0] == 4

    def test_fuzzy_window(self, spark, docs):
        out = dedup.fuzzy_window_pairs(
            docs, "doc_id", "text", order_col="doc_id", partition_col="source",
            lookahead=3, threshold=90.0,
        ).toPandas()
        pairs = set(zip(out.doc_id, out.dup_id))
        assert (0, 1) in pairs  # one-char edit within lookahead
        assert (4, 5) in pairs  # exact dup
        assert all(d - s <= 3 for s, d in pairs)

    def test_ngram_jaccard_exact_vs_brute(self, spark, docs):
        pdf = docs.toPandas()
        want = _brute_jaccard_pairs(pdf, n=3, threshold=0.6)
        got = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, max_shingle_df=None
        ).toPandas()
        assert set(zip(got.doc_id, got.dup_id)) == want

    def test_minhash_lsh_recall_and_precision(self, spark, docs):
        pdf = docs.toPandas()
        want = _brute_jaccard_pairs(pdf, n=3, threshold=0.7)
        got = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.7
        ).toPandas()
        got_pairs = set(zip(got.doc_id, got.dup_id))
        # precision 1.0 by construction (exact verify); recall high at j>=0.7
        assert got_pairs <= set(_brute_jaccard_pairs(pdf, n=3, threshold=0.7))
        assert len(got_pairs) >= len(want) - 1  # allow one LSH miss at the margin

    def test_minhash_incremental_equals_full_restricted(self, spark, docs):
        """The incremental operator's contract: output ≡ the FULL
        operator's pairs over new ∪ old, restricted to pairs touching the
        new shard — with identical jaccard values.  Both shingle units:
        word is what the curation and shard-ingest paths run."""
        from pyspark.sql import functions as F

        new = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat("text", F.lit(" z")).alias("text"),
        )
        new_ids = {r["doc_id"] for r in new.collect()}
        for unit in ("char", "word"):
            full = dedup.minhash_lsh_pairs(
                docs.select("doc_id", "text").unionByName(new),
                "doc_id", "text", n=3, threshold=0.7, unit=unit,
            ).toPandas()
            want = {
                (a, b): j
                for a, b, j in zip(full.doc_id, full.dup_id, full.jaccard)
                if a in new_ids or b in new_ids
            }
            got = dedup.minhash_lsh_pairs_incremental(
                new, docs.select("doc_id", "text"), "doc_id", "text",
                n=3, threshold=0.7, unit=unit,
            ).toPandas()
            assert {
                (a, b): j for a, b, j in zip(got.doc_id, got.dup_id, got.jaccard)
            } == want, unit
            assert want, unit  # non-vacuous: the shard near-dups the corpus

    def test_minhash_incremental_never_pairs_old_with_old(self, spark):
        """Two identical OLD docs never pair (their dup was settled when
        they entered the standing corpus); a new doc identical to both
        pairs with each, and the two new copies pair once with each other."""
        old = spark.createDataFrame(
            [(1, "the standing corpus has this exact document twice over"),
             (2, "the standing corpus has this exact document twice over"),
             (3, "an unrelated standing document about parquet file readers")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, "the standing corpus has this exact document twice over"),
             (11, "the standing corpus has this exact document twice over")],
            "doc_id long, text string",
        )
        got = dedup.minhash_lsh_pairs_incremental(
            new, old, "doc_id", "text"
        ).toPandas()
        assert set(zip(got.doc_id, got.dup_id)) == {
            (1, 10), (2, 10), (1, 11), (2, 11), (10, 11)
        }

    def test_minhash_incremental_persisted_sigs_identical(self, spark, docs):
        """The amortized daily-shard mode: passing a precomputed
        minhash_signatures(old) table as `old_sigs` must produce output
        identical to recomputing signatures in-op (same params ⇒ same
        signatures ⇒ same buckets, estimates, and verified pairs)."""
        from pyspark.sql import functions as F

        new = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat("text", F.lit(" z")).alias("text"),
        )
        old = docs.select("doc_id", "text")
        in_op = dedup.minhash_lsh_pairs_incremental(
            new, old, "doc_id", "text", n=3, threshold=0.7,
        ).toPandas()
        store = dedup.minhash_signatures(old, "doc_id", "text", n=3)
        amortized = dedup.minhash_lsh_pairs_incremental(
            new, old, "doc_id", "text", n=3, threshold=0.7, old_sigs=store,
        ).toPandas()
        key = lambda df: {
            (a, b): j for a, b, j in zip(df.doc_id, df.dup_id, df.jaccard)
        }
        assert key(amortized) == key(in_op) and len(in_op)

    def test_minhash_incremental_banded_store_identical(
        self, spark, docs, tmp_path
    ):
        """The stored-layout mode (write_neardup_store → old_sigs +
        old_banded) must produce output identical to the recompute path —
        same signatures ⇒ same banding ⇒ same candidates, estimates, and
        verified pairs — at both shingle units."""
        import uuid

        from pyspark.sql import functions as F

        new = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat("text", F.lit(" z")).alias("text"),
        )
        old = docs.select("doc_id", "text")
        key = lambda df: {
            (a, b): j for a, b, j in zip(df.doc_id, df.dup_id, df.jaccard)
        }
        for unit in ("char", "word"):
            want = dedup.minhash_lsh_pairs_incremental(
                new, old, "doc_id", "text", n=3, threshold=0.7, unit=unit,
            ).toPandas()
            prefix = f"nd_{uuid.uuid4().hex[:8]}"
            dedup.write_neardup_store(
                dedup.minhash_signatures(old, "doc_id", "text", n=3, unit=unit),
                prefix, n_buckets=4, path=str(tmp_path / f"store_{unit}"),
            )
            try:
                s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
                got = dedup.minhash_lsh_pairs_incremental(
                    new, old, "doc_id", "text", n=3, threshold=0.7, unit=unit,
                    old_sigs=s_sigs, old_banded=s_banded,
                ).toPandas()
                assert key(got) == key(want), unit
                assert len(want), unit
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
                spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    def test_minhash_incremental_store_append_flow(self, spark, docs, tmp_path):
        """The daily loop: backfill store from A, dedup shard B against it,
        fold B in (append_neardup_store), dedup shard C against A∪B — each
        shard's output must equal the recompute-path incremental over the
        same standing corpus."""
        import uuid

        from pyspark.sql import functions as F

        A = docs.select("doc_id", "text")
        mk = lambda off, suffix: docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.concat("text", F.lit(suffix)).alias("text"),
        )
        B, C = mk(1000, " z"), mk(2000, " q")
        prefix = f"nd_{uuid.uuid4().hex[:8]}"
        dedup.write_neardup_store(
            dedup.minhash_signatures(A, "doc_id", "text", n=3),
            prefix, n_buckets=4, path=str(tmp_path / "store"),
        )
        key = lambda df: {
            (a, b): j for a, b, j in zip(df.doc_id, df.dup_id, df.jaccard)
        }
        try:
            s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
            got_b = dedup.minhash_lsh_pairs_incremental(
                B, A, "doc_id", "text", n=3, threshold=0.7,
                old_sigs=s_sigs, old_banded=s_banded,
            ).toPandas()
            want_b = dedup.minhash_lsh_pairs_incremental(
                B, A, "doc_id", "text", n=3, threshold=0.7,
            ).toPandas()
            assert key(got_b) == key(want_b) and len(want_b)

            dedup.append_neardup_store(
                dedup.minhash_signatures(B, "doc_id", "text", n=3),
                prefix, n_buckets=4,
            )
            s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
            AB = A.unionByName(B)
            got_c = dedup.minhash_lsh_pairs_incremental(
                C, AB, "doc_id", "text", n=3, threshold=0.7,
                old_sigs=s_sigs, old_banded=s_banded,
            ).toPandas()
            want_c = dedup.minhash_lsh_pairs_incremental(
                C, AB, "doc_id", "text", n=3, threshold=0.7,
            ).toPandas()
            assert key(got_c) == key(want_c) and len(want_c)
            # C near-dups B's shifted copies too, so the append really
            # entered the standing corpus (non-vacuous)
            assert any(a >= 1000 and b >= 2000 for a, b in key(got_c))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    def test_neardup_store_compaction(self, spark, docs, tmp_path):
        """compact_neardup_store: after several appends the banded table
        carries append debris (many small files); compaction rewrites both
        tables, SHRINKS the banded file count, keeps row-level content
        identical, keeps the (band,bucket) bucketing (incremental results
        unchanged), and survives repeat compactions."""
        import os
        import uuid

        from pyspark.sql import functions as F

        A = docs.select("doc_id", "text")
        prefix = f"nd_{uuid.uuid4().hex[:8]}"
        store_dir = tmp_path / "store"
        dedup.write_neardup_store(
            dedup.minhash_signatures(A, "doc_id", "text", n=3),
            prefix, n_buckets=4, path=str(store_dir),
        )
        try:
            for off in (1000, 2000, 3000):
                shard = docs.select(
                    (F.col("doc_id") + off).alias("doc_id"),
                    F.concat("text", F.lit(f" s{off}")).alias("text"),
                )
                dedup.append_neardup_store(
                    dedup.minhash_signatures(shard, "doc_id", "text", n=3),
                    prefix, n_buckets=4,
                )
            def banded_rows():
                _, b = dedup.read_neardup_store(spark, prefix)
                return sorted(
                    (r["doc_id"], r["band"], r["bucket"]) for r in b.collect()
                )
            def n_files(sub):
                d = store_dir / sub
                if not d.exists():
                    # compaction relocates data dirs under the store base
                    return None
                return sum(
                    1 for f in os.listdir(d) if f.endswith(".parquet")
                )
            before = banded_rows()
            files_before = n_files("banded")
            dedup.compact_neardup_store(spark, prefix, n_buckets=4)
            assert banded_rows() == before
            # compacted data lives in a fresh dir under the same base
            gen_dirs = [
                d for d in os.listdir(store_dir)
                if d.startswith("banded_") and d != "banded"
            ]
            assert len(gen_dirs) == 1
            files_after = sum(
                1 for f in os.listdir(store_dir / gen_dirs[0])
                if f.endswith(".parquet")
            )
            assert files_after < files_before, (files_after, files_before)
            assert files_after <= 4, files_after  # n_buckets
            # incremental over the compacted store still matches recompute
            new = docs.select(
                (F.col("doc_id") + 9000).alias("doc_id"),
                F.concat("text", F.lit(" s1000")).alias("text"),
            )
            AB = A
            for off in (1000, 2000, 3000):
                AB = AB.unionByName(
                    docs.select(
                        (F.col("doc_id") + off).alias("doc_id"),
                        F.concat("text", F.lit(f" s{off}")).alias("text"),
                    )
                )
            s_sigs, s_banded = dedup.read_neardup_store(spark, prefix)
            key = lambda df: {
                (a, b): j for a, b, j in zip(df.doc_id, df.dup_id, df.jaccard)
            }
            got = dedup.minhash_lsh_pairs_incremental(
                new, AB, "doc_id", "text", n=3, threshold=0.7,
                old_sigs=s_sigs, old_banded=s_banded,
            ).toPandas()
            want = dedup.minhash_lsh_pairs_incremental(
                new, AB, "doc_id", "text", n=3, threshold=0.7,
            ).toPandas()
            assert key(got) == key(want) and len(want)
            # second compaction (fresh unique dirs) also works
            dedup.compact_neardup_store(spark, prefix, n_buckets=4)
            assert banded_rows() == before
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    def test_neardup_store_append_adds_one_file_per_bucket(
        self, spark, docs, tmp_path
    ):
        """append_neardup_store of a shard spread over more tasks than the
        store has buckets adds at most n_buckets banded files: the bucketed
        write clusters rows by bucket id, not one file per task x bucket."""
        import os
        import uuid

        prefix = f"nd_{uuid.uuid4().hex[:8]}"
        banded_dir = tmp_path / "store" / "banded"
        dedup.write_neardup_store(
            dedup.minhash_signatures(docs.select("doc_id", "text"), "doc_id", "text", n=3),
            prefix, n_buckets=4, path=str(tmp_path / "store"),
        )
        n_files = lambda: sum(1 for f in os.listdir(banded_dir) if f.endswith(".parquet"))
        try:
            before = n_files()
            shard = docs.select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            ).repartition(6)
            sigs = dedup.minhash_signatures(shard, "doc_id", "text", n=3)
            assert sigs.rdd.getNumPartitions() >= 4
            dedup.append_neardup_store(sigs, prefix, n_buckets=4)
            assert 0 < n_files() - before <= 4, (before, n_files())
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_sigs")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_banded")

    @pytest.mark.parametrize("mode", ["maxlen", "fuzz"])
    def test_fuzzy_window_length_prefilter_is_exact(self, spark, mode):
        """The thresholded scan drops pairs on their length bound before
        the Levenshtein; its output must equal the unthresholded scan
        filtered afterwards, with null and empty texts in the window, and
        the bound must actually reject pairs (non-vacuous)."""
        rng = np.random.default_rng(7)
        base = "the quick brown fox jumps over the lazy dog"
        texts = []
        for i in range(240):
            cut = int(rng.integers(0, len(base) + 1))
            t = base[:cut] + "".join(rng.choice(list("abc "), size=int(rng.integers(0, 4))))
            texts.append({0: "", 1: None}.get(i % 17, t))
        pdf = pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts,
             "source": [f"s{i % 3}" for i in range(len(texts))]}
        )
        df = spark.createDataFrame(pdf, "doc_id long, text string, source string")
        kw = dict(order_col="doc_id", partition_col="source", lookahead=3,
                  ratio_mode=mode)
        every = dedup.fuzzy_window_pairs(df, "doc_id", "text", threshold=None, **kw)
        for thr in (50.0, 80.0, 90.0):
            got = dedup.fuzzy_window_pairs(df, "doc_id", "text", threshold=thr, **kw)
            want = every.filter(F.col("ratio") > thr)
            key = lambda d: sorted(map(tuple, d.select("doc_id", "dup_id", "ratio").collect()))
            assert key(got) == key(want), (mode, thr)
            assert len(key(want)), (mode, thr)
        # non-vacuous: some non-null candidate's lengths differ by more than
        # 20% of the longer one, which caps its ratio below 90 in both modes
        ln = {i: len(t) for i, t in enumerate(texts) if t is not None}
        assert any(
            a in ln and b in ln and abs(ln[a] - ln[b]) > 0.2 * max(ln[a], ln[b])
            for a, b in every.select("doc_id", "dup_id").collect()
        )

    def test_minhash_incremental_banded_requires_sigs(self, spark, docs):
        import pytest

        banded = dedup.band_buckets(
            dedup.minhash_signatures(
                docs.select("doc_id", "text"), "doc_id", "text", n=3
            ),
            16, 4,
        )
        with pytest.raises(ValueError, match="old_banded requires old_sigs"):
            dedup.minhash_lsh_pairs_incremental(
                docs.select("doc_id", "text"), docs.select("doc_id", "text"),
                "doc_id", "text", n=3, old_banded=banded,
            )

    def test_minhash_deterministic(self, spark, docs):
        a = dedup.minhash_signatures(docs, "doc_id", "text").toPandas()
        b = dedup.minhash_signatures(docs, "doc_id", "text").toPandas()
        a = a.sort_values("doc_id").reset_index(drop=True)
        b = b.sort_values("doc_id").reset_index(drop=True)
        assert all(list(x) == list(y) for x, y in zip(a.signature, b.signature))

    def test_simhash_pairs(self, spark, docs):
        out = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=6).toPandas()
        pairs = set(zip(out.doc_id, out.dup_id))
        assert (4, 5) in pairs  # exact dup → hamming 0
        ham = dict(zip(zip(out.doc_id, out.dup_id), out.hamming))
        assert ham[(4, 5)] == 0
        # near-dup (one word changed) should be within 6 bits
        assert (0, 1) in pairs or (0, 3) in pairs

    def test_simhash_pigeonhole_exact_vs_brute_force(self, spark):
        # 4 bands x 16 bits: any pair at hamming <= 3 differs in at most 3
        # bands, so it SHARES one — the blocked output must EXACTLY equal
        # the unblocked all-pairs join at max_hamming=3 (the sibling-gate
        # pattern: recall 1.0 by construction, not by luck)
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        dups = docs.selectExpr(
            "doc_id + 1000000 AS doc_id", "concat(text, ' x') AS text"
        ).filter(F.col("doc_id") % 5 == 0)
        corpus = docs.select("doc_id", "text").unionByName(dups)

        blocked = dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=3)
        sigs = dedup.simhash_signatures(corpus, "doc_id", "text")
        a, b = sigs.alias("a"), sigs.alias("b")
        brute = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("dup_id"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
        )
        got = {tuple(r) for r in blocked.collect()}
        want = {tuple(r) for r in brute.collect()}
        assert got == want and len(want) > 0

    def test_simhash_zero_token_docs_pair_at_zero(self, spark):
        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", "!!!", "real text here"]})
        out = dedup.simhash_pairs(
            spark.createDataFrame(pdf), "doc_id", "text", max_hamming=0
        ).toPandas()
        assert set(zip(out.doc_id, out.dup_id)) == {(1, 2)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    def test_brute_topk_matches_numpy(self, spark, emb):
        queries = emb.filter(F.col("vec_id") < 3)
        got = similarity.brute_force_topk(emb, queries, k=5).toPandas()
        pdf = emb.toPandas()
        M = np.stack([np.asarray(v, dtype="float64") for v in pdf.embedding])
        ids = pdf.vec_id.to_numpy()
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        for qid in range(3):
            qrow = np.flatnonzero(ids == qid)[0]
            sims = Mn @ Mn[qrow]
            order = sorted(
                [(round(s, 4), i) for s, i in zip(sims, ids) if i != qid],
                key=lambda t: (-t[0], t[1]),
            )[:5]
            want = [i for _, i in order]
            have = got[got.qid == qid].sort_values("rank").nid.tolist()
            assert have == want, f"qid={qid}"

    def test_lsh_recall(self, spark, emb):
        queries = emb.filter(F.col("vec_id") < 10)
        brute = similarity.brute_force_topk(emb, queries, k=5).toPandas()
        ann = similarity.lsh_topk(emb, queries, k=5).toPandas()
        recall_hits = 0
        total = 0
        for qid in range(10):
            want = set(brute[brute.qid == qid].nid)
            have = set(ann[ann.qid == qid].nid)
            recall_hits += len(want & have)
            total += len(want)
        recall = recall_hits / total
        assert recall >= 0.5, f"ANN recall too low: {recall}"

    def test_embedding_neardup_self_consistency(self, spark, emb):
        # duplicate a few vectors with new ids; near-dup must find them
        dup = emb.filter(F.col("vec_id") < 3).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
        both = emb.unionByName(dup)
        out = dedup.embedding_neardup_pairs(
            both, "vec_id", "embedding", threshold=0.999, n_planes=12
        ).toPandas()
        pairs = set(zip(out.doc_id, out.dup_id))
        for i in range(3):
            assert (i, i + 100000) in pairs


class TestFuzzyWindowDedupChain:
    """Exact reference chain semantics (deduplicate_rants.py walk)."""

    def test_dup_of_dup_survives(self, spark):
        # 0 ~ 1 (dup), 1 ~ 2 (dup) but 0 !~ 2 → reference keeps 0 and 2
        base = "the quick brown fox jumps over the lazy dog and runs far away"
        # hop1: 5 single-char edits; hop2: 5 MORE disjoint edits → 0 vs 2 has
        # 10 edits (ratio ~84 <= 90) while each hop stays > 90
        hop1 = (base.replace("quick", "quack").replace("brown", "crown")
                    .replace("fox", "fix").replace("jumps", "bumps").replace("over", "ever"))
        hop2 = (hop1.replace("lazy", "hazy").replace("dog", "dig")
                    .replace("runs", "rung").replace("far", "fur").replace("away", "awry"))
        import pandas as pd
        pdf = pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [base, hop1, hop2],
            "source": ["s"] * 3,
        })
        from py_evalfilter_spark.operators import dedup as dd
        assert dd._lev_ratio(pdf.text[0], pdf.text[1]) > 90
        assert dd._lev_ratio(pdf.text[1], pdf.text[2]) > 90
        assert dd._lev_ratio(pdf.text[0], pdf.text[2]) <= 90
        out = dd.fuzzy_window_dedup(
            spark.createDataFrame(pdf), "doc_id", "text",
            order_col="doc_id", partition_col="source",
            threshold=90.0, min_length=None,
        ).toPandas()
        assert sorted(out.doc_id) == [0, 2]  # 1 dropped; 2 (dup-of-dup) survives

    def test_min_length_filter(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "doc_id": [0, 1],
            "text": ["short", "x" * 60],
            "source": ["s", "s"],
        })
        from py_evalfilter_spark.operators import dedup as dd
        out = dd.fuzzy_window_dedup(
            spark.createDataFrame(pdf), "doc_id", "text",
            order_col="doc_id", partition_col="source", min_length=50,
        ).toPandas()
        assert sorted(out.doc_id) == [1]


class TestIvf:
    def test_ivf_recall_beats_candidate_fraction(self, spark):
        from pyspark.sql import functions as F
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 10)
        brute = similarity.brute_force_topk(emb, queries, k=5).toPandas()
        ivf = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=6).toPandas()
        hits = tot = 0
        for qid in range(10):
            want = set(brute[brute.qid == qid].nid)
            have = set(ivf[ivf.qid == qid].nid)
            hits += len(want & have); tot += len(want)
        recall = hits / tot
        # candidate fraction ~6/16=0.375; near neighbors concentrate in
        # probed cells so recall must clearly beat random-candidate recall
        assert recall >= 0.6, f"IVF recall {recall}"

    def test_ivf_deterministic(self, spark):
        from pyspark.sql import functions as F
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 3)
        a = similarity.ivf_topk(emb, queries, k=5).toPandas().sort_values(["qid","rank"]).reset_index(drop=True)
        b = similarity.ivf_topk(emb, queries, k=5).toPandas().sort_values(["qid","rank"]).reset_index(drop=True)
        assert (a == b).all().all()


class TestHashAndRatioPrimitives:
    def test_mulmod_m61_exact_vs_python_ints(self):
        """The vectorized (a*h) mod 2^61-1 must equal exact integer math —
        the round-1 implementation wrapped mod 2^64 first, breaking the
        universal-hash family the banded-LSH probability math assumes."""
        rng = np.random.RandomState(7)
        M = (1 << 61) - 1
        a = rng.randint(1, M, size=64, dtype=np.int64).astype(np.uint64)
        h = rng.randint(0, 1 << 32, size=257, dtype=np.int64).astype(np.uint64)
        got = dedup._mulmod_m61(a[:, None], h[None, :])
        for i in range(0, 64, 7):
            for j in range(0, 257, 31):
                want = (int(a[i]) * int(h[j])) % M
                assert int(got[i, j]) == want, (i, j)

    def test_minhash_signature_matches_scalar_reference(self):
        a, b = dedup._minhash_coeffs(8, seed=42)
        hs = dedup._char_shingle_hashes("the quick brown fox", 3)
        M = (1 << 61) - 1
        want = [
            min((int(ai) * int(x) + int(bi)) % M for x in hs.tolist())
            for ai, bi in zip(a.tolist(), b.tolist())
        ]
        got = dedup._mulmod_m61(a[:, None], hs[None, :]) + b[:, None]
        got = np.where(got >= np.uint64(M), got - np.uint64(M), got).min(axis=1)
        assert got.tolist() == want

    def test_lev_ratio_fuzz_mode_is_python_levenshtein_ratio(self):
        # python-Levenshtein ratio: (la+lb-dist2)/(la+lb), substitution cost 2
        assert dedup._lev_ratio("this is a test", "this is a test!", "fuzz") == pytest.approx(
            100.0 * 28 / 29
        )
        # one substitution = cost 2: ("abcd" -> "abxd") = (8-2)/8
        assert dedup._lev_ratio("abcd", "abxd", "fuzz") == pytest.approx(75.0)
        # maxlen mode counts the same edit as cost 1 over max length
        assert dedup._lev_ratio("abcd", "abxd", "maxlen") == pytest.approx(75.0)
        assert dedup._lev_ratio("", "", "fuzz") == pytest.approx(100.0)

    def test_ratio_col_fuzz_mode_matches_python(self, spark):
        pdf = pd.DataFrame({"a": ["abcd", "kitten", "x"], "b": ["abxd", "sitting", ""]})
        sdf = spark.createDataFrame(pdf)
        got = (
            sdf.select(dedup._ratio_col(F.col("a"), F.col("b"), "fuzz").alias("r"))
            .toPandas()["r"]
            .tolist()
        )
        # unit-cost dist in the SQL path (documented divergence from the
        # sub-cost-2 python-Levenshtein): (la+lb-dist)/(la+lb)
        assert got[0] == pytest.approx(100.0 * (8 - 1) / 8)
        assert got[1] == pytest.approx(100.0 * (13 - 3) / 13)
        assert got[2] == pytest.approx(0.0)

    def test_fuzzy_window_dedup_fuzz_mode_runs(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["a" * 60, "a" * 59 + "b", "c" * 60],
                "source": ["s", "s", "s"],
            }
        )
        out = dedup.fuzzy_window_dedup(
            spark.createDataFrame(pdf), "doc_id", "text", order_col="doc_id",
            partition_col="source", ratio_mode="fuzz",
        ).toPandas()
        assert sorted(out["doc_id"].tolist()) == [1, 3]


def _relation_roots(df) -> list[str]:
    """Root paths of the file relations df's analyzed plan reads (the
    analyzed plan, so a cached subtree still shows its source)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            roots += relation_root_paths(leaf.relation())
    return roots


class TestAnnScaleHardening:
    def test_ivf_sampled_fit_fullprobe_still_exact(self, spark):
        """Full probe must equal brute force REGARDLESS of which sample the
        k-means centroids were fitted on (correctness is centroid-independent
        at nprobe = n_centroids) — the scale path fits on a seeded sample."""
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 3)
        bf = similarity.brute_force_topk(emb, q, k=5).toPandas()
        ivf = similarity.ivf_topk(
            emb, q, k=5, n_centroids=8, nprobe=8, fit_fraction=0.3
        ).toPandas()
        cols = ["qid", "nid", "sim", "rank"]
        a = bf[cols].sort_values(cols).reset_index(drop=True)
        b = ivf[cols].sort_values(cols).reset_index(drop=True)
        assert a.equals(b)

    def test_ivf_probe_selection_is_plan_side(self, spark, tmp_path):
        """The probe list is computed as DataFrame ops (the map-only
        _assign_topm over the query frame), never by collecting the query
        set.  kmeans_fit's own collects (k seeds, k×dim means per
        iteration) read only the data side and are allowed: the queries
        are their own relation, and the guard fails only on a collect
        whose plan reads it."""
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q_dir = str(tmp_path / "queries")
        emb.filter(F.col("vec_id") < 3).write.parquet(q_dir)
        q = spark.read.parquet(q_dir)
        import unittest.mock as mock

        # patch the concrete class: pyspark.sql.DataFrame is only its base
        frame_cls = type(emb)
        real_collect = frame_cls.collect
        data_collects = []

        def guarded(self):
            if q_dir in _relation_roots(self):
                raise AssertionError("ivf_topk collected the query set driver-side")
            data_collects.append(1)
            return real_collect(self)

        with mock.patch.object(frame_cls, "collect", guarded):
            out = similarity.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2)
        assert data_collects  # the fit ran through the guard
        # plan construction did not collect the queries; executing it works
        assert out.count() > 0

    def test_hyperplane_bucket_plan_bounded_at_real_dims(self, spark):
        """dim=768 x 24 planes must build and run: the plane matrix is ONE
        literal node, not 768*24 F.lit cells (which blew up Catalyst
        analysis / fell out of codegen).  Bucket bits cross-checked vs
        numpy sign math on the same seeded planes."""
        rng = np.random.RandomState(11)
        vecs = rng.normal(size=(20, 768)).round(6)
        pdf = pd.DataFrame(
            {"vec_id": range(20), "embedding": [v.tolist() for v in vecs]}
        )
        sdf = spark.createDataFrame(pdf)
        out = similarity.with_hyperplane_bucket(
            sdf, "embedding", n_planes=24, seed=5
        ).toPandas().sort_values("vec_id")
        planes = np.array(similarity._planes(768, 24, seed=5))
        want = ((vecs @ planes.T >= 0) @ (1 << np.arange(24))).astype(np.int64)
        assert out.bucket.tolist() == want.tolist()

    def test_embedding_neardup_recall_on_perturbed_vectors(self, spark):
        """THE working-regime gate: near-dups at cosine 0.90-0.97 (not
        identical copies, where any blocking trivially recalls).  Multi-table
        recall at threshold 0.95 must be >= 0.9 and precision exactly 1.0
        (exact verify).  Ground truth: numpy all-pairs cosine, rounded to 4
        like the operator."""
        dim, n_base, n_dup = 32, 300, 60
        rng = np.random.RandomState(7)
        base = rng.normal(size=(n_base, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(i, base[i].tolist()) for i in range(n_base)]
        for j in range(n_dup):
            i = j * (n_base // n_dup)
            v = base[i]
            u = rng.normal(size=dim)
            u -= (u @ v) * v
            u /= np.linalg.norm(u)
            c = rng.uniform(0.90, 0.97)
            rows.append((100000 + i, (c * v + np.sqrt(1 - c * c) * u).tolist()))
        M = np.array([r[1] for r in rows])
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        ids = [r[0] for r in rows]
        sims = np.round(Mn @ Mn.T, 4)
        want = {
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(len(ids))
            if ids[i] < ids[j] and sims[i, j] >= 0.95
        }
        assert len(want) >= 15  # the fixture actually exercises the regime
        sdf = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": [r[1] for r in rows]})
        )
        out = dedup.embedding_neardup_pairs(
            sdf, "vec_id", "embedding", threshold=0.95
        ).toPandas()
        got = set(zip(out.doc_id, out.dup_id))
        assert got <= want, f"false positives: {got - want}"  # precision 1.0
        recall = len(got & want) / len(want)
        assert recall >= 0.9, f"multi-table recall {recall} < 0.9"

    def test_embedding_neardup_scales_planes_with_corpus(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        dups = emb.filter(F.col("vec_id") % 53 == 0).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
        corpus = emb.unionByName(dups)
        fixed = dedup.embedding_neardup_pairs(
            corpus, "vec_id", "embedding", threshold=0.999, n_planes=4
        ).toPandas()
        scaled = dedup.embedding_neardup_pairs(
            corpus, "vec_id", "embedding", threshold=0.999, n_planes=4,
            target_bucket_rows=8,
        ).toPandas()
        # identical injected vectors share every bucket at any plane count:
        # the scaled blocking must keep all exact-dup pairs
        assert len(scaled) == len(fixed) == 10


class TestMinhashWordUnit:
    def test_word_unit_finds_word_neardups_and_skips_char_lookalikes(self, spark):
        """unit='word': two docs sharing most WORDS pair up; two docs built
        from the same character bigrams but different words do not (the
        regime where char shingles flood buckets on small vocabularies)."""
        from py_evalfilter_spark.operators import dedup

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = base.replace("kappa", "lambda")  # 9/11 word-2-shingles shared
        docs = spark.createDataFrame(
            [(0, base), (1, near), (2, "totally different words everywhere here now ok yes")],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=2, threshold=0.6, unit="word"
        ).collect()
        assert {(p["doc_id"], p["dup_id"]) for p in pairs} == {(0, 1)}
        # exact word-2-shingle jaccard of (base, near): 8 shared / 10 union
        assert abs(pairs[0]["jaccard"] - 0.8) < 1e-6

    def test_estimate_prefilter_keeps_borderline_pairs(self, spark):
        """The JVM signature-estimate pre-filter (est >= thr - 3sigma) must
        not drop a pair whose true jaccard sits just above threshold."""
        from py_evalfilter_spark.operators import dedup

        a = " ".join(f"w{i}" for i in range(40))
        b = " ".join(f"w{i}" for i in range(8, 48))  # heavy overlap, j above 0.6
        docs = spark.createDataFrame(
            [(0, a), (1, b)], "doc_id long, text string"
        )
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=2, threshold=0.6, unit="word"
        ).collect()
        exact_j = pairs[0]["jaccard"] if pairs else None
        # ground truth: word-2-shingles 8..39 shared = 31; union = 39+39-31
        assert exact_j is not None and exact_j >= 0.6

    def test_word_unit_signatures_deterministic(self, spark):
        from py_evalfilter_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, f"tok{i} tok{i+1} tok{i+2} shared words here") for i in range(6)],
            "doc_id long, text string",
        )
        s1 = dedup.minhash_signatures(docs, "doc_id", "text", unit="word").collect()
        s2 = dedup.minhash_signatures(docs, "doc_id", "text", unit="word").collect()
        assert sorted((r["doc_id"], tuple(r["signature"])) for r in s1) == sorted(
            (r["doc_id"], tuple(r["signature"])) for r in s2
        )


class TestClustering:
    def test_kmeans_matches_numpy_reference(self, spark):
        """The Spark fit (md5 init, per-iteration rounding, empty-cluster
        carry) must equal the same algorithm in numpy — exact to 1e-9,
        because both sides round centroids each iteration."""
        import hashlib

        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        got = clustering.kmeans_fit(emb, k=4, iters=3, seed=42)

        pdf = emb.select("vec_id", "embedding").toPandas()
        vecs = {
            int(i): np.asarray(v, dtype=np.float64)
            for i, v in zip(pdf.vec_id, pdf.embedding)
        }
        order = sorted(vecs, key=lambda i: (hashlib.md5(f"{i}:42".encode()).hexdigest(), i))
        C = [np.round(vecs[i], 6) for i in order[:4]]
        for _ in range(3):
            groups = {c: [] for c in range(4)}
            for i, v in vecs.items():
                d2 = [round(float(((v - c) ** 2).sum()), 8) for c in C]
                groups[min(range(4), key=lambda c: (d2[c], c))].append(v)
            C = [
                np.round(np.mean(g, axis=0), 6) if g else C[c]
                for c, g in groups.items()
            ]
        assert all(np.allclose(a, b, atol=1e-9) for a, b in zip(got, C))

    def test_kmeans_objective_decreases(self, spark):
        from pyspark.sql import functions as F

        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        sse = []
        for iters in (0, 2, 4):
            cents = clustering.kmeans_fit(emb, k=4, iters=iters, seed=42)
            s = (
                clustering.assign_clusters(emb, cents)
                .agg(F.sum("dist2")).collect()[0][0]
            )
            sse.append(s)
        assert sse[0] > sse[1] >= sse[2]  # Lloyd's monotone objective

    def test_semdedup_pairs_find_injected_neardups(self, spark):
        from pyspark.sql import functions as F

        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        # inject: vec 1000000+i = vec i with one coordinate nudged
        dup = emb.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: F.when(i == 0, x + F.lit(1e-4)).otherwise(x)
            ).alias("embedding"),
            "label",
        )
        corpus = emb.unionByName(dup)
        cents = clustering.kmeans_fit(corpus, k=4, iters=2, seed=42)
        pairs = clustering.semdedup_pairs(corpus, cents, threshold=0.99).toPandas()
        found = set(zip(pairs.doc_id, pairs.dup_id))
        for i in range(3):
            assert (i, 1_000_000 + i) in found, i
        # and with unclustered noise vectors, no false pair survives 0.99
        assert all(b - a == 1_000_000 for a, b in found)

    def test_semdedup_giant_cluster_guard_bounds_candidates(self, spark):
        """VERDICT r4 #3: a degenerate corpus (every vector near one
        centroid) lands in a single giant cluster — the guard must salt it
        into sub-buckets, bounding the candidate count to ~size·max rather
        than size², and WARN rather than silently losing recall."""
        import numpy as np

        from py_evalfilter_spark.operators import clustering

        rng = np.random.default_rng(7)
        base = [float(x) for x in rng.normal(size=8)]
        # IDENTICAL vectors: every assignment ties and goes to the lowest
        # cid — the one true giant cluster k-means cannot split
        rows = [(i, base) for i in range(100)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = clustering.kmeans_fit(df, k=2, iters=2, seed=42)

        with pytest.warns(UserWarning, match="max_cluster_size"):
            guarded = clustering.semdedup_pairs(
                df, cents, threshold=-1.0, max_cluster_size=25
            ).count()
        unguarded = clustering.semdedup_pairs(
            df, cents, threshold=-1.0, max_cluster_size=None
        ).count()
        # all-pairs would be ~C(100,2)=4950; 4 sub-buckets cap it near
        # 4·C(25,2)=1200 (md5 split is uneven, allow slack)
        assert unguarded >= 4900
        assert 0 < guarded < 2500, guarded

    def test_round_half_up_matches_spark_round(self, spark):
        """ADVICE r5: the Arrow paths' rounding must be HALF_UP like Spark
        SQL ROUND, not numpy's banker's rounding — dyadic values landing
        exactly on a .5 decimal boundary (odd/32 at 4 dp) are exactly
        representable and DO diverge under np.round."""
        from py_evalfilter_spark.operators.clustering import _round_half_up

        vals = [
            0.03125, -0.03125, 0.15625, -0.15625, 0.09375,  # odd/32: exact .5 at 4 dp
            0.12345, -0.98765, 0.0, 7.0, 1.00004999, 123.456789,
        ]
        # prove the divergence this guards against is real
        assert float(np.round(0.03125, 4)) == 0.0312  # banker's: to even
        assert float(_round_half_up(np.array([0.03125]), 4)[0]) == 0.0313
        got = _round_half_up(np.array(vals, dtype=np.float64), 4)
        rows = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i long, v double"
        ).select("i", F.round("v", 4).alias("r")).collect()
        want = [r["r"] for r in sorted(rows, key=lambda r: r["i"])]
        assert [float(x) for x in got] == want

    def test_semdedup_multi_assign_recovers_boundary_pair(self, spark):
        """VERDICT r5 #8: a near-dup pair split by a cluster boundary
        (each member's argmin centroid differs, second-nearest shared) is
        invisible to single-assign semdedup and recovered by
        multi_assign=2 — emitted ONCE despite both clusters seeing it."""
        from py_evalfilter_spark.operators import clustering

        cents = [[1.0, 0.0], [0.9, 0.1]]
        emb = spark.createDataFrame(
            [
                (0, [0.95, 0.048]),   # argmin → c0
                (1, [0.95, 0.052]),   # argmin → c1; cosine(0,1) ≈ 0.99999
                (2, [-1.0, 0.0]),     # far away, pairs with nothing
            ],
            "vec_id long, embedding array<double>",
        )
        single = clustering.semdedup_pairs(emb, cents, threshold=0.999).collect()
        assert single == []
        got = clustering.semdedup_pairs(
            emb, cents, threshold=0.999, multi_assign=2
        ).collect()
        assert [(r["doc_id"], r["dup_id"]) for r in got] == [(0, 1)]

    def test_semdedup_multi_assign_superset(self, spark):
        """multi_assign=2 output is a strict superset contract: every
        single-assign pair survives with the identical cosine (the extra
        entries only ADD buckets a doc appears in)."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        dups = emb.filter(F.col("vec_id") % 53 == 0).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
        corpus = emb.unionByName(dups)
        cents = clustering.kmeans_fit(corpus, k=8, iters=2, seed=42)
        p1 = {
            (r["doc_id"], r["dup_id"]): r["cosine"]
            for r in clustering.semdedup_pairs(
                corpus, cents, threshold=0.99
            ).collect()
        }
        p2 = {
            (r["doc_id"], r["dup_id"]): r["cosine"]
            for r in clustering.semdedup_pairs(
                corpus, cents, threshold=0.99, multi_assign=2
            ).collect()
        }
        assert set(p1) <= set(p2)
        assert all(p2[k] == v for k, v in p1.items())
        # deduped: no (doc_id, dup_id) appears twice
        rows = clustering.semdedup_pairs(
            corpus, cents, threshold=0.99, multi_assign=2
        ).collect()
        assert len(rows) == len({(r["doc_id"], r["dup_id"]) for r in rows})

    def test_assign_topm_matches_numpy_reference(self, spark):
        """_assign_topm emits each doc's m nearest centroids: the SET of
        (id, cluster) entries equals a numpy brute force over the same
        contract — Σ(x−c)² rounded to 8 dp, ties to the lowest cid."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=8, iters=2, seed=42)
        d = emb.select(
            F.col("vec_id").alias("doc_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
        )
        pdf = emb.select("vec_id", "embedding").toPandas()
        X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
        C = np.asarray(cents, dtype=np.float64)
        d2 = np.array(
            [[round(float(((x - c) ** 2).sum()), 8) for c in C] for x in X]
        )
        order = np.argsort(d2, axis=1, kind="stable")
        for m in (2, 3):
            want = sorted(
                (int(i), int(c))
                for i, row in zip(pdf.vec_id, order)
                for c in row[:m]
            )
            got = sorted(
                (r["doc_id"], r["cluster"])
                for r in clustering._assign_topm(d, cents, "doc_id", m).collect()
            )
            assert got == want, m

    @staticmethod
    def _kmeans_oracle(**kw) -> pd.DataFrame:
        import duckdb

        from py_evalfilter_spark.plans.driver_queries import _kmeans_oracle_sql

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF}/embeddings.parquet')"
        )
        return con.execute(
            _kmeans_oracle_sql(iters=2, dim=64, seed=42, **kw)
        ).fetchdf()

    def test_assign_matches_kmeans_oracle(self, spark):
        """kmeans_fit + assign_clusters reproduce the unrolled DuckDB
        Lloyd's (driver_queries._kmeans_oracle_sql) at k=8: identical
        (id, cluster) assignment and dist2 under the round(…,8) argmin
        and round(…,4) output contract."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=8, iters=2, seed=42)
        got = sorted(
            map(tuple,
                clustering.assign_clusters(emb, cents)
                .select("vec_id", "cluster", "dist2").collect())
        )
        want = sorted(
            (int(r.vec_id), int(r.cluster), float(r.dist2))
            for r in self._kmeans_oracle(k=8, final="assign").itertuples()
        )
        assert len(got) == len(want) > 0
        assert [g[:2] for g in got] == [w[:2] for w in want]
        assert np.allclose([g[2] for g in got], [w[2] for w in want], atol=1e-9)

    def test_semdedup_pairs_match_kmeans_oracle(self, spark):
        """The grouped-BLAS pairs stage reproduces the oracle's
        cluster-partitioned self-join (k=4, final='pairs'): the same
        (doc_id, dup_id) set and round(…,4) cosines, at a threshold low
        enough to emit a non-trivial set."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=4, iters=2, seed=42)
        got = sorted(
            map(tuple, clustering.semdedup_pairs(emb, cents, threshold=0.2).collect())
        )
        want = sorted(
            (int(r.doc_id), int(r.dup_id), float(r.cosine))
            for r in self._kmeans_oracle(
                k=4, final="pairs", threshold=0.2
            ).itertuples()
        )
        assert len(got) == len(want) > 0
        assert [g[:2] for g in got] == [w[:2] for w in want]
        assert np.allclose([g[2] for g in got], [w[2] for w in want], atol=1e-9)

    def test_semdedup_pairs_tiled_parity(self, spark):
        """Tile-parallel pairs (per-bucket work split into exact ti<=tj
        block tasks) must emit the identical pair SET as the untiled
        arrow path — tiling re-partitions the work, it must not change
        it.  tile_size=16 over ~125-row clusters forces nb ~ 8 blocks."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=4, iters=2, seed=42)
        got = {}
        for ts in (None, 16):
            got[ts] = sorted(
                map(tuple,
                    clustering.semdedup_pairs(
                        emb, cents, threshold=0.2, tile_size=ts,
                    ).collect())
            )
        assert len(got[None]) > 0
        assert got[None] == got[16]

    def test_semdedup_candidate_mass_guard_raises_upfront(self, spark):
        """Round-5 scale lesson: ORDINARY cluster sizes go quadratic long
        before any cluster is 'giant' (k=64 over 1M docs ⇒ 15.6G
        candidates).  max_candidate_mass must refuse the join up front
        with the k it would take — and pass when the budget is adequate."""
        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=4, iters=1, seed=42)
        with pytest.raises(ValueError, match="k ≳"):
            clustering.semdedup_pairs(
                emb, cents, threshold=0.99, max_candidate_mass=100
            )
        ok = clustering.semdedup_pairs(
            emb, cents, threshold=0.99, max_candidate_mass=10**9
        )
        ok.count()  # runs

    def test_semdedup_guard_noop_below_cap(self, spark):
        """With no oversized cluster the guard changes nothing: identical
        pair sets with the cap at its default and disabled."""
        from pyspark.sql import functions as F

        from py_evalfilter_spark.operators import clustering

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = clustering.kmeans_fit(emb, k=4, iters=2, seed=42)
        a = clustering.semdedup_pairs(emb, cents, threshold=0.0).toPandas()
        b = clustering.semdedup_pairs(
            emb, cents, threshold=0.0, max_cluster_size=None
        ).toPandas()
        key = lambda p: sorted(zip(p.doc_id, p.dup_id, p.cosine))
        assert key(a) == key(b) and len(a) > 0


def test_kmeans_fit_unpinned_matches_pinned(spark):
    """pin_input only changes the caching strategy, never the math."""
    from py_evalfilter_spark.operators import clustering

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = clustering.kmeans_fit(emb, k=4, iters=2, seed=42, pin_input=True)
    b = clustering.kmeans_fit(emb, k=4, iters=2, seed=42, pin_input=False)
    assert a == b


class TestEstKernel:
    """The round-8 Arrow est-kernel: per-bucket candidate enumeration with
    the signature-agreement pre-filter fused in, plus hot-bucket salting."""

    def test_salted_equals_unsalted(self, spark, docs):
        """Salting replicates partner rows and splits probes across salts;
        the emitted pair set must be EXACTLY the unsalted one (every
        (probe, partner) pair meets exactly once)."""
        from pyspark.sql import types as T

        sigs = dedup.minhash_signatures(docs, "doc_id", "text", 3, 64)
        banded = (
            dedup.band_buckets(sigs, 16, 4, keep_signature=True)
            .withColumn("_new", F.lit(True))
            .persist()
        )
        cut = 0.8 - 0.15
        # hot_work=1 forces EVERY multi-member bucket through the salted
        # path; the huge threshold disables salting entirely
        salted = dedup._est_passing_pairs(
            banded, 64, cut, T.LongType(), hot_work=1, max_salt=4
        )
        plain = dedup._est_passing_pairs(
            banded, 64, cut, T.LongType(), hot_work=1 << 60
        )
        a = {(r.doc_id, r.dup_id) for r in salted.collect()}
        b = {(r.doc_id, r.dup_id) for r in plain.collect()}
        banded.unpersist()
        assert a == b
        assert len(a) > 0  # the fixture's near-dups must surface

    def test_jaccard_char_fast_path_matches_set_semantics(self, spark):
        """The int64 gram-code fast path (char, n<=3) must reproduce the
        Python string-set Jaccard exactly, including short/empty strings
        and multibyte text."""
        import random

        rng = random.Random(7)
        alpha = "abcカタ変 換x！０"
        rows = [
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))),
            )
            for _ in range(300)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))
        for n in (1, 2, 3):
            udf = dedup._exact_jaccard_udf("char", n)
            out = df.withColumn("j", udf("a", "b")).collect()

            def sset(x):
                if not x:
                    return set()
                return {x[i : i + n] for i in range(max(len(x) - n + 1, 1))}

            for r in out:
                sx, sy = sset(r.a), sset(r.b)
                if not sx and not sy:
                    want = 1.0
                else:
                    u = sx | sy
                    want = round(len(sx & sy) / len(u), 4) if u else 0.0
                assert r.j == want, (r.a, r.b, n, r.j, want)
