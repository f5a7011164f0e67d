"""Scale rows for the r6 membership + retrieval operators.

A) Bloom ingest dedup at 1M standing docs x 10k shard: wall for
   bloom_dedup_against (build + probe + confirm) vs the plain
   `shard LEFT ANTI JOIN standing` both-sides-shuffle plan it replaces,
   plus the filter's size and measured positive rate.  The win structure:
   the anti-join shuffles the standing TEXT column (the corpus); the
   Bloom path scans it map-side once and shuffles only the positive
   sliver.  On one box the shuffle is a memory-bus copy, so the delta
   here UNDERSTATES the cluster win (network shuffle vs local scan).

B) BM25 at 1M docs: postings/doc-length index build wall (the one-time
   cost, tokenize + 2 shuffles), then per-query scoring wall against the
   persisted index (the amortized cost — three probe queries, cold plans).

    python scripts/bench_bloom_bm25_scale.py [--mult 200]

One JSON line.  Never run concurrently with another Spark workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=200)
    ap.add_argument("--shard-reps", type=int, default=2)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/bloom_bm25_bench")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/tmp/spark-local-big")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)

    from bench_curation_scale import synthesize_replicated_corpus
    from pyspark.sql import functions as F

    from py_evalfilter_spark.operators import bloom, retrieval
    from py_evalfilter_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=2 * args.cpus)
    work = args.work_dir
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)

    synthesize_replicated_corpus(spark, args.sf_dir, work, args.mult,
                                 4 * args.cpus)
    standing = spark.read.parquet(f"{work}/documents.parquet").select(
        "doc_id", "text"
    )
    n_standing = standing.count()
    # shard: every (mult/5000-ish)-th standing row re-ingested verbatim
    # under a new id (true duplicate) + a tailed variant (genuinely new)
    # — a 50% overlap rate, the re-crawl regime
    every = max(args.mult // 25, 1) * 25  # ~5k of 1M at mult=200
    base = standing.filter(F.pmod("doc_id", F.lit(every)) == 0)
    shard = base.select(
        (F.col("doc_id") + F.lit(10**13)).alias("doc_id"), "text"
    ).unionByName(
        base.select(
            (F.col("doc_id") + F.lit(2 * 10**13)).alias("doc_id"),
            F.concat("text", F.lit(" genuinely new tail")).alias("text"),
        )
    )
    shard.write.parquet(f"{work}/shard.parquet")
    shard = spark.read.parquet(f"{work}/shard.parquet")
    n_shard = shard.count()

    # --- A: bloom vs anti-join ------------------------------------------
    # cold path: filter built inside the call (single-shot cost)
    t0 = time.perf_counter()
    kept_bloom = bloom.bloom_dedup_against(
        shard, standing, "text", fp_rate=1e-3, n_standing=n_standing
    )
    kept_bloom.write.parquet(f"{work}/kept_bloom.parquet")
    bloom_sec = time.perf_counter() - t0
    n_kept = spark.read.parquet(f"{work}/kept_bloom.parquet").count()

    # amortized path: build once (the backfill), then each shard pays
    # probe + sliver-confirm only — 3 timed shard reps over the persisted
    # filter (the daily loop; filters union by OR after each ingest)
    m_slice, n_hashes, n_slices = bloom.sliced_bloom_params(n_standing, 1e-3)
    t0 = time.perf_counter()
    filt = bloom.build_bloom_sliced(
        standing, "text", m_slice, n_hashes, n_slices
    )
    build_sec = round(time.perf_counter() - t0, 2)
    probe_secs = []
    for rep in range(3):
        t0 = time.perf_counter()
        bloom.bloom_dedup_against(
            shard, standing, "text", prebuilt=filt
        ).write.mode("overwrite").parquet(f"{work}/kept_probe.parquet")
        probe_secs.append(round(time.perf_counter() - t0, 2))
    n_kept_probe = spark.read.parquet(f"{work}/kept_probe.parquet").count()

    t0 = time.perf_counter()
    shard.join(standing.select("text"), "text", "left_anti").write.parquet(
        f"{work}/kept_anti.parquet"
    )
    anti_sec = time.perf_counter() - t0
    ka = spark.read.parquet(f"{work}/kept_anti.parquet")
    kb = spark.read.parquet(f"{work}/kept_bloom.parquet")
    n_kept_anti = ka.count()
    ids_equal = (
        ka.select("doc_id").join(kb, "doc_id", "left_anti").count() == 0
        and kb.select("doc_id").join(ka, "doc_id", "left_anti").count() == 0
    )

    # --- B: BM25 index + queries ----------------------------------------
    t0 = time.perf_counter()
    postings, doc_len = retrieval.bm25_postings(standing, "doc_id", "text")
    postings.write.parquet(f"{work}/postings.parquet")
    doc_len.write.parquet(f"{work}/doclen.parquet")
    index_sec = time.perf_counter() - t0
    postings = spark.read.parquet(f"{work}/postings.parquet")
    doc_len = spark.read.parquet(f"{work}/doclen.parquet")
    n_postings = postings.count()

    query_secs = {}
    for q in ("spark hash join vector", "customer order line", "merge sort"):
        t0 = time.perf_counter()
        n_hits = retrieval.bm25_topk(
            standing, "doc_id", "text", q, k=100,
            postings=postings, doc_len=doc_len,
        ).count()
        query_secs[q] = {"sec": round(time.perf_counter() - t0, 2),
                         "hits": n_hits}

    # the term-bucketed catalog index: isin(query terms) bucket-prunes
    # the postings scan (SelectedBucketsCount), so per-query postings IO
    # is ~terms/n_buckets of the table regardless of corpus size
    import uuid

    prefix = f"bm25_bench_{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    retrieval.write_bm25_index(
        postings, doc_len, prefix, n_buckets=64, path=f"{work}/bm25_idx"
    )
    store_sec = round(time.perf_counter() - t0, 2)
    sp, sd = retrieval.read_bm25_index(spark, prefix)
    bucketed_query_secs = {}
    for q in ("spark hash join vector", "customer order line", "merge sort"):
        t0 = time.perf_counter()
        n_hits = retrieval.bm25_topk(
            standing, "doc_id", "text", q, k=100,
            postings=sp, doc_len=sd,
        ).count()
        bucketed_query_secs[q] = {"sec": round(time.perf_counter() - t0, 2),
                                  "hits": n_hits}

    spark.sql(f"DROP TABLE IF EXISTS {prefix}_postings")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_doclen")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "metric": "bloom_bm25_scale",
        "n_standing": n_standing,
        "n_shard": n_shard,
        "bloom": {
            "sec": round(bloom_sec, 2),
            "anti_join_sec": round(anti_sec, 2),
            "build_once_sec": build_sec,
            "probe_confirm_secs": probe_secs,
            "kept": n_kept,
            "kept_anti_join": n_kept_anti,
            "kept_probe": n_kept_probe,
            "exact_match": bool(
                ids_equal and n_kept == n_kept_anti == n_kept_probe
            ),
            "filter_mib": round(m_slice * n_slices / 8 / 2**20, 1),
            "n_hashes": n_hashes,
            "n_slices": n_slices,
            "standing_docs_per_sec": round(n_standing / bloom_sec, 1),
        },
        "bm25": {
            "index_sec": round(index_sec, 2),
            "index_docs_per_sec": round(n_standing / index_sec, 1),
            "n_postings": n_postings,
            "queries": query_secs,
            "bucketed_store_write_sec": store_sec,
            "bucketed_queries": bucketed_query_secs,
        },
        "cpus": args.cpus,
    }))


if __name__ == "__main__":
    main()
