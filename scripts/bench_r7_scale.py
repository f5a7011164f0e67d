"""Round-7 robustness rows at local[32] (serialized; one JSON line):

A) SLICED Bloom at ~10M standing keys: build + probe/confirm of the
   filter forced to S slices (per-slice bitmap FILEs, --n-slices) — the
   cost of the beyond-RAM layout, where no process ever holds more than
   one slice.  S=1 is the filter every smaller standing set derives.

B) Incremental line dedup at ~1M standing pages x 10k-page shard:
   dedup_lines_against cold (filter built in-call) and amortized
   (prebuilt filter, 3 reps — the daily-shard cost) vs the batch
   dedup_lines(standing ∪ shard) re-run it replaces; shard-row parity.

C) Spine join at ~20M turns (2 feature tables): wall + rows/s, vs the
   chained 2x as-of loop it replaces (one Exchange+Sort instead of two).

    python scripts/bench_r7_scale.py [--mult 200] [--pages 1000000]
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
    ap.add_argument("--keys-mult", type=int, default=2000)
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--templates", type=int, default=20)
    ap.add_argument("--shard-pages", type=int, default=10_000)
    ap.add_argument("--n-slices", type=int, default=4)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/r7_scale")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--only", default="A,B,C",
                    help="comma list of sections to run (A, B, C)")
    ap.add_argument("--spine-k", type=int, default=2,
                    help="number of feature tables in section C: 1 profile"
                         " table + (k-1) disjoint click slices — the spine"
                         " pass costs ONE Exchange+Sort at any k, the"
                         " chained loop k of them")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/tmp/spark-local-big")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)

    from pyspark.sql import functions as F

    from py_evalfilter_spark.operators import asof, bloom, corpus
    from py_evalfilter_spark.operators.spine import (
        FeatureTable,
        spine_point_in_time,
    )
    from py_evalfilter_spark.plans import driver_queries as dq
    from py_evalfilter_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=2 * args.cpus)
    work = args.work_dir
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    out: dict = {"metric": "r7_scale", "cpus": args.cpus}
    only = set(args.only.split(","))

    # --- A: sliced Bloom at ~10M keys -----------------------------------
    if "A" in only:
        # synthetic unique string keys (the regime is key-count-bound, not
        # payload-bound); shard overlaps 50%
        n_keys = args.keys_mult * 5000
        standing = spark.range(0, n_keys, 1, 4 * args.cpus).select(
            F.concat(F.lit("standing document key "),
                     F.col("id").cast("string")).alias("k")
        )
        shard = spark.range(0, 20_000, 1, 64).select(
            F.when(F.col("id") % 2 == 0,
                   F.concat(F.lit("standing document key "),
                            (F.col("id") * 97 % n_keys).cast("string")))
             .otherwise(F.concat(F.lit("genuinely new key "),
                                 F.col("id").cast("string"))).alias("k"),
            F.col("id").alias("sid"),
        )
        shard.write.mode("overwrite").parquet(f"{work}/shard_keys.parquet")
        shard = spark.read.parquet(f"{work}/shard_keys.parquet")

        t0 = time.perf_counter()
        m_s, k_s, n_sl = bloom.sliced_bloom_params(
            n_keys, 1e-3, n_slices=args.n_slices
        )
        store = bloom.build_bloom_sliced(
            standing, "k", m_s, k_s, n_sl, out_dir=f"{work}/slices"
        )
        sliced_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        kept_sliced = bloom.bloom_dedup_against(
            shard, standing, "k", prebuilt=store
        ).count()
        sliced_probe = round(time.perf_counter() - t0, 2)
        out["sliced_bloom"] = {
            "n_standing_keys": n_keys,
            "n_shard": 20_000,
            "sliced_build_sec": sliced_build,
            "sliced_probe_confirm_sec": sliced_probe,
            "n_slices": n_sl,
            "slice_mib": round(m_s / 8 / 2**20, 1),
            "total_mib": round(m_s * n_sl / 8 / 2**20, 1),
            "kept_sliced": kept_sliced,
        }
        print(json.dumps({"partial": "A", **out["sliced_bloom"]}), flush=True)

    # --- B: incremental line dedup at 1M standing pages ------------------
    if "B" in only:
        # Own synthesis (NOT bench_line_dedup_scale's): that corpus marks
        # unique lines with DIGITS, which _line_norm strips — every replica's
        # "unique" middle normalizes to the same key and the standing line set
        # collapses to ~10k (measured; made the first cut of this row
        # vacuous).  Letter-encoded ids keep the normalized lines distinct,
        # so the standing set is genuinely corpus-sized (~2 lines/page).
        base = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        n_base = base.count()
        mult = max(1, args.pages // n_base)

        def letters(col):
            return F.translate(col.cast("string"), "0123456789", "abcdefghij")

        full_id = F.col("doc_id") + F.col("rep") * 10_000_000
        pages = (
            base.repartition(4 * args.cpus)
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
            .select(
                full_id.alias("doc_id"),
                F.concat_ws(
                    "\n",
                    F.concat(F.lit("subscribe banner variant "),
                             letters(F.col("doc_id") % args.templates)),
                    F.concat(F.col("text"), F.lit(" uniq "), letters(full_id)),
                    F.concat(F.lit("second body "), letters(full_id),
                             F.lit(" tail"), F.col("text")),
                    F.lit("copyright footer all rights reserved"),
                ).alias("text"),
            )
        )
        pages.write.mode("overwrite").parquet(f"{work}/standing_pages")
        standing_pages = spark.read.parquet(f"{work}/standing_pages")
        n_pages = standing_pages.count()
        # shard: re-crawled standing pages (all lines standing dups) + genuinely
        # new pages (fresh unique lines + the standing boilerplate)
        half = args.shard_pages // 2
        shard_pages = (
            standing_pages.limit(half)
            .select((F.col("doc_id") + 10**12).alias("doc_id"), "text")
            .unionByName(
                base.limit(half).select(
                    (F.col("doc_id") + 2 * 10**12).alias("doc_id"),
                    F.concat_ws(
                        "\n",
                        F.lit("copyright footer all rights reserved"),
                        F.concat(F.lit("fresh shard content "),
                                 letters(F.col("doc_id")), F.lit(" "),
                                 F.col("text")),
                    ).alias("text"),
                )
            )
        )
        shard_pages.write.mode("overwrite").parquet(f"{work}/shard_pages")
        shard_pages = spark.read.parquet(f"{work}/shard_pages")
        n_standing_lines = corpus._line_keys(
            standing_pages, "doc_id", "text", "\n"
        ).count()

        t0 = time.perf_counter()
        corpus.dedup_lines_against(
            shard_pages, standing_pages, n_standing_lines=n_standing_lines
        ).agg(F.count(F.lit(1)), F.sum("n_lines_kept"),
              F.sum("n_lines_dropped")).collect()
        inc_cold = round(time.perf_counter() - t0, 2)

        st_keys = corpus._line_keys(standing_pages, "doc_id", "text", "\n").select("_key")
        m_l, k_l, s_l = bloom.sliced_bloom_params(n_standing_lines, 1e-4)
        t0 = time.perf_counter()
        line_filt = bloom.build_bloom_sliced(st_keys, "_key", m_l, k_l, s_l)
        line_build = round(time.perf_counter() - t0, 2)
        inc_warm = []
        for _ in range(3):
            t0 = time.perf_counter()
            corpus.dedup_lines_against(
                shard_pages, standing_pages, prebuilt=line_filt
            ).agg(F.count(F.lit(1)), F.sum("n_lines_kept"),
                  F.sum("n_lines_dropped")).collect()
            inc_warm.append(round(time.perf_counter() - t0, 2))

        # approximate (Dolma) mode: positives drop unconfirmed — ZERO
        # standing-side shuffle; the exact mode's residual cost IS the
        # confirm anti-join's standing-key shuffle, so this row bounds
        # what a bucketed standing key store would recover
        inc_approx = []
        for _ in range(3):
            t0 = time.perf_counter()
            approx_row = corpus.dedup_lines_against(
                shard_pages, None, confirm=False, prebuilt=line_filt
            ).agg(F.count(F.lit(1)).alias("n"),
                  F.sum("n_lines_kept").alias("k")).collect()[0]
            inc_approx.append(round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        batch = corpus.dedup_lines(
            standing_pages.unionByName(shard_pages)
        ).filter(F.col("doc_id") >= 10**12)
        batch_row = batch.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_lines_kept").alias("k")
        ).collect()[0]
        batch_sec = round(time.perf_counter() - t0, 2)
        inc_row = corpus.dedup_lines_against(
            shard_pages, standing_pages, prebuilt=line_filt
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("n_lines_kept").alias("k")).collect()[0]
        out["line_dedup_incremental"] = {
            "n_standing_pages": n_pages,
            "n_standing_lines": n_standing_lines,
            "n_shard_pages": args.shard_pages,
            "cold_sec": inc_cold,
            "filter_build_once_sec": line_build,
            "amortized_secs": inc_warm,
            "approx_secs": inc_approx,
            "approx_lines_kept": int(approx_row["k"]),
            "batch_rerun_sec": batch_sec,
            "rows_equal": int(batch_row["n"]) == int(inc_row["n"]),
            "lines_kept_equal": int(batch_row["k"]) == int(inc_row["k"]),
            "exact_lines_kept": int(batch_row["k"]),
            "filter_mib": round(m_l * s_l / 8 / 2**20, 1),
        }
        print(json.dumps({"partial": "B", **out["line_dedup_incremental"]}),
              flush=True)

    # --- C: spine join at ~20M turns -------------------------------------
    if "C" in only:
        # Shuffle VOLUME is the judged quantity here, not one-box wall:
        # local[32] shuffles through memory/tmpfs, so an Exchange costs
        # roughly its sort — on a 1000-executor cluster the same Exchange
        # is network.  With SPARK_GRAFT_UI=true the REST status API gives
        # per-stage shuffle write bytes/records; diff around each run.
        def shuffle_snapshot():
            try:
                import urllib.request
                sc = spark.sparkContext
                base = sc.uiWebUrl
                if not base:
                    return None
                url = (f"{base}/api/v1/applications/{sc.applicationId}"
                       f"/stages?status=complete")
                stages = json.load(urllib.request.urlopen(url, timeout=10))
                return (sum(s.get("shuffleWriteBytes", 0) for s in stages),
                        sum(s.get("shuffleWriteRecords", 0) for s in stages))
            except Exception:
                return None

        def timed(fn):
            before = shuffle_snapshot()
            t0 = time.perf_counter()
            fn()
            wall = round(time.perf_counter() - t0, 2)
            after = shuffle_snapshot()
            if before is None or after is None:
                return wall, None, None
            return (wall, after[0] - before[0], after[1] - before[1])

        ev = spark.read.parquet(f"{args.sf_dir}/events.parquet")
        if args.mult > 1:
            ev = ev.repartition(128)
            reps = F.explode(
                F.array(*[F.lit(i) for i in range(args.mult)])
            ).alias("rep")
            ev = (ev.select("*", reps)
                    .withColumn("user_id", F.col("user_id")
                                + F.col("rep").cast("long") * 10_000_000)
                    .withColumn("event_id", F.col("event_id")
                                + F.col("rep").cast("long") * 1_000_000_000)
                    .drop("rep"))
        t = dq.transcripts_from_events(ev)
        spine = t.filter(F.col("turn_idx") % 3 == 0).select(
            "conv_id", "turn_idx", "ts"
        )
        prof = dq.profile_from_events(ev)
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .groupBy(F.concat(F.lit("conv_"),
                              F.col("user_id").cast("string")).alias("conv_id"),
                     "ts")
            .agg(F.round(F.max("value"), 2).alias("click_value"),
                 F.count(F.lit(1)).alias("n_clicks"))
        )
        # pin the inputs so the timed region measures the ATTACH, not the
        # shared synthesis lineage (which would otherwise re-execute inside
        # both runs and dilute the shuffle-volume comparison)
        spine = spine.persist()
        prof = prof.persist()
        clicks = clicks.persist()
        n_spine = spine.count()
        prof.count(), clicks.count()
        # k feature tables: profile + (k-1) DISJOINT click slices.  The
        # slices partition the click stream, so total feature-row volume
        # is constant in k — what varies is exactly the thing under test,
        # the number of attach passes the chained loop pays for.
        n_slices = max(args.spine_k - 1, 1)
        if n_slices == 1:
            slices = [clicks]
        else:
            b = F.pmod(F.xxhash64(F.col("ts").cast("string")),
                       F.lit(n_slices))
            slices = [clicks.filter(b == i) for i in range(n_slices)]
        ftables = [FeatureTable(prof, "prof")] + [
            FeatureTable(s, f"clk{i}", tolerance_s=7200)
            for i, s in enumerate(slices)
        ]
        aggs = ["count(*) AS n", "sum(prof_purchase_value) AS a",
                "sum(cast(cast(prof_ts AS timestamp) AS long)) AS d"] + [
            f"sum(clk{i}_click_value) AS b{i}" for i in range(n_slices)
        ] + [f"sum(clk{i}_n_clicks) AS c{i}" for i in range(n_slices)]
        def run_spine():
            spine_point_in_time(spine, ftables).selectExpr(*aggs).collect()

        def run_chained():
            s1 = asof.asof_join(
                spine,
                prof.select(
                    "conv_id", "ts",
                    F.col("purchase_value").alias("prof_purchase_value")),
                right_ts_alias="prof_ts")
            for i, s in enumerate(slices):
                s1 = asof.asof_join(
                    s1,
                    s.select("conv_id", "ts",
                             F.col("click_value").alias(f"clk{i}_click_value"),
                             F.col("n_clicks").alias(f"clk{i}_n_clicks")),
                    right_ts_alias=f"clk{i}_ts", tolerance_s=7200,
                )
            s1.selectExpr(*aggs).collect()

        spine_sec, spine_bytes, spine_recs = timed(run_spine)
        chained_sec, chained_bytes, chained_recs = timed(run_chained)
        out["spine"] = {
            "n_spine_rows": n_spine,
            "k_tables": len(ftables),
            "spine_sec": spine_sec,
            "chained_asof_sec": chained_sec,
            "rows_per_sec": round(n_spine / spine_sec, 1),
            "speedup_vs_chained": round(chained_sec / spine_sec, 3),
            "spine_shuffle_mib": (round(spine_bytes / 2**20, 1)
                                  if spine_bytes is not None else None),
            "chained_shuffle_mib": (round(chained_bytes / 2**20, 1)
                                    if chained_bytes is not None else None),
            "spine_shuffle_records": spine_recs,
            "chained_shuffle_records": chained_recs,
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
