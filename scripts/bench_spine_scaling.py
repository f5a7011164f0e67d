"""Two-parallelism-level scaling evidence for the SPINE JOIN (BASELINE.json
north_rule applied to this round's feature-store primitive): run the
identical spine_point_in_time job — a training spine of every 3rd turn
over MULT x sf0.1 replicated transcripts, attaching 2 feature tables —
at N and 4N REAL executor JVMs (local-cluster 1x2 -> 4x2, the unsaturated
pair below the single socket's memory-bus saturation, the established
BENCH/BASELINE.md methodology) and report throughput at both plus
efficiency = (thr_4N / thr_N) / 4.

Each level also times the CHAINED 2x asof_join plan over the
same inputs — the loop the operator replaces — so the one-shuffle win is
measured at both parallelism levels, and a pure-shuffle baseline at the
same row volume (the single-box memory-bus term).

Protocol: each level runs in a FRESH subprocess JVM, interleaved across
SCALING_JVMS (>=2) rounds keeping the best per level (degraded-JVM
mitigation).  Serialized throughout — never run concurrently with
another Spark workload.

    python scripts/bench_spine_scaling.py [--mult 200]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from py_evalfilter_spark.session import get_spark
from py_evalfilter_spark.plans import driver_queries as dq
from py_evalfilter_spark.operators import asof
from py_evalfilter_spark.operators.spine import FeatureTable, spine_point_in_time
spark = get_spark(app_name="bench_spine_scaling", shuffle_partitions={parts})
spark.range(1000).selectExpr("sum(id)").collect()
ev = spark.read.parquet({sf_dir!r} + "/events.parquet")
k = {mult}
if k > 1:
    ev = ev.repartition(128)
    reps = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("rep")
    ev = (ev.select("*", reps)
            .withColumn("user_id", F.col("user_id") + F.col("rep").cast("long") * 10_000_000)
            .withColumn("event_id", F.col("event_id") + F.col("rep").cast("long") * 1_000_000_000)
            .drop("rep"))
t = dq.transcripts_from_events(ev)
spine = t.filter(F.col("turn_idx") % 3 == 0).select("conv_id", "turn_idx", "ts")
prof = dq.profile_from_events(ev)
clicks = (ev.filter(F.col("event_type") == "click")
            .groupBy(F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias("conv_id"), "ts")
            .agg(F.round(F.max("value"), 2).alias("click_value"),
                 F.count(F.lit(1)).alias("n_clicks")))
# pin the inputs so each timed run measures the ATTACH pass, not a
# re-execution of the shared synthesis lineage (same fix as
# bench_r7_scale section C — unpinned, both plans re-run the explode/
# window synthesis and the comparison dilutes)
spine = spine.persist()
prof = prof.persist()
clicks = clicks.persist()
n_spine = spine.count()
prof.count(), clicks.count()

def best_of(fn, reps):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter(); fn(); dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)

# consume one column from EVERY fill so Catalyst cannot prune a table out
AGGS = ["count(*) AS n", "sum(prof_purchase_value) AS a",
        "sum(clk_click_value) AS b", "sum(clk_n_clicks) AS c",
        "sum(cast(cast(prof_ts AS timestamp) AS long)) AS d",
        "sum(cast(cast(clk_ts AS timestamp) AS long)) AS e"]
tables = [FeatureTable(prof, "prof"), FeatureTable(clicks, "clk", tolerance_s=7200)]
spine_sec = best_of(
    lambda: spine_point_in_time(spine, tables).selectExpr(*AGGS).collect(),
    {repeats})

# the loop the operator replaces: 2 chained union-window as-of passes
def chained():
    s1 = asof.asof_join(
        spine,
        prof.select("conv_id", "ts",
                    F.col("purchase_value").alias("prof_purchase_value")),
        right_ts_alias="prof_ts")
    s2 = asof.asof_join(
        s1,
        clicks.select("conv_id", "ts",
                      F.col("click_value").alias("clk_click_value"),
                      F.col("n_clicks").alias("clk_n_clicks")),
        right_ts_alias="clk_ts", tolerance_s=7200)
    s2.selectExpr(*AGGS).collect()
chained_sec = best_of(chained, {repeats})

shuffle_sec = best_of(
    lambda: spark.range(0, n_spine, 1, 256)
                 .select((F.col("id") % 2_000_000).alias("kk"))
                 .groupBy("kk").count().selectExpr("sum(count)").collect(),
    {repeats})
print(json.dumps({{"n_spine": n_spine, "spine_sec": spine_sec,
                   "chained_sec": chained_sec, "shuffle_sec": shuffle_sec,
                   "spine_rows_per_sec": round(n_spine / spine_sec, 1)}}))
"""


def run_level(master: str, cores: int, mult: int, sf_dir: str,
              repeats: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=master,
        SPARK_GRAFT_EXECUTOR_MEMORY="20g",
        SPARK_LOCAL_DIRS="/dev/shm/spark-local-spine",
        SPARK_DRIVER_MEMORY="8g",
    )
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    code = RUNNER.format(repo=REPO, sf_dir=sf_dir, mult=mult,
                         parts=4 * cores, repeats=repeats)
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"runner failed at {master}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=200)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--jvms", type=int,
                    default=int(os.environ.get("SCALING_JVMS", "2")))
    ap.add_argument("--exec-cores", type=int, default=2,
                    help="cores per executor: 2 is the flagship pair; 1 is"
                         " the unsaturated-bandwidth pair (CLAUDE.md BLAS"
                         " idiom) for shuffle-bound ops where 4x2 already"
                         " rides the memory-bus ceiling")
    args = ap.parse_args()

    c = args.exec_cores
    specs = {
        "N": (f"local-cluster[1,{c},22528]", c),
        "4N": (f"local-cluster[4,{c},22528]", 4 * c),
    }
    best: dict[str, dict] = {}
    for r in range(args.jvms):
        for name, (master, cores) in specs.items():
            res = run_level(master, cores, args.mult, args.sf_dir,
                            args.repeats)
            print(f"round {r} {name} ({master}): {res}", flush=True)
            if name not in best or res["spine_sec"] < best[name]["spine_sec"]:
                best[name] = res
            time.sleep(3)

    eff = (
        best["4N"]["spine_rows_per_sec"] / best["N"]["spine_rows_per_sec"]
    ) / 4.0
    ceff = (best["N"]["chained_sec"] / best["4N"]["chained_sec"]) / 4.0
    print(json.dumps({
        "metric": f"spine_join_scaling_1x{c}_to_4x{c}",
        "n_spine": best["N"]["n_spine"],
        "thr_N_rows_per_sec": best["N"]["spine_rows_per_sec"],
        "thr_4N_rows_per_sec": best["4N"]["spine_rows_per_sec"],
        "wall_N_sec": best["N"]["spine_sec"],
        "wall_4N_sec": best["4N"]["spine_sec"],
        "chained_N_sec": best["N"]["chained_sec"],
        "chained_4N_sec": best["4N"]["chained_sec"],
        "shuffle_N_sec": best["N"]["shuffle_sec"],
        "shuffle_4N_sec": best["4N"]["shuffle_sec"],
        "efficiency": round(eff, 3),
        "chained_efficiency": round(ceff, 3),
        "spine_vs_chained_N": round(
            best["N"]["chained_sec"] / best["N"]["spine_sec"], 3),
        "spine_vs_chained_4N": round(
            best["4N"]["chained_sec"] / best["4N"]["spine_sec"], 3),
        "jvms_per_level": args.jvms,
    }))


if __name__ == "__main__":
    main()
