#!/usr/bin/env python
"""Round-8 optimization harness: per-query isolation OUTSIDE the frozen
bench.py (guide §1.4).

Times a chosen subset of the bench queries with the exact same consuming
aggregation bench.py uses (bench.benched_df), labels jobs, and can dump
`.explain("formatted")` for each query to plans/r08/.  A catalog query
that bench.py does not time (e.g. ann_ivf) is consumed with `count(*)`.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py smote dedup_incremental
  python bench_extra.py --explain smote          # writes plans/r08/smote_<tag>.txt
  python bench_extra.py --all                    # every bench query once

Env:
  BENCH_EXTRA_REPEATS   best-of-N (default 2)
  BENCH_EXTRA_TAG       suffix for explain files (default 'before')
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen harness: reuse its CONSUME/benched_df)
from py_evalfilter_spark.plans import driver_queries as dq  # noqa: E402
from py_evalfilter_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))
TAG = os.environ.get("BENCH_EXTRA_TAG", "before")


def _benched(spark, name: str):
    if name in bench.CONSUME:
        return bench.benched_df(spark, name, SF_DIR)
    return dq.QUERIES[name](spark, SF_DIR).selectExpr("count(*) AS n")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    do_explain = "--explain" in args
    args = [a for a in args if not a.startswith("--")]
    names = list(bench.CONSUME) if not args else args

    spark = get_spark(app_name="bench_extra")
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict[str, float] = {}
    for name in names:
        if do_explain:
            df = _benched(spark, name)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            os.makedirs("plans/r08", exist_ok=True)
            p = f"plans/r08/{name}_{TAG}.txt"
            with open(p, "w") as f:
                f.write(txt)
            print(f"wrote {p}", file=sys.stderr)
            continue
        best = None
        for i in range(REPEATS):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            _benched(spark, name).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr)

    print(json.dumps({"sf_dir": SF_DIR, "repeats": REPEATS, "queries": out}))


if __name__ == "__main__":
    main()
