"""The perfbench workloads.

Each workload is a closed loop with one client on ``local[nproc]``: the
next pass starts when the previous one (and its output check) is done.

feature_backfill -- the paper's headline job.  ~40k turns (Zipf
    conversation sizes with mega-conversations, Japanese mixed-script text)
    through ``feature_pipeline_from_df`` (windows, as-of, Arrow rant-stats
    map), whose per-turn rows then feed a training-spine
    ``spine_point_in_time`` join over two feature tables (the pipeline's
    rows, and the profile table under a 3-day tolerance).  The pass consumes
    one column per pipeline stage, as the frozen bench's PIPELINE_AGGS does.
    Exercises operators.windows / asof / spine and functions.textfeats;
    never operators.dedup.  Rows are turns.
shard_ingest -- the daily-shard loop over the product's neardup store.
    Set-up writes the store for a 6k-document standing corpus and compacts
    it, as the weekly maintenance would.  Each pass takes the next
    500-document daily shard (10% planted near-dups of standing documents,
    plus in-shard exact and near dups) and dedups it against the store with
    ``minhash_lsh_pairs_incremental`` (small-against-large lookups),
    collects the pairs, lands the shard and appends its signatures.  The traced
    run also puts the day's first shard (500 documents with planted
    exact-dup groups, near-dup pairs, contaminations, junk and repetitive
    documents, PII and a benchmark source slice) through
    ``plans.curation.curate_corpus`` and checks it, so the curation layers
    (quality, repetition, PII, exact dedup, the full MinHash-LSH self-join,
    components, decontamination, packing) have per-layer numbers.
    Exercises dedup and the store (and, traced, curation); never windows or
    as-of.  Rows are shard documents.

A curate_corpus pass costs ~10 s on 4 cores whatever the corpus size (it
fires ~37 small jobs), and its per-layer cuts another ~25 s, so a curation
workload of its own, or curation inside every shard pass, did not fit the
benchmark's time budget of 4 + 22 x workloads runs of about a minute each;
curation therefore has per-layer numbers but no end-to-end metric.  The
frozen ``bench.py`` remains the separate smoke test of the headline queries
over a fixed scale-factor dataset.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen
import layertrace as tr
import procfs

PKG = "py_evalfilter_spark"

# every traced layer, in every workload: a layer a workload does not use
# must show up with no spans
LAYERS = {
    "windows": [
        f"{PKG}.operators.windows:{f}"
        for f in ("with_backfill", "with_rolling_count", "with_session", "with_lag_lead")
    ],
    "asof": [f"{PKG}.operators.asof:asof_join_union_window", f"{PKG}.operators.asof:asof_join"],
    "spine": [f"{PKG}.operators.spine:spine_point_in_time"],
    "textfeats": [f"{PKG}.functions.textfeats:with_rant_stats"],
    "quality": [f"{PKG}.functions.textanalysis:with_quality"],
    "repetition": [f"{PKG}.operators.corpus:filter_repetitive"],
    "pii": [f"{PKG}.functions.pii:scrub_pii"],
    "exact_dedup": [f"{PKG}.operators.dedup:exact_dedup"],
    "minhash": [f"{PKG}.operators.dedup:minhash_lsh_pairs"],
    "components": [f"{PKG}.operators.graph:dedup_keep_canonical"],
    "decontaminate": [f"{PKG}.operators.corpus:decontaminate"],
    "pack": [f"{PKG}.operators.corpus:pack_sequences"],
    "signatures": [f"{PKG}.operators.dedup:minhash_signatures"],
    "incremental": [f"{PKG}.operators.dedup:minhash_lsh_pairs_incremental"],
    "store.read": [f"{PKG}.operators.dedup:read_neardup_store"],
    "store.append": [f"{PKG}.operators.dedup:append_neardup_store"],
}
FEATURE_LAYERS = ("windows", "asof", "spine", "textfeats")

# per-layer metric names, in BENCHMARK.json order; every trace run reports
# all of them (0 for a layer the workload does not exercise)
PER_LAYER = [
    "derive.self_s", "windows.self_s", "asof.self_s", "spine.self_s",
    "textfeats.self_s", "pipeline.exchanges", "pipeline.sorts",
    "pipeline.arrow_eval_nodes", "pipeline.core_s", "pipeline.cpu_s",
    "pipeline.shuffle_write_bytes", "pipeline.spill_bytes",
    "pipeline.task_skew", "pipeline.peak_exec_mem_bytes",
    "curation.construct_s", "curation.construct_jobs", "curation.action_s",
    "quality.self_s", "repetition.self_s", "pii.self_s", "exact_dedup.self_s",
    "minhash.self_s", "components.self_s", "decontaminate.self_s",
    "pack.self_s", "minhash.candidate_pairs", "minhash.verified_pairs",
    "minhash.verify_yield", "curation.shuffle_write_bytes",
    "curation.spill_bytes",
    "store.read_s", "shard_sigs.self_s", "incremental.self_s",
    "store.append_s", "store.compact_s", "incremental.candidate_pairs",
    "incremental.verify_yield", "incremental.shuffle_write_bytes",
    "store.shuffle_write_bytes", "store.files", "store.bytes",
    "store.bytes_per_row", "memory.peak_rss_mb", "trace.overhead_s",
]


class CheckFailed(Exception):
    """A pass produced output that disagrees with the ground truth."""


class Workload:
    name = ""
    key = ""  # input-size tag: a size change never reuses a stale cache
    # untimed, checked passes at the end of set-up: a fresh JVM keeps
    # speeding up for several passes while the JIT compiles
    WARMUP_PASSES = 1
    MIN_PASSES = 2  # timed passes per run, even past --seconds

    def __init__(self, seed: int, cache_root: str, work: str) -> None:
        self.seed = seed
        self.work = work
        self.dir = os.path.join(cache_root, f"{self.name}-{self.key}-s{seed}")
        self.spark = None
        self.jvm_pid: int | None = None  # set once the session is up

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        """Generate this seed's inputs once into the cache directory."""
        if not os.path.isdir(self.dir):
            tmp = f"{self.dir}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            truth = self.generate(tmp)
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump(truth, f)
            os.replace(tmp, self.dir)
        with open(os.path.join(self.dir, "truth.json")) as f:
            self.truth = json.load(f)
        self.prepare_checks()

    def generate(self, out_dir: str) -> dict:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Build what the output checks compare against (before set-up is
        timed: it is the benchmark's work, not the program's)."""

    # -- lifecycle --------------------------------------------------------
    def setup(self, spark) -> None:
        """Load inputs and do the workload's one-time set-up."""
        self.spark = spark

    def _cpu_s(self) -> float:
        return procfs.tree_cpu_s(self.jvm_pid) - procfs.jit_cpu_s(self.jvm_pid)

    def clock(self) -> tuple[float, float]:
        """(wall, CPU) seconds now.  CPU time is the JVM's and its Python
        workers', less the JIT compiler's; the /proc walks stay outside the
        wall-time window."""
        cpu = self._cpu_s()
        return time.perf_counter(), cpu

    def since(self, start: tuple[float, float]) -> tuple[float, float]:
        """(wall, CPU) seconds since ``start``, a ``clock()`` reading."""
        wall = time.perf_counter() - start[0]
        return wall, self._cpu_s() - start[1]

    def run_pass(self, trace: dict | None = None) -> tuple[float, float, int]:
        """One timed pass: (wall seconds, CPU seconds, rows processed).
        Raises CheckFailed when the output is wrong.  A traced pass gets
        ``trace`` = {"group": job group its jobs run under} and may add what
        it observed."""
        raise NotImplementedError

    def layer_metrics(self, tracer: tr.Tracer, runs: list[dict]) -> dict[str, float]:
        """Per-layer metrics from the traced passes ``runs`` and from cuts
        taken now."""
        raise NotImplementedError

    def teardown(self) -> None:
        pass

    def exhausted(self) -> bool:
        """True when the workload has no input left for another pass."""
        return False

    def summary(self) -> dict[str, float]:
        return {}


def _agg_equal(a: dict, b: dict) -> bool:
    return all(
        (a[k] is None and b[k] is None)
        or (a[k] is not None and b[k] is not None and np.isclose(a[k], b[k]))
        if isinstance(a[k], float) or isinstance(b[k], float)
        else a[k] == b[k]
        for k in a
    )


# ---------------------------------------------------------------------------
# feature_backfill
# ---------------------------------------------------------------------------


class FeatureBackfill(Workload):
    name = "feature_backfill"
    # a pass costs ~2.5 s on 4 cores at 40k turns and about the same at
    # 20k: most of it is planning and scheduling the pipeline's stages.  The
    # JIT compiler stays busy through the first dozen passes; after four,
    # the CPU a pass costs has come down to within ~10% of pass twelve's
    N_TURNS = 40_000
    WARMUP_PASSES = 4
    key = f"t{N_TURNS}"
    TOLERANCE_S = 3 * 86400
    N_SAMPLE = 12

    AGGS = [
        "count(*) AS n",
        "sum(f_tokens) AS tokens",  # Arrow feature map
        "sum(f_kanji) AS kanji",
        "sum(f_turns_last3) AS turns_last3",  # rolling window
        "sum(f_session_seq) AS session_seq",  # sessionization
        "max(f_tool_ffill) AS tool_ffill",  # backfill
        "sum(cast(cast(f_profile_ts AS timestamp) AS long)) AS profile_ts",  # as-of
        "sum(f_empathies) AS empathies",
        "sum(p_birthyear) AS p_birthyear",  # spine table 2, under tolerance
        "coalesce(sum(cast(f_profile_ts > f_ts AS int)), 0) AS leak_asof",
        "coalesce(sum(cast(f_ts > ts AS int)), 0)"
        " + coalesce(sum(cast(p_ts > ts AS int)), 0) AS leak_spine",
    ]

    def generate(self, out_dir: str) -> dict:
        t, p, s = gen.transcripts(self.N_TURNS, self.seed)
        t.to_parquet(f"{out_dir}/transcripts.parquet", index=False)
        p.to_parquet(f"{out_dir}/profiles.parquet", index=False)
        s.to_parquet(f"{out_dir}/spine.parquet", index=False)
        sizes = t.groupby("conv_id").size()
        rng = np.random.RandomState(self.seed)
        sample = [sizes.idxmax()] + list(
            rng.choice(sizes.index[sizes.index != sizes.idxmax()], self.N_SAMPLE - 1, replace=False)
        )
        return {"turns": len(t), "spine_rows": len(s), "sample": sample}

    def prepare_checks(self) -> None:
        from py_evalfilter_spark import golden

        t = pd.read_parquet(f"{self.dir}/transcripts.parquet")
        p = pd.read_parquet(f"{self.dir}/profiles.parquet")
        sample = set(self.truth["sample"])
        st = t[t.conv_id.isin(sample)].reset_index(drop=True)
        sp = p[p.conv_id.isin(sample)].reset_index(drop=True)
        win = golden.golden_windowed(st)
        asof = golden.golden_asof(st, sp)
        feats = golden.golden_rant_stats(st["text"])
        feats[["conv_id", "turn_idx"]] = st[["conv_id", "turn_idx"]]
        key = ["conv_id", "turn_idx"]
        self.golden = (
            win.merge(asof.drop(columns=["role", "text", "tool", "ts"]), on=key)
            .merge(feats, on=key)
            .sort_values(key, kind="mergesort")
            .reset_index(drop=True)
        )
        self.reference = None

    def _build(self):
        from py_evalfilter_spark.operators import spine
        from py_evalfilter_spark.plans import pipeline

        read = self.spark.read.parquet
        t = read(f"{self.dir}/transcripts.parquet")
        p = read(f"{self.dir}/profiles.parquet")
        s = read(f"{self.dir}/spine.parquet")
        feats = pipeline.feature_pipeline_from_df(t, p)
        table = feats.select(
            "conv_id", "ts", "tokens", "kanji", "turns_last3", "session_seq",
            "tool_ffill", "profile_ts", "empathies",
        )
        profile = p.select("conv_id", "ts", "birthyear")
        out = spine.spine_point_in_time(
            s,
            [
                spine.FeatureTable(table, "f"),
                spine.FeatureTable(profile, "p", tolerance_s=self.TOLERANCE_S),
            ],
        )
        return feats, out.selectExpr(*self.AGGS)

    def run_pass(self, trace: dict | None = None) -> tuple[float, float, int]:
        from pyspark.sql import functions as F

        self.spark.catalog.clearCache()
        t0 = self.clock()
        feats, agg = self._build()
        row = agg.collect()[0].asDict()
        dt, cpu = self.since(t0)
        if trace is not None:
            trace["action"] = agg
            self.spark.sparkContext.setJobGroup(trace["group"] + "-check", "check")
        if row["n"] != self.truth["spine_rows"]:
            raise CheckFailed(f"spine rows {row['n']} != {self.truth['spine_rows']}")
        if row["leak_asof"] or row["leak_spine"]:
            raise CheckFailed(f"temporal leakage {row}")
        if self.reference is None:
            self.reference = row
        elif not _agg_equal(row, self.reference):
            raise CheckFailed(f"aggregate drifted: {row} vs {self.reference}")
        got = feats.filter(F.col("conv_id").isin(self.truth["sample"])).toPandas()
        self._check_sample(got)
        return dt, cpu, self.truth["turns"]

    def _check_sample(self, got: pd.DataFrame) -> None:
        from py_evalfilter_spark import textcore as tc

        key = ["conv_id", "turn_idx"]
        a = got.sort_values(key, kind="mergesort").reset_index(drop=True)
        b = self.golden
        if len(a) != len(b):
            raise CheckFailed(f"sample rows {len(a)} != golden {len(b)}")
        for col in ["text", "tool_ffill", "session_id", "state", "gender", "job"]:
            x, y = a[col], b[col]
            if not ((x == y) | (x.isna() & y.isna())).all():
                raise CheckFailed(f"sample column {col} differs from golden")
        for col in ["turns_last3", "session_seq", "empathies", "birthyear"]:
            x, y = a[col].astype("float64"), b[col].astype("float64")
            if not np.allclose(x, y, equal_nan=True):
                raise CheckFailed(f"sample column {col} differs from golden")
        x = pd.to_datetime(a["profile_ts"]).astype("datetime64[us]")
        y = pd.to_datetime(b["profile_ts"]).astype("datetime64[us]")
        if not ((x == y) | (x.isna() & y.isna())).all():
            raise CheckFailed("sample profile_ts differs from golden")
        names = list(tc.FEATURE_NAMES)
        if not np.allclose(a[names].to_numpy("float64"), b[names].to_numpy("float64")):
            raise CheckFailed("sample rant stats differ from golden")

    def layer_metrics(self, tracer: tr.Tracer, runs: list[dict]) -> dict[str, float]:
        # the chain the pipeline builds: source scan -> windows -> as-of ->
        # rant-stats map -> spine; each cut re-runs its whole prefix
        cuts = {"derive": tracer.last_call("windows", "with_backfill").input}
        for layer in FEATURE_LAYERS:
            cuts[layer] = tracer.last_call(layer).output
        order = ["derive", "windows", "asof", "textfeats", "spine"]
        times = {k: tr.timed_cut(cuts[k])[0] for k in order}
        out = {"derive.self_s": times["derive"]}
        for prev, cur in zip(order, order[1:]):
            out[f"{cur}.self_s"] = times[cur] - times[prev]
        stages = [tr.stage_metrics(self.spark, r["group"]) for r in runs]
        for k in ("core_s", "cpu_s", "shuffle_write_bytes", "spill_bytes",
                  "task_skew", "peak_exec_mem_bytes"):
            out[f"pipeline.{k}"] = statistics.median(s[k] for s in stages)
        nodes = tr.plan_nodes(runs[-1]["action"])
        out["pipeline.exchanges"] = nodes.get("Exchange", 0)
        out["pipeline.sorts"] = nodes.get("Sort", 0)
        out["pipeline.arrow_eval_nodes"] = nodes.get("ArrowEvalPython", 0)
        tracer.report.update(cut_s=times, plan_nodes=nodes, stages=stages)
        return out


# ---------------------------------------------------------------------------
# shard_ingest
# ---------------------------------------------------------------------------


class ShardIngest(Workload):
    name = "shard_ingest"
    # set-up (JVM, store backfill and compaction, warm-up pass) costs ~25-40 s
    # on 4 cores and a pass ~4-7 s, mostly per-job overhead: 500- and
    # 800-document shards cost the same.  Compaction is
    # maintenance on a weekly cadence, so it is set-up work: a pass that
    # sometimes compacts would double the pass-time spread
    N_STANDING = 6_000
    SHARD = 500
    N_SHARDS = 10
    CURATE_SHARDS = 1  # the traced run curates the day's first shard
    key = f"s{N_STANDING}x{SHARD}x{N_SHARDS}c{CURATE_SHARDS}"
    LSH = {"unit": "word", "threshold": gen.NEARDUP_THRESHOLD, "n": gen.SHINGLE_N}
    # the stage chain curate_corpus builds
    CHAIN = [
        "quality", "repetition", "pii", "exact_dedup", "minhash",
        "components", "decontaminate", "pack",
    ]

    def generate(self, out_dir: str) -> dict:
        standing, shards = gen.shard_stream(
            self.N_STANDING, self.N_SHARDS, self.SHARD, self.seed
        )
        standing.to_parquet(f"{out_dir}/standing.parquet", index=False)
        docs = pd.concat([d for d, _ in shards], ignore_index=True)
        docs.to_parquet(f"{out_dir}/shards.parquet", index=False)
        # curate_corpus reads {sf_dir}/documents.parquet
        first = shards[: self.CURATE_SHARDS]
        os.makedirs(f"{out_dir}/curation")
        docs = pd.concat([d for d, _ in first], ignore_index=True)
        docs.to_parquet(f"{out_dir}/curation/documents.parquet", index=False)
        return {
            "standing_pairs": [t["standing_pairs"] for _, t in shards],
            "curation": {
                k: [x for _, t in first for x in t[k]]
                for k in ("benchmark_ids", "exact_groups", "near_pairs", "dropped_ids")
            },
        }

    def exhausted(self) -> bool:
        return self.next_shard >= self.N_SHARDS

    def _curate(self, info: dict) -> None:
        """The day's first shard through curate_corpus with per-stage
        Observations, its jobs under ``info["group"]``; the output is
        checked against the planted ground truth."""
        from py_evalfilter_spark.plans import curation

        spark = self.spark
        spark.catalog.clearCache()
        observations: dict = {}
        t0 = time.perf_counter()
        spark.sparkContext.setJobGroup(info["group"] + "-construct", "construct")
        out = curation.curate_corpus(spark, f"{self.dir}/curation", observations=observations)
        t1 = time.perf_counter()
        spark.sparkContext.setJobGroup(info["group"], "action")
        got = out.select("doc_id", "pack_id", "n_tokens").toPandas()
        info.update(
            construct_s=t1 - t0,
            action_s=time.perf_counter() - t1,
            # an Observation whose node never completed would block get()
            observations={
                name: o._jo.getRow().getLong(0) if o._jo.future().isCompleted() else None
                for name, o in observations.items()
            },
        )
        self._check_curation(got, self.truth["curation"])

    def prepare_checks(self) -> None:
        self.texts = {}
        for name in ("standing", "shards"):
            docs = pd.read_parquet(f"{self.dir}/{name}.parquet", columns=["doc_id", "text"])
            self.texts.update(zip(docs.doc_id.tolist(), docs.text.tolist()))

    def setup(self, spark) -> None:
        from py_evalfilter_spark.operators import dedup

        self.spark = spark
        self.prefix = "neardup"
        self.store = os.path.join(self.work, "store")
        self.landed = os.path.join(self.work, "landed")
        dedup.write_neardup_store(
            self._signatures(spark.read.parquet(f"{self.dir}/standing.parquet")),
            self.prefix,
            path=self.store,
        )
        t = time.perf_counter()
        dedup.compact_neardup_store(spark, self.prefix)
        self.compact_s = time.perf_counter() - t
        self.rows_in_store = self.N_STANDING
        self.next_shard = 0

    def _signatures(self, df):
        from py_evalfilter_spark.operators import dedup

        return dedup.minhash_signatures(df, "doc_id", "text", n=self.LSH["n"], unit="word")

    def _corpus(self):
        """Standing corpus plus every shard landed so far."""
        corpus = self.spark.read.parquet(f"{self.dir}/standing.parquet")
        if os.path.isdir(self.landed):
            corpus = corpus.unionByName(self.spark.read.parquet(self.landed))
        return corpus

    def _shard(self, k: int):
        from pyspark.sql import functions as F

        lo = self.N_STANDING + k * self.SHARD
        return (
            self.spark.read.parquet(f"{self.dir}/shards.parquet")
            .filter(F.col("doc_id").between(lo, lo + self.SHARD - 1))
            .select("doc_id", "text")
        )

    def run_pass(self, trace: dict | None = None) -> tuple[float, float, int]:
        from py_evalfilter_spark.operators import dedup

        k = self.next_shard
        self.next_shard += 1
        spark = self.spark
        sc = spark.sparkContext
        spark.catalog.clearCache()
        t0 = self.clock()
        landed = self._shard(k)
        sigs, banded = dedup.read_neardup_store(spark, self.prefix)
        pairs = dedup.minhash_lsh_pairs_incremental(
            landed, self._corpus(), "doc_id", "text",
            old_sigs=sigs, old_banded=banded, **self.LSH,
        ).collect()
        if trace is not None:
            sc.setJobGroup(trace["group"] + "-store", "store append")
        dedup.append_neardup_store(self._signatures(landed), self.prefix)
        landed.write.mode("append").parquet(self.landed)
        dt, cpu = self.since(t0)
        self.rows_in_store += self.SHARD
        self._check_pairs(k, pairs)
        return dt, cpu, self.SHARD

    def _check_curation(self, got: pd.DataFrame, truth: dict) -> None:
        kept = set(got["doc_id"].tolist())
        if len(kept) != len(got):
            raise CheckFailed("a document was packed twice")
        for g in truth["exact_groups"]:
            if len(kept.intersection(g)) != 1:
                raise CheckFailed(f"exact-dup group {g} kept {sorted(kept.intersection(g))}")
        if kept.intersection(truth["benchmark_ids"]):
            raise CheckFailed("a benchmark-source document survived")
        if kept.intersection(truth["dropped_ids"]):
            raise CheckFailed("a contaminated, junk or repetitive document survived")
        for a, b in truth["near_pairs"]:
            if a in kept and b in kept:
                raise CheckFailed(f"near-dup pair {(a, b)} both survived")
        if got["pack_id"].isna().any() or (got["n_tokens"] <= 0).any():
            raise CheckFailed("unpacked or empty document in the output")

    def _check_pairs(self, k: int, pairs) -> None:
        lo = self.N_STANDING + k * self.SHARD
        got = set()
        for r in pairs:
            a, b, j = r["doc_id"], r["dup_id"], r["jaccard"]
            if not (a < b and lo <= b < lo + self.SHARD):
                raise CheckFailed(f"pair {(a, b)} does not touch shard {k}")
            exact = gen.jaccard(self.texts[a], self.texts[b])
            if abs(round(exact, 4) - j) > 1e-9 or exact < gen.NEARDUP_THRESHOLD:
                raise CheckFailed(f"pair {(a, b)}: jaccard {j} vs exact {exact}")
            got.add((a, b))
        missing = {tuple(p) for p in self.truth["standing_pairs"][k]} - got
        if missing:
            raise CheckFailed(f"shard {k}: planted pairs not emitted: {sorted(missing)[:5]}")

    def store_files(self) -> tuple[int, int]:
        files = []
        for t in ("sigs", "banded"):
            files += self.spark.table(f"{self.prefix}_{t}").inputFiles()
        size = sum(os.path.getsize(f.replace("file:", "", 1)) for f in files)
        return len(files), size

    def summary(self) -> dict[str, float]:
        return {"store_bytes_per_row": self.store_files()[1] / self.rows_in_store}

    def layer_metrics(self, tracer: tr.Tracer, runs: list[dict]) -> dict[str, float]:
        from py_evalfilter_spark.operators import dedup

        spark = self.spark
        out: dict[str, float] = {}

        # curation: one traced curate_corpus of the first shard.  A layer's self
        # time is its construction-time span self (size gates, driver-side
        # union-find) plus cut(output) - cut(input): the stages do not form
        # a chain (dedup_keep_canonical takes the documents and the pairs,
        # and resolves components while it builds), so the previous
        # layer's cut is not what a layer consumed.
        cur = {"group": "curation"}
        with tracer:
            self._curate(cur)
        span_self = tracer.span_self_s()
        spark.sparkContext.setJobGroup("cuts", "perfbench per-layer cuts")
        cut_s: dict[int, float] = {}

        def cut(df) -> float:
            if id(df) not in cut_s:
                dt, rows, done = tr.timed_cut(df)
                cut_s[id(df)] = dt
                if df is tracer.last_call("minhash").output:
                    cands = tr.python_rows(done)
                    out["minhash.candidate_pairs"] = cands
                    out["minhash.verified_pairs"] = rows
                    out["minhash.verify_yield"] = rows / cands if cands else 1.0
            return cut_s[id(df)]

        for layer in self.CHAIN:
            call = tracer.last_call(layer)
            out[f"{layer}.self_s"] = span_self[layer] + cut(call.output) - cut(call.input)
        out["curation.construct_s"] = cur["construct_s"]
        out["curation.action_s"] = cur["action_s"]
        construct = tr.stage_metrics(spark, "curation-construct")
        action = tr.stage_metrics(spark, "curation")
        out["curation.construct_jobs"] = construct["jobs"]
        for k in ("shuffle_write_bytes", "spill_bytes"):
            out[f"curation.{k}"] = construct[k] + action[k]

        # store side: the traced passes' jobs, then cuts of the next shard
        # against the store as it stands
        ingest = [tr.stage_metrics(spark, r["group"]) for r in runs]
        store = [tr.stage_metrics(spark, r["group"] + "-store") for r in runs]
        out["incremental.shuffle_write_bytes"] = statistics.median(
            s["shuffle_write_bytes"] for s in ingest
        )
        out["store.shuffle_write_bytes"] = statistics.median(
            s["shuffle_write_bytes"] for s in store
        )
        new = self._shard(self.next_shard)
        sigs, banded = dedup.read_neardup_store(spark, self.prefix)
        read_s = tr.timed_cut(sigs)[0] + tr.timed_cut(banded)[0]
        new_s = tr.timed_cut(new)[0]
        sigs_s = tr.timed_cut(self._signatures(new))[0]
        inc_s, rows, df = tr.timed_cut(
            dedup.minhash_lsh_pairs_incremental(
                new, self._corpus(), "doc_id", "text",
                old_sigs=sigs, old_banded=banded, **self.LSH,
            )
        )
        cands = tr.python_rows(df)
        out["store.read_s"] = read_s
        out["shard_sigs.self_s"] = sigs_s - new_s
        out["incremental.self_s"] = inc_s - read_s - sigs_s
        out["incremental.candidate_pairs"] = cands
        out["incremental.verify_yield"] = rows / cands if cands else 1.0
        appends = [s for s in tracer.spans if s.layer == "store.append"]
        out["store.append_s"] = statistics.median(s.end - s.start for s in appends)
        out["store.compact_s"] = self.compact_s
        n, size = self.store_files()
        out["store.files"] = n
        out["store.bytes"] = size
        out["store.bytes_per_row"] = size / self.rows_in_store
        tracer.report.update(
            curation=cur, curation_cuts=len(cut_s),
            curation_stages={"construct": construct, "action": action},
            ingest_stages=ingest, store_stages=store,
        )
        return out

    def teardown(self) -> None:
        for t in self.spark.catalog.listTables():
            if t.name.startswith(self.prefix):
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.rmtree(self.landed, ignore_errors=True)


WORKLOADS = {w.name: w for w in (FeatureBackfill, ShardIngest)}
