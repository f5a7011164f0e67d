"""Streaming NEAR-duplicate detection (SURVEY.md §2.9 extension): MinHash
LSH over a document stream with per-bucket state carried across
micro-batches via applyInPandasWithState.

Pipeline shape (the batch operator's stages, re-cut for a stream):

  stateless   minhash signature per doc (the same Arrow pass as batch —
              operators/dedup.minhash_signatures, streaming-safe)
  stateless   band explode → (band, bucket) keys (dedup.band_buckets)
  STATEFUL    groupBy(band, bucket): state = every (doc_id, signature)
              ever seen in this bucket; each arriving doc emits candidate
              pairs against the state whose signature-agreement Jaccard
              estimate clears threshold − margin, then joins the state

Emitted pairs carry the ESTIMATE, not an exact verify: the stream has no
access to earlier documents' text (state holds signatures only — O(96B·
num_perm) per doc, not the corpus), so exact confirmation is a cheap
batch join over the tiny candidate set downstream — the same
est-prefilter-then-verify split the batch operator uses.  A pair sharing
k bands is emitted k times (each bucket's state is independent);
downstream dedups by (doc_id, dup_id).

Scale: state per bucket grows with true bucket occupancy, which the
banding keeps small on non-pathological corpora — and the default is
bounded (VERDICT r4 #5): a bucket that an adversarial stream floods past
`max_bucket_size` docs drops its OLDEST entries first (FIFO — a web
crawl dedups against a sliding window of recent content, not all of
history, so recency is the right horizon).  Long-running deployments
should ALSO pass `timeout` (processing-time idle eviction) so the
bucket-count dimension is bounded too; it is opt-in rather than default
because a ProcessingTimeTimeout keeps a Trigger.AvailableNow query alive
waiting on timers — a bounded replay/backfill would hang (measured: the
batch-parity pytest blocks >170 s with any finite default).

The DELTA-regime sink, `incremental_neardup_sink`, carries no stream
state and no layout of its own: each micro-batch is looked up against,
then appended to, the one bucketed neardup store of operators/dedup
({prefix}_sigs and {prefix}_banded, plus a plain {prefix}_texts table as
the verify source).  The sink's own pairs/batch=N/_PAIRS_COMMITTED
marker marks a replay, which appends only the batch rows each table
lacks.  A restart needs a catalog that persists across applications."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup
from ..pinning import PinScope

NEARDUP_OUT = "doc_id long, dup_id long, est double"
NEARDUP_STATE = "buckets array<long>, ids array<long>, sigs array<array<long>>"


def _duration_to_ms(timeout: str | int) -> int:
    """'30 minutes' → 1_800_000 (GroupState.setTimeoutDuration takes int
    milliseconds in this PySpark version, not a CalendarInterval string).
    Strings go through pandas' Timedelta parser; a bare number (pandas
    would read nanoseconds) or a non-positive duration is rejected."""
    if isinstance(timeout, int):
        return timeout
    try:
        ms = pd.Timedelta(timeout) // pd.Timedelta(1, "ms")
    except ValueError:
        ms = 0
    if ms <= 0:
        raise ValueError(f"unparseable timeout duration: {timeout!r}")
    return ms


def streaming_minhash_candidates(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    unit: str = "word",
    est_margin: float = 0.15,
    timeout: str | int | None = None,
    max_bucket_size: int | None = 10_000,
    group_coalesce: int | None = 8192,
) -> DataFrame:
    """Candidate near-dup pairs (doc_id < dup_id, est = signature-agreement
    Jaccard estimate ≥ threshold − est_margin) from a document stream.
    Same (n, num_perm, bands, seed, unit) semantics as
    dedup.minhash_lsh_pairs, so a batch re-verify of the emitted
    candidates reproduces the batch operator's pairs.

    At-least-once replay safe: a redelivered doc_id already present in a
    bucket's state is skipped outright (its signature is deterministic, so
    the stored entry is identical and re-emitting its pairs would only
    duplicate output).  `id_col` must be an integral column — the state
    schema stores ids as long (ADVICE r4: a string id would silently
    int()-truncate otherwise, so it is rejected up front).

    `group_coalesce` (r5): the state GROUP is (band, bucket mod P), not
    (band, bucket) — comparisons still happen strictly within true
    buckets (every state entry carries its bucket), the coalescing only
    changes the physical grouping.  Why: LSH buckets are near-singleton
    by design, and PySpark's applyInPandasWithState pays per-GROUP Python
    overhead — the 1M-doc bench measured ~2M singleton groups per
    micro-batch costing ~6× the batch path (BENCH/BASELINE.md round 5).
    Coalescing bounds the group count at bands·P and amortizes the
    per-call cost over ~occupancy·corpus/P entries; the trade is that a
    bulk backfill batch touches (and round-trips) most groups' state.
    None restores one-group-per-bucket (the minimal-state-churn shape for
    low-rate incremental streams)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    assert num_perm % bands == 0
    id_type = stream.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"streaming_minhash_candidates requires an integral {id_col!r} "
            f"column (state stores ids as long); got {id_type.simpleString()}"
        )
    r = num_perm // bands
    cut = threshold - est_margin
    timeout_ms = _duration_to_ms(timeout) if timeout is not None else None

    sigs = dedup.minhash_signatures(
        stream.select(id_col, text_col), id_col, text_col, n, num_perm, seed, unit=unit
    )
    banded = dedup.band_buckets(sigs, bands, r, keep_signature=True)
    if group_coalesce is not None:
        banded = banded.withColumn(
            "gkey", F.pmod(F.col("bucket"), F.lit(int(group_coalesce)))
        )
        group_cols = ["band", "gkey"]
    else:
        group_cols = ["band", "bucket"]

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        buckets, ids, sigs_ = (
            state.get if state.exists else ([], [], [])
        )
        # SHALLOW copies only: with coalesced groups most of the state
        # round-trips through here every micro-batch, and deep-converting
        # each stored signature (entries × num_perm element casts) was the
        # measured hotspot of the 1M-doc run.  Entries are append-only, so
        # the stored element objects are never mutated — whatever sequence
        # type the Arrow boundary handed us goes straight back.
        buckets, ids, sigs_ = list(buckets), list(ids), list(sigs_)
        # per-bucket index: comparisons and the replay check are strictly
        # within the TRUE bucket — coalescing is physical, not semantic
        by_bucket: dict[int, list[int]] = {}
        for i, bkt in enumerate(buckets):
            by_bucket.setdefault(bkt, []).append(i)
        out_a: list[int] = []
        out_b: list[int] = []
        out_e: list[float] = []
        dropped = False
        for pdf in pdfs:
            for bkt, doc_id, sig in zip(
                pdf["bucket"], pdf["doc_id"], pdf["signature"]
            ):
                bkt, doc_id = int(bkt), int(doc_id)
                # .tolist() is one C call; the per-element int() loop it
                # replaces was measurable at 1M docs
                sig = sig.tolist() if hasattr(sig, "tolist") else [int(x) for x in sig]
                members = by_bucket.setdefault(bkt, [])
                if any(ids[p] == doc_id for p in members):
                    continue  # at-least-once replay: identical entry
                for p in members:
                    osig = sigs_[p]
                    est = sum(a == b for a, b in zip(sig, osig)) / num_perm
                    if est >= cut:
                        oid = ids[p]
                        a, b = (oid, doc_id) if oid < doc_id else (doc_id, oid)
                        out_a.append(a)
                        out_b.append(b)
                        out_e.append(round(est, 4))
                members.append(len(ids))
                buckets.append(bkt)
                ids.append(doc_id)
                sigs_.append(sig)
                if max_bucket_size is not None and len(members) > max_bucket_size:
                    # FIFO within the bucket: recency is the horizon
                    del by_bucket[bkt][: len(members) - max_bucket_size]
                    dropped = True
        if dropped:
            keep = sorted(p for ps in by_bucket.values() for p in ps)
            buckets = [buckets[p] for p in keep]
            ids = [ids[p] for p in keep]
            sigs_ = [sigs_[p] for p in keep]
        state.update((buckets, ids, sigs_))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if out_a:
            yield pd.DataFrame({"doc_id": out_a, "dup_id": out_b, "est": out_e})

    return banded.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=NEARDUP_OUT,
        stateStructType=NEARDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if timeout
        else GroupStateTimeout.NoTimeout,
    )


def incremental_neardup_sink(
    table_prefix: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    unit: str = "word",
    est_margin: float = 0.15,
):
    """foreachBatch sink for streaming near-dup in the DELTA regime — the
    design the round-6 measurement prescribed (BENCH/BASELINE.md):
    signatures live in a TABLE, not in stream state.  Each micro-batch
    (an arriving shard) is deduped against the standing neardup store of
    operators/dedup (the bucketed layout `shard_ingest` maintains), then
    folded into it.  Contrast streaming_minhash_candidates, which measured
    55–119 s per 10k-doc delta at 1M standing docs (HDFS state store
    rewrote ~6.3 GB per batch) vs ~17 s for this shape — and which
    remains the right tool only where candidates must be emitted
    continuously from standing state.

    Tables (catalog, external under `path`):
      {prefix}_sigs, {prefix}_banded   dedup.write_neardup_store's store
      {prefix}_texts                   (doc_id, text), the verify source
    and `path`/pairs/batch=N/: exact-verified pairs whose later member
    arrived in batch N.  The first batch creates an empty store (an empty
    store is just an empty old side), with write_neardup_store's default
    `n_buckets`: a pre-built store with another bucket count fails loudly
    on the first append (and one without a `{prefix}_texts` table at the
    first lookup).  `dedup.compact_neardup_store` compacts the
    sigs/banded tables between batches; `{prefix}_texts` is not compacted.

    Per batch: the signatures are computed once (one MinHash Arrow pass);
    the lookup joins the shard's banding against the stored bucketed
    banding (the store side never shuffles), writes the pairs, then
    appends the shard to the texts, sigs and banded tables.

    Replay-idempotent (foreachBatch is at-least-once): the pairs are
    written first, then the sink's own marker pairs/batch=N/_PAIRS_COMMITTED
    (it does not rely on Hadoop's _SUCCESS, which a conf can switch off),
    then the appends.  A marked batch is a replay: it skips the lookup
    (its pairs stand) and appends to each table only the batch rows that
    table lacks, so a batch whose first attempt died between appends ends
    as if delivered once.

    Restarts: the tables are found through the session catalog, so a
    restarted query needs a catalog that persists across applications
    (a Hive metastore or equivalent; `session.get_spark` builds an
    in-memory one).  In a fresh catalog the sink does not re-create the
    store over its files: the first batch's `errorifexists` create meets
    the non-empty `path`/texts and fails loudly.  Re-register the tables
    (after a compaction the store lives in sigs_<gen>/banded_<gen>) or
    start over with an empty `path`.

    Usage:
        q = (stream.writeStream.foreachBatch(
                incremental_neardup_sink("neardup", "/data/neardup_store"))
             .option("checkpointLocation", ckpt).start())
    """
    texts = f"{table_prefix}_texts"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.selectExpr(f"`{id_col}` AS doc_id", f"`{text_col}` AS text")
        out = f"{path}/pairs/batch={batch_id}"
        # the sink's own replay marker, written once the pairs are committed
        mark = spark._jvm.org.apache.hadoop.fs.Path(f"{out}/_PAIRS_COMMITTED")
        fs = mark.getFileSystem(spark._jsc.hadoopConfiguration())
        with PinScope() as pins:
            sigs = pins.pin(  # the batch's one MinHash pass feeds lookup and appends
                dedup.minhash_signatures(new, "doc_id", "text", n, num_perm, seed, unit)
            )
            # errorifexists: a table missing from the catalog over a
            # non-empty location is a restart in a fresh catalog, and
            # creating it any other way would clear or orphan the store
            if not spark.catalog.tableExists(f"{table_prefix}_banded"):
                new.limit(0).write.saveAsTable(
                    texts, "parquet", "errorifexists", path=f"{path}/texts"
                )
                dedup.write_neardup_store(
                    sigs.limit(0), table_prefix, path=path, mode="errorifexists"
                )
            if fs.exists(mark):
                _append_lacking(spark, table_prefix, new, sigs, bands, num_perm)
                return
            verify_texts = new.union(spark.table(texts)).toDF("doc_id", "__text")
            dedup._lsh_pairs(
                sigs, *dedup.read_neardup_store(spark, table_prefix), verify_texts,
                n, num_perm, bands, threshold, unit, est_margin, pins,
            ).write.mode("overwrite").parquet(out)
            fs.create(mark).close()  # appends may start only after this
            new.write.saveAsTable(texts, "parquet", "append")
            dedup.append_neardup_store(sigs, table_prefix, bands, num_perm)

    return _sink


def _append_lacking(spark, table_prefix, new, sigs, bands, num_perm) -> None:
    """A replay's appends: each table gets only the batch rows it does
    not hold yet (its doc_ids left-semi joined against the broadcast batch
    ids, then the batch left-anti joined against that), so a batch whose
    first attempt died between appends ends as if delivered once."""
    ids = F.broadcast(sigs.select("doc_id"))

    def lacking(df: DataFrame, table: str) -> DataFrame:
        have = spark.table(f"{table_prefix}_{table}")
        have = have.join(ids, "doc_id", "left_semi").select("doc_id")
        return df.join(have, "doc_id", "left_anti")

    texts = lacking(new, "texts")
    texts.write.saveAsTable(f"{table_prefix}_texts", "parquet", "append")
    banded = dedup.band_buckets(lacking(sigs, "banded"), bands, num_perm // bands)
    dedup._write_store(
        lacking(sigs, "sigs"), banded, table_prefix, dedup.NEARDUP_BUCKETS, None,
        mode="append",
    )
