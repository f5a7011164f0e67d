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
batch-parity pytest blocks >170 s with any finite default)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import dedup

NEARDUP_OUT = "doc_id long, dup_id long, est double"
NEARDUP_STATE = "buckets array<long>, ids array<long>, sigs array<array<long>>"

_DURATION_MS = {
    "ms": 1,
    "millisecond": 1,
    "milliseconds": 1,
    "second": 1000,
    "seconds": 1000,
    "minute": 60_000,
    "minutes": 60_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "day": 86_400_000,
    "days": 86_400_000,
}


def _duration_to_ms(timeout: str | int) -> int:
    """'30 minutes' → 1_800_000 (GroupState.setTimeoutDuration takes int
    milliseconds in this PySpark version, not a CalendarInterval string)."""
    if isinstance(timeout, int):
        return timeout
    n, _, unit = timeout.strip().partition(" ")
    try:
        return int(n) * _DURATION_MS[unit.strip().lower()]
    except (ValueError, KeyError):
        raise ValueError(f"unparseable timeout duration: {timeout!r}") from None


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
    import pandas as pd
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
        from pyspark.sql import functions as F

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
    store_dir: str,
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
    (an arriving shard) is deduped against the persisted standing
    signature store via the asymmetric banded join of
    operators/dedup.minhash_lsh_pairs_incremental (old×old candidate mass
    never built, exact-verified output), then appends its own signatures
    and texts to the store.  Contrast streaming_minhash_candidates, which
    measured 55–119 s per 10k-doc delta at 1M standing docs (HDFS state
    store rewrote ~6.3 GB per batch) vs ~17 s for this shape — and which
    remains the right tool only where candidates must be emitted
    continuously from standing state.

    Layout under `store_dir` (all parquet, partition-discovered):
      signatures/batch=N/   per-shard minhash signatures
      texts/batch=N/        per-shard raw texts (verify-stage source)
      pairs/batch=N/        exact-verified pairs whose later member
                            arrived in batch N

    Replay-idempotent: every write targets its own batch=N directory with
    mode=overwrite, and reads filter `batch < N`, so a re-delivered batch
    (foreachBatch's at-least-once contract) overwrites its previous
    attempt and never sees its own partial output as standing state.

    Usage:
        q = (stream.writeStream.foreachBatch(
                incremental_neardup_sink("/data/neardup_store"))
             .option("checkpointLocation", ckpt).start())
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.select(id_col, text_col)
        kw = dict(n=n, num_perm=num_perm, bands=bands, threshold=threshold,
                  seed=seed, unit=unit)
        try:
            old_sigs = spark.read.parquet(f"{store_dir}/signatures").filter(
                f"batch < {batch_id}"
            ).drop("batch")
            old_texts = spark.read.parquet(f"{store_dir}/texts").filter(
                f"batch < {batch_id}"
            ).drop("batch")
        except AnalysisException:  # no store yet: the first batch
            old_sigs = None
        if old_sigs is not None:
            # an empty `batch < N` store is just an empty old side: the
            # incremental pairs are then the full operator's, with no probe job
            pairs = dedup.minhash_lsh_pairs_incremental(
                new, old_texts, id_col, text_col,
                est_margin=est_margin, old_sigs=old_sigs, **kw,
            )
        else:
            pairs = dedup.minhash_lsh_pairs(new, id_col, text_col, **kw)
        pairs.write.mode("overwrite").parquet(
            f"{store_dir}/pairs/batch={batch_id}"
        )
        dedup.minhash_signatures(
            new, id_col, text_col, n, num_perm, seed, unit=unit
        ).write.mode("overwrite").parquet(
            f"{store_dir}/signatures/batch={batch_id}"
        )
        new.write.mode("overwrite").parquet(
            f"{store_dir}/texts/batch={batch_id}"
        )

    return _sink
