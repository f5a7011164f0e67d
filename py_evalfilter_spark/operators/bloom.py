"""Bloom-filter membership prefilter for exact dedup against a standing
corpus — the bounded-memory pattern large crawled-corpus pipelines use for
"have we already got this document?" (popularized by Dolma's Bloom-filter
dedup; the reference repo's scope ends at windowed fuzzy dedup,
deduplicate_rants.py:12-21, so this is an engine extension per the brief).

Why not just an anti-join: `new LEFT ANTI JOIN standing ON key` shuffles
BOTH sides by key — at 100 TB standing that is the whole corpus through
the network, every day, for a shard that overlaps it by a few percent.
The Bloom path reads the standing corpus ONCE map-side (no shuffle, key
column only), reduces it to an m-bit array, and probes the shard map-side:

  * rows that probe NEGATIVE are DEFINITELY new (Bloom has no false
    negatives) — they never enter any join;
  * rows that probe positive are duplicates OR false positives (rate ε,
    sized by `bloom_params`) — only this sliver needs exact confirmation.

With `confirm=True` the sliver is anti-joined against the standing keys,
so the output is EXACTLY `new LEFT ANTI JOIN standing` — the filter is a
pure join-input reducer.  With `confirm=False` the sliver is dropped
outright (Dolma's accepted trade: ~ε of genuinely-new rows lost, zero
joins) — approximate, never emits a true duplicate.

Scale notes:
  * ONE filter shape for every size: the keys split over S slices by an
    independent hash, and each slice is a classic Bloom filter over its
    subset (m/S bits, same ε), written to its own bitmap FILE and probed
    through sc.addFile + np.memmap.  S is derived from the standing key
    count: the smallest S whose slice fits MAX_SLICE_BYTES (1 GiB — under
    the ~2 GB ceiling that a JVM byte array, a task's numpy fold buffer
    and a treeAggregate blob all share).  Every standing set below ~6e8
    keys at ε=1e-3 gets S=1, the small regime: no slice hash, no Exchange,
    the per-partition bitmaps OR-merged by a treeAggregate.  Beyond that
    (1e9 keys at ε=1e-3 → m≈1.44e10 bits ≈ 1.8 GB) the build is still ONE
    standing pass, repartitioned by slice, and the driver streams the
    merged slices one at a time, so no single process ever materializes
    more than one slice in RAM — probe residency is OS page cache,
    evictable.
  * two xxhash64 hashes per key stay JVM-side; the k probe positions
    derive in numpy via Kirsch-Mitzenmacher double hashing, so Arrow
    moves 16 bytes/row regardless of k; Python touches only the bitmap —
    vectorized fancy-index lookups per batch (scalar pandas_udf, per
    CLAUDE.md's Arrow discipline).
  * the confirm join's standing side still shuffles by key unless the
    standing keys live in a key-bucketed table (sources/tables.
    write_bucketed) — then only the candidate sliver moves.  Pair them
    for the daily-shard loop.
"""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bloom_params(n_keys: int, fp_rate: float) -> tuple[int, int]:
    """Classic sizing: m = -n·ln(ε)/ln(2)², k = (m/n)·ln(2) — returns
    (n_bits, n_hashes), both ≥ 1, n_bits rounded up to a byte multiple."""
    if n_keys <= 0:
        return 8, 1
    m = math.ceil(-n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def theoretical_fp_rate(n_bits: int, n_hashes: int, n_keys: int) -> float:
    """(1 - e^(-kn/m))^k — the standard approximation."""
    return (1.0 - math.exp(-n_hashes * n_keys / n_bits)) ** n_hashes


def _hash_cols(key_col: str, seed: int):
    """Two independent 64-bit hashes per key, JVM-side (xxhash64 salted by
    a leading literal — its own seed is fixed in the SQL function).  The k
    probe positions derive from these via Kirsch-Mitzenmacher double
    hashing in numpy (`_positions`), so the Arrow transfer is 16 bytes/row
    regardless of k instead of 8k."""
    return [
        F.xxhash64(F.lit(seed), F.col(key_col)).alias("h1"),
        F.xxhash64(F.lit(seed + 1), F.col(key_col)).alias("h2"),
    ]


def _positions(h1: np.ndarray, h2: np.ndarray, n_bits: int, n_hashes: int):
    """g_i = h1 + i·(h2|1) mod m, i in [0, k) — the double-hashing scheme
    (Kirsch & Mitzenmacher 2006: preserves the Bloom FP bound).  h2 forced
    odd so a zero/even stride can't degenerate all probes onto one bit;
    int64 wraparound is numpy-defined and deterministic; numpy's % takes
    the divisor's sign, so positions are already non-negative.  Yields
    one position array per probe."""
    stride = h2 | np.int64(1)
    for i in range(n_hashes):
        yield (h1 + np.int64(i) * stride) % n_bits


# Most bitmap bytes one slice may hold: under the ~2 GB ceiling of a JVM
# byte array and of the per-task numpy fold buffer, with headroom.  A
# standing set below ~6e8 keys at ε=1e-3 fits one slice.
MAX_SLICE_BYTES = 1 << 30


def _slice_col(key_col: str, n_slices: int, seed: int):
    """Slice assignment hash — INDEPENDENT of the probe hashes (seed+2):
    deriving the slice from h1 (e.g. pmod(h1, S)) would condition probe
    position 0 (= h1 mod m_s) on the slice residue and concentrate it on
    1/S of each slice's bits, inflating the FP rate.  One slice needs no
    hash: every key is in slice 0."""
    if n_slices == 1:
        return F.lit(0)
    return F.pmod(
        F.xxhash64(F.lit(seed + 2), F.col(key_col)), F.lit(n_slices)
    ).cast("int")


class SlicedBloom:
    """Handle to a built Bloom filter: one bitmap FILE per key slice,
    registered with sc.addFile so executors fetch them to local disk and
    probe via np.memmap — per-process RAM is page cache, not S bitmaps.
    `paths[s]` is slice s's local path on the driver; `file_names[s]` the
    SparkFiles basename executors resolve."""

    def __init__(
        self,
        paths: list[str],
        n_bits_per_slice: int,
        n_hashes: int,
        seed: int,
    ) -> None:
        self.paths = paths
        self.file_names = [os.path.basename(p) for p in paths]
        self.n_bits_per_slice = n_bits_per_slice
        self.n_hashes = n_hashes
        self.n_slices = len(paths)
        self.seed = seed


def sliced_bloom_params(
    n_keys: int, fp_rate: float, n_slices: int | None = None
) -> tuple[int, int, int]:
    """(n_bits_per_slice, n_hashes, n_slices).  Total bits follow the
    classic sizing; keys split uniformly over slices (independent hash),
    so m/S bits over n/S keys preserves ε per slice.  Without `n_slices`,
    S is the smallest count whose slice bitmap fits MAX_SLICE_BYTES."""
    m_total, k = bloom_params(n_keys, fp_rate)
    if n_slices is None:
        n_slices = max(1, math.ceil(m_total / (8 * MAX_SLICE_BYTES)))
    m_slice = ((math.ceil(m_total / n_slices) + 7) // 8) * 8
    return m_slice, k, n_slices


def _or(a: bytes, b: bytes) -> bytes:
    return (np.frombuffer(a, np.uint8) | np.frombuffer(b, np.uint8)).tobytes()


def build_bloom_sliced(
    df: DataFrame,
    key_col: str,
    n_bits_per_slice: int,
    n_hashes: int,
    n_slices: int,
    seed: int = 42,
    out_dir: str | None = None,
) -> SlicedBloom:
    """ONE map-side pass over the standing keys → n_slices bitmap files.

    Each fold task turns its (slice, h1, h2) rows (20 bytes/row JVM-side)
    into one numpy bitmap per slice it sees (mapInArrow — genuinely
    per-partition imperative state).  Only the partitioning and the merge
    depend on S:
      * S=1: no slice hash and no Exchange — the rows coalesce to the
        default parallelism and the per-task bitmaps OR-merge in a
        treeAggregate (executor-side levels once there are many
        partitions, so the driver combines only a few; its zero value
        covers an empty input);
      * S>1: a repartition BY SLICE bounds each fold task's allocation at
        ~one slice bitmap (hash collisions can co-locate a couple of
        slices — never all S), a reduceByKey over the integer slice ids
        puts exactly one slice in each of its S partitions, and the
        driver STREAMS them via toLocalIterator — peak driver memory is
        ONE slice bitmap, written straight to its file.  Slices with no
        keys get a zero-filled file (probe ⇒ definitely-new, correct).
    Deterministic: xxhash64 is seed-fixed and salt-varied; OR is
    associative+commutative, so merge order is irrelevant.

    Files register with sc.addFile, which serves them to executors on
    first use — the same mechanism works on a real cluster (driver file
    server), not just shared-disk local mode.  Without `out_dir` they are
    written under the SparkContext's own SparkFiles root, which Spark
    deletes when the context stops."""
    n_bytes = (n_bits_per_slice + 7) // 8
    sc = df.sparkSession.sparkContext
    hashes = df.select(
        _slice_col(key_col, n_slices, seed).alias("slice"),
        *_hash_cols(key_col, seed),
    )

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bits: dict[int, np.ndarray] = {}
        for batch in batches:
            sl = batch.column(0).to_numpy(zero_copy_only=False)
            h1 = batch.column(1).to_numpy(zero_copy_only=False)
            h2 = batch.column(2).to_numpy(zero_copy_only=False)
            for s in np.unique(sl):
                mask = sl == s
                bmp = bits.setdefault(int(s), np.zeros(n_bytes, np.uint8))
                for p in _positions(
                    h1[mask], h2[mask], n_bits_per_slice, n_hashes
                ):
                    np.bitwise_or.at(
                        bmp, p >> 3, (1 << (p & 7)).astype(np.uint8)
                    )
        for s, bmp in bits.items():
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([s], pa.int32()),
                    pa.array([bmp.tobytes()], pa.binary()),
                ],
                ["slice", "bitmap"],
            )

    def partials(frame: DataFrame):
        return frame.mapInArrow(fold, "slice int, bitmap binary").rdd.map(
            lambda r: (r["slice"], r["bitmap"])
        )

    if n_slices == 1:
        bitmap = (
            partials(hashes.coalesce(sc.defaultParallelism))
            .values()
            .treeAggregate(bytes(n_bytes), _or, _or, depth=2)
        )
        merged = [(0, bitmap)]
    else:
        merged = (
            partials(hashes.repartition(n_slices, "slice"))
            .reduceByKey(_or, numPartitions=n_slices)
            .toLocalIterator()
        )
    # file names are unique per build: SparkFiles is one flat namespace
    token = uuid.uuid4().hex[:8]
    if out_dir is None:
        from pyspark import SparkFiles

        out_dir = os.path.join(
            SparkFiles.getRootDirectory(), f"bloom_slices_{token}"
        )
    os.makedirs(out_dir, exist_ok=True)
    paths = [
        os.path.join(out_dir, f"bloomslice_{token}_{s}.bin")
        for s in range(n_slices)
    ]
    written = set()
    for s, bmp in merged:  # ONE slice in driver RAM
        with open(paths[s], "wb") as fp:
            fp.write(bmp)
        written.add(s)
    zero = bytes(n_bytes)
    for s in range(n_slices):
        if s not in written:
            with open(paths[s], "wb") as fp:
                fp.write(zero)
    for p in paths:
        sc.addFile(p)
    return SlicedBloom(paths, n_bits_per_slice, n_hashes, seed)


def with_sliced_bloom_probe(
    df: DataFrame,
    key_col: str,
    store: SlicedBloom,
    out_col: str = "maybe_member",
) -> DataFrame:
    """df + boolean `out_col`: True iff all k probe bits are set (member
    OR false positive; False ⇒ definitely not a member).  ONE map-side
    pass over `df`: a scalar pandas_udf over the JVM-computed slice and
    hash columns groups each Arrow batch's rows by slice and probes that
    slice's np.memmap'd bitmap file (SparkFiles fetch, falling back to
    the build path when driver and worker share a filesystem).  A worker
    that sees every slice over its lifetime holds file PAGES, not S
    resident bitmaps — the OS evicts under pressure."""
    n_bits = store.n_bits_per_slice
    n_hashes = store.n_hashes
    names = store.file_names
    paths = store.paths

    @F.pandas_udf("boolean")
    def probe(sls: pd.Series, h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        from pyspark import SparkFiles

        sl = sls.to_numpy(dtype=np.int64)
        h1 = h1s.to_numpy(dtype=np.int64)
        h2 = h2s.to_numpy(dtype=np.int64)
        ok = np.ones(len(sl), bool)
        for s in np.unique(sl):
            local = SparkFiles.get(names[s])
            if not os.path.exists(local):
                local = paths[s]
            bits = np.memmap(local, np.uint8, mode="r")
            mask = sl == s
            sub = np.ones(int(mask.sum()), bool)
            for p in _positions(h1[mask], h2[mask], n_bits, n_hashes):
                sub &= ((bits[p >> 3] >> (p & 7)) & 1).astype(bool)
            ok[mask] = sub
        return pd.Series(ok)

    return df.withColumn(
        out_col,
        probe(
            _slice_col(key_col, store.n_slices, store.seed),
            *_hash_cols(key_col, store.seed),
        ),
    )


def bloom_dedup_against(
    new: DataFrame,
    standing: DataFrame | None,
    key_col: str,
    fp_rate: float = 1e-3,
    n_standing: int | None = None,
    confirm: bool = True,
    seed: int = 42,
    prebuilt: SlicedBloom | None = None,
    pins=None,
    n_slices: int | None = None,
) -> DataFrame:
    """Rows of `new` whose `key_col` does not occur in `standing`.

    Regime note: if the standing KEY SET is broadcastable (a few hundred
    MB), a plain broadcast anti-join is simpler and at least as fast —
    this operator exists for the standing corpus that is NOT: billions of
    keys, where the anti-join's shuffle of both sides is the cost the
    filter removes.

    `pins` (a PinScope, optional): persists the probed frame so the
    definite-new branch and the confirm branch share ONE probe pass over
    `new` — without it the union's two branches each scan+probe `new`
    (fine for a thin shard, wasteful when `new` is a full crawl).

    confirm=True (default): EXACT — ≡ `new.join(standing, key, "left_anti")`
    with only the Bloom-positive sliver entering the join.  confirm=False:
    approximate (Dolma mode) — Bloom-positive rows are dropped without
    confirmation, losing ~fp_rate of genuinely-new rows; no true duplicate
    survives either way.  `standing` may be None only with confirm=False
    and a `prebuilt` filter — then it is never read.

    `n_standing` sizes the filter; pass the known corpus row count to skip
    the counting pass (an approximate count is fine — ε degrades
    gracefully if undersized).  `n_slices` fixes the slice count S; by
    default S is derived from MAX_SLICE_BYTES (1 for all but the largest
    standing sets; see module docstring).

    `prebuilt` = a SlicedBloom from `build_bloom_sliced` over the SAME
    standing keys — the daily-shard amortization: build the filter once
    at backfill, then every shard pays only the map-side probe + the
    sliver confirm, never the standing build scan.  A prebuilt filter
    carries its own S and seed; an `n_slices` that disagrees raises."""
    if standing is None and (confirm or prebuilt is None):
        raise ValueError(
            "standing is required unless confirm=False with a prebuilt filter"
        )
    if prebuilt is not None:
        if n_slices is not None and n_slices != prebuilt.n_slices:
            raise ValueError(
                f"n_slices={n_slices} conflicts with the prebuilt filter's "
                f"{prebuilt.n_slices} slices"
            )
        store = prebuilt
    else:
        n = n_standing if n_standing is not None else standing.count()
        m_slice, k, s = sliced_bloom_params(n, fp_rate, n_slices)
        store = build_bloom_sliced(standing, key_col, m_slice, k, s, seed)
    flagged = with_sliced_bloom_probe(new, key_col, store, out_col="__maybe")
    if pins is not None:
        flagged = pins.pin(flagged)
    definite = flagged.filter(~F.col("__maybe")).drop("__maybe")
    if not confirm:
        return definite
    candidates = flagged.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = candidates.join(
        standing.select(F.col(key_col)), key_col, "left_anti"
    )
    return definite.unionByName(confirmed_new)
