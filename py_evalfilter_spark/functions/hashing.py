"""The engine's one portable hash draw.

Every hashed or seeded choice that must reproduce off-Spark — source
mixing, per-group caps, shard order, token budgets, DSIR resampling, fold
assignment, tiling, the hashing vectorizer, SimHash, the IVF fit sample —
reads md5: the first ``nhex`` hex digits of ``md5(x)`` as an unsigned
integer, the ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)`` the DuckDB
oracles write.  md5 is the same in every engine (xxhash64/murmur3 are
not), so each of those operators carries a value oracle.  This module is
the only place that spells the draw out (source-guarded in
tests/test_hashing.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_int(expr, start: int = 1, nhex: int = 8):
    """Hex digits ``start .. start+nhex-1`` (1-based) of ``md5(expr)`` as a
    ``long`` column: ``conv(substring(md5(expr), start, nhex), 16, 10)``.
    Eight digits fit a ``long`` exactly (up to 2^32 − 1)."""
    return F.conv(F.substring(F.md5(expr), start, nhex), 16, 10).cast("long")


def seeded_int(id_col: str, seed):
    """The per-row seeded draw: ``md5_int(concat_ws(":", id, seed))``, the
    oracles' ``md5(id || ':' || seed)``.  ``concat_ws`` skips NULL, so a
    NULL id hashes as its seed alone, while the oracles' ``||`` gives
    NULL: keep hashed id columns non-null."""
    return md5_int(F.concat_ws(":", F.col(id_col), F.lit(seed)))


def uniform(id_col: str, seed):
    """u(id, seed) = (seeded_int % 10^6) / 10^6 — a uniform in [0, 1) that
    is an exact multiple of 1e-6, so a rate ROUNDed to 6 decimals decides
    ``u < rate`` identically in every engine."""
    return (seeded_int(id_col, seed) % 1_000_000) / 1_000_000.0
