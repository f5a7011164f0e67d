"""The portable hash draw (functions/hashing.py): its values against
Python's hashlib, and the source guard that keeps it the only spelling."""

import ast
import hashlib
import pathlib

import pytest
from pyspark.sql import functions as F

from py_evalfilter_spark.functions import hashing

PKG = pathlib.Path(__file__).resolve().parent.parent / "py_evalfilter_spark"


def _py_md5_int(s: str, start: int = 1, nhex: int = 8) -> int:
    hexdigest = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(hexdigest[start - 1 : start - 1 + nhex], 16)


def _high_bit_string() -> str:
    """A string whose first 8 md5 hex digits read ≥ 2^31 (the long cast)."""
    return next(s for s in (f"x{i}" for i in range(100)) if _py_md5_int(s) >= 2**31)


class TestMd5Int:
    @pytest.mark.parametrize("start,nhex", [(1, 8), (9, 1), (9, 8)])
    def test_matches_hashlib(self, spark, start, nhex):
        strings = ["hello world", "こんにちは、世界", "", _high_bit_string()]
        df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
        out = df.select("i", hashing.md5_int(F.col("s"), start, nhex).alias("h"))
        assert out.schema["h"].dataType.typeName() == "long"
        got = dict(out.collect())
        assert [got[i] for i in range(len(strings))] == [
            _py_md5_int(s, start, nhex) for s in strings
        ]

    def test_seeded_draw_and_uniform(self, spark):
        df = spark.createDataFrame([(7,), (12345,), (None,)], "doc_id long")
        rows = df.select(
            "doc_id",
            hashing.seeded_int("doc_id", 42).alias("h"),
            hashing.uniform("doc_id", 42).alias("u"),
        ).collect()
        got = {r.doc_id: (r.h, r.u) for r in rows}
        for i in (7, 12345):
            h = _py_md5_int(f"{i}:42")
            assert got[i] == (h, (h % 1_000_000) / 1_000_000.0)
        # concat_ws skips NULL: a NULL id hashes as its seed alone
        assert got[None][0] == _py_md5_int("42")


def _draw_spellings(path: pathlib.Path) -> list[int]:
    """Lines of `conv(...)` calls whose arguments contain an md5 or a
    substring call — the md5 → hex digits → int draw written out."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if not (isinstance(node, ast.Call) and _name(node.func) == "conv"):
            continue
        inner = {
            _name(n.func) for a in node.args for n in ast.walk(a) if isinstance(n, ast.Call)
        }
        if inner & {"md5", "substring"}:
            hits.append(node.lineno)
    return hits


def _name(func) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def test_only_the_helper_spells_the_draw():
    helper = PKG / "functions" / "hashing.py"
    assert _draw_spellings(helper), "the guard no longer recognizes the helper's own draw"
    offenders = [
        f"{p.relative_to(PKG)}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        if p != helper
        for line in _draw_spellings(p)
    ]
    assert not offenders, f"md5 → int draw spelled outside functions/hashing.py: {offenders}"
