"""The size gate (gate.py): the caller's known row count skips the count
job, and the source guard that keeps gate.py the only place a row count
is compared against a bound."""

import ast
import pathlib

from py_evalfilter_spark import gate

PKG = pathlib.Path(__file__).resolve().parent.parent / "py_evalfilter_spark"

# cross_val_accuracy skips a fold with an empty test side or one label:
# a validity check on the data, not a size limit.
ALLOWED = {("plans/train_eval.py", "cross_val_accuracy")}


class _CountComparisons(ast.NodeVisitor):
    """(function name, line) of every comparison with a zero-argument
    `.count()` call among its operands — a row count held against a bound."""

    def __init__(self) -> None:
        self.hits: list[tuple[str | None, int]] = []
        self._func: str | None = None

    def visit_FunctionDef(self, node) -> None:
        outer, self._func = self._func, node.name
        self.generic_visit(node)
        self._func = outer

    def visit_Compare(self, node) -> None:
        if any(_is_count_call(n) for n in ast.walk(node)):
            self.hits.append((self._func, node.lineno))
        self.generic_visit(node)


def _is_count_call(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and not node.args
        and not node.keywords
    )


def _count_comparisons(path: pathlib.Path) -> list[tuple[str | None, int]]:
    v = _CountComparisons()
    v.visit(ast.parse(path.read_text(encoding="utf-8")))
    return v.hits


def test_only_the_gate_compares_a_count_to_a_bound():
    helper = PKG / "gate.py"
    assert _count_comparisons(helper), "the guard no longer recognizes the gate's own comparison"
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if p == helper:
            continue
        offenders += [
            f"{rel}:{line}" for func, line in _count_comparisons(p) if (rel, func) not in ALLOWED
        ]
    assert not offenders, f"row count compared to a bound outside gate.py: {offenders}"


def test_known_rows_decide_without_a_count_job(spark):
    df = spark.range(5)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("gate-known-rows", "gate")
    try:
        assert gate.fits(df, 4, rows=3)
        assert not gate.fits(df, 4, rows=7)
        assert tracker.getJobIdsForGroup("gate-known-rows") == []
        assert gate.fits(df, 5) and not gate.fits(df, 4)  # counted: 5 rows
        assert tracker.getJobIdsForGroup("gate-known-rows")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
