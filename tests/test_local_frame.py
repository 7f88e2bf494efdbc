"""sources/tables.local_frame: driver-side literal frames built as Arrow
LocalRelations must equal what the classic list path
(``spark.createDataFrame(<python list>, schema)``) builds — same
schema, same rows, same errors — and the package must build every
literal frame through it."""

from __future__ import annotations

import ast
import datetime
import decimal
import pathlib

import pytest

from polkadot_etl_spark.sources.tables import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "polkadot_etl_spark"

ALL_TYPES = (
    "s string, i int, b bigint, d double, m decimal(20,4), f boolean, "
    "t timestamp, a array<double>"
)
ALL_ROWS = [
    (
        "x",
        7,
        2**40,
        1.5,
        decimal.Decimal("12.3400"),
        True,
        datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
        [1.0, None, 2.5],
    ),
    ("", -1, -(2**62), -0.0, decimal.Decimal("-0.0001"), False,
     datetime.datetime(1970, 1, 1), []),
    (None, None, None, None, None, None, None, None),
]


def test_matches_list_path_across_types_and_nulls(spark):
    old = spark.createDataFrame(ALL_ROWS, ALL_TYPES)
    new = local_frame(spark, ALL_ROWS, ALL_TYPES)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_timestamps_match_list_path_in_a_non_utc_session(spark):
    """The list path reads naive datetimes as process-local wall time;
    the helper converts through the same internal values, so the two
    agree whatever the session time zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        old = spark.createDataFrame(ALL_ROWS, ALL_TYPES)
        new = local_frame(spark, ALL_ROWS, ALL_TYPES)
        assert new.select("t").collect() == old.select("t").collect()
        cast = "cast(t as string) ts"
        assert new.selectExpr(cast).collect() == old.selectExpr(cast).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_struct_schema_and_row_inputs(spark):
    """A StructType schema and collected Rows (positional, as the list
    path treats them) both work."""
    rows = spark.range(3).selectExpr("id", "cast(id as string) s").collect()
    schema = spark.createDataFrame(rows, "id long, s string").schema
    new = local_frame(spark, rows, schema)
    assert new.schema == schema
    assert new.collect() == rows


def test_zero_rows_keep_schema(spark):
    empty = local_frame(spark, [], ALL_TYPES)
    assert empty.schema == spark.createDataFrame([], ALL_TYPES).schema
    assert empty.count() == 0


def test_plans_as_sized_local_relation(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().nodeName() == "LocalRelation"
    stats = qe.optimizedPlan().stats()
    assert stats.rowCount().get() == 2
    assert stats.sizeInBytes() < 1024  # exact, not Long.MaxValue
    # a filter + projection over it folds away at plan time
    folded = df.where("k > 1").select("v")._jdf.queryExecution()
    assert folded.optimizedPlan().nodeName() == "LocalRelation"


@pytest.mark.parametrize(
    "rows",
    [
        [("x", "1")],  # string in an int column
        [("x", 1.0)],  # float in an int column
        [("x", 2**40)],  # out of int range
        [("x",)],  # short row
        [("x", 1, 2)],  # long row
    ],
)
def test_mistyped_rows_raise_like_the_list_path(spark, rows):
    ddl = "s string, i int"
    with pytest.raises(Exception) as old:
        spark.createDataFrame(rows, ddl).collect()
    with pytest.raises(Exception) as new:
        local_frame(spark, rows, ddl)
    assert type(new.value) is type(old.value)
    assert new.value.getCondition() == old.value.getCondition()


def _is_table_input(arg: ast.expr, func: ast.AST) -> bool:
    """True when ``arg`` is a name the enclosing function binds to a
    pandas or Arrow table: the result of a ``toPandas``/``toArrow``
    collect or of ``collect_bounded_stream`` (which returns pandas)."""
    if not isinstance(arg, ast.Name):
        return False
    sources = {"toPandas", "toArrow", "collect_bounded_stream"}
    for node in ast.walk(func):
        if not (isinstance(node, ast.Assign) and isinstance(node.value, ast.Call)):
            continue
        if not any(isinstance(t, ast.Name) and t.id == arg.id for t in node.targets):
            continue
        callee = node.value.func
        name = callee.attr if isinstance(callee, ast.Attribute) else getattr(callee, "id", None)
        if name in sources:
            return True
    return False


class _CreateDataFrameCalls(ast.NodeVisitor):
    """Every ``<x>.createDataFrame(...)`` call, with its innermost
    enclosing function (None at module level)."""

    def __init__(self):
        self.func = None
        self.calls: list[tuple[ast.Call, ast.AST | None]] = []

    def visit_FunctionDef(self, node):
        outer, self.func = self.func, node
        self.generic_visit(node)
        self.func = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.calls.append((node, self.func))
        self.generic_visit(node)


def test_package_builds_literal_frames_only_through_local_frame():
    """Static guard: ``createDataFrame(`` appears in the package only
    inside ``local_frame`` or with pandas/Arrow input. This also
    catches list-built frames the plan test cannot see: ones consumed
    eagerly or hidden behind a localCheckpoint."""
    bad, seen = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        finder = _CreateDataFrameCalls()
        finder.visit(ast.parse(path.read_text(), str(path)))
        for call, func in finder.calls:
            seen += 1
            if func is None:
                ok = False
            elif func.name == "local_frame" and path.name == "tables.py":
                ok = True
            else:
                ok = bool(call.args) and _is_table_input(call.args[0], func)
            if not ok:
                bad.append(f"{path.relative_to(PACKAGE)}:{call.lineno}")
    assert seen, "scanner found no createDataFrame call at all"
    assert not bad, f"createDataFrame outside local_frame: {bad}"
