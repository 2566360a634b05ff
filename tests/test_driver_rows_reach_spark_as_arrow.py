"""Rows built on the driver reach Spark through ``session.local_frame``
(one Arrow table), never as ``createDataFrame`` over Python rows, which
puts a ``PythonRDD`` under every job that reads the relation.  The only
other ``createDataFrame`` call is ``session.ingest``'s pandas hop, which
already goes through Arrow.  No Spark session."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dataqtor_spark"
ALLOWED = {("session.py", "local_frame"), ("session.py", "ingest")}


def _create_dataframe_calls(tree: ast.AST):
    """(enclosing top-level function, line) of every ``….createDataFrame(``."""
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                yield getattr(top, "name", None), node.lineno


def test_create_dataframe_only_in_local_frame_and_ingest():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        found += [(rel, fn, line) for fn, line in _create_dataframe_calls(tree)]
    stray = [f for f in found if f[:2] not in ALLOWED]
    assert not stray, stray
    assert {f[:2] for f in found} == ALLOWED


def test_guard_sees_a_nested_call():
    src = ("def op(df):\n"
           "    def inner():\n"
           "        return df.sparkSession.createDataFrame([(1,)], 'a int')\n"
           "    return inner()\n")
    assert list(_create_dataframe_calls(ast.parse(src))) == [("op", 3)]
