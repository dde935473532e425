"""One batch parquet reader: every package read goes through
`catalog.read_parquet`.

A bare `spark.read.parquet(path)` on a table the driver can see makes
Spark start a one-task job just to infer the schema from a footer;
`read_parquet` hands Spark that schema from the footers on the driver
instead (`footers.spark_schema`). Any `.read…parquet(` call outside
`read_parquet` itself must appear in ALLOWED with the reason it needs
the plain reader.
"""

from __future__ import annotations

import ast
import pathlib

import nomba_data_pipeline_spark

PKG = pathlib.Path(nomba_data_pipeline_spark.__file__).parent

# (module, enclosing function) -> why the read bypasses read_parquet
ALLOWED = {
    ("nomba_data_pipeline_spark.operators.versioned", "_stats_readback"):
        "passes the schema it already holds with `.schema(`: Spark "
        "infers nothing",
    ("nomba_data_pipeline_spark.operators.versioned", "_read_files"):
        "passes the committed schema from the table's manifest with "
        "`.schema(`: Spark infers nothing",
    ("nomba_data_pipeline_spark.plans.queries", "_write"):
        "the schema-evolution row reads with mergeSchema, which unions "
        "every footer's schema; the footer rule answers only for "
        "single-schema reads",
}


def _is_reader_parquet(call: ast.Call) -> bool:
    """`<x>.read[.option(..)...].parquet(...)`: a `.parquet(` call whose
    receiver chain reaches a `.read` attribute (not a `.read()` call,
    and not through `.write`)."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while True:
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "read":
                return False  # a method named read(), e.g. ParquetTable.read()
            node = node.func
        elif isinstance(node, ast.Attribute):
            if node.attr in ("write", "writeStream", "readStream"):
                return False
            if node.attr == "read":
                return True
            node = node.value
        else:
            return False


def _sites(tree: ast.AST):
    """(enclosing function name, call) for every reader `.parquet(`."""
    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
            else:
                if isinstance(child, ast.Call) and _is_reader_parquet(child):
                    yield func, child
                yield from walk(child, func)

    yield from walk(tree, "<module>")


def _violations():
    found, used = [], {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).with_suffix("")
        module = ".".join(rel.parts).removesuffix(".__init__")
        tree = ast.parse(path.read_text(), filename=str(path))
        for func, call in _sites(tree):
            if (module, func) == ("nomba_data_pipeline_spark.catalog",
                                  "read_parquet"):
                continue
            if (module, func) in ALLOWED:
                used.setdefault((module, func), []).append(call)
                continue
            found.append(f"{path.relative_to(PKG.parent)}:{call.lineno} "
                         f"in {func}: {ast.unparse(call)[:80]}")
    return found, used


def test_no_bare_parquet_read_outside_allowlist():
    found, _ = _violations()
    assert not found, (
        "bare parquet read (use catalog.read_parquet, which hands Spark "
        "the footer schema and saves the inference job):\n"
        + "\n".join(found)
    )


def test_allowlist_has_no_stale_entries():
    _, used = _violations()
    assert set(used) == set(ALLOWED), sorted(set(ALLOWED) - set(used))


def test_allowed_reads_are_the_named_kinds():
    # an allowlisted function may hold only the kind of read its reason
    # names: an explicit `.schema(` or the mergeSchema option
    _, used = _violations()
    for key, calls in used.items():
        for call in calls:
            src = ast.unparse(call)
            assert ".schema(" in src or "mergeSchema" in src, (key, src)


def test_detector_flags_reader_forms():
    src = '''
def a(spark, p):
    return spark.read.parquet(p)

def b(self, p):
    return self.spark.read.option("basePath", p).parquet(p)

def c(df, p):
    return df.sparkSession.read.parquet(p)

def d(t, p):
    t.read().write.mode("overwrite").parquet(p)

def e(spark, p):
    return spark.readStream.schema(s).parquet(p)

def f(spark, p):
    return read_parquet(spark, p)

g = lambda s, d: s.read.parquet(d)
'''
    flagged = sorted(func for func, _ in _sites(ast.parse(src)))
    assert flagged == ["<module>", "a", "b", "c"]
