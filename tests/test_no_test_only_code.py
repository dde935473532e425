"""No package code that only its own tests reach.

Every top-level `def` or `class` in the package, and every method of a
package class, must be reachable from code that runs outside the test
suite: the package itself, `bench.py`, `tools/`, `perfbench/` (its own
tests excepted) and the entry module `__spark_entry__.py`. A definition
nothing else calls costs review and upkeep and proves nothing about the
pipeline; delete it with its tests, or list it in KEEP with the reason
it stays. Dunder methods, and the callbacks Spark itself invokes on a
Python data source or UDTF class, are exempt.

The runner's options answer to the same rule: every `materialization`
the runner compares against, and every defaulted `ModelSpec` field,
must be set (to a value other than its default) by some `ModelSpec(...)`
call outside the tests. A branch or field only tests declare is the
same dead code one level down.

Reachability is by name, with `ast` only. A reference is a `Name`, an
`Attribute`, an `ImportFrom` alias or a string constant (perfbench's
`ENTRY_POINTS` names its targets in strings). The roots are every
non-package file above, the package's module-level statements
(decorators and base classes included) and the KEEP entries; a
definition is live once a live body or a root names it, so a helper
that only dead code calls is dead too. A method is reached the same
way; a live class's whole body, every method included, counts as one
live body, except that no def's own body counts as a reference to that
def (a method that passes its own name as a string is not kept alive by
it). Name matching is deliberately loose (any `x.run` keeps
every `run` alive), so the scan errs toward missing dead code. A
definition reached only through a name built
at run time (getattr on a computed string) is flagged wrongly and
needs a KEEP entry.
"""

from __future__ import annotations

import ast
import functools
import pathlib

import nomba_data_pipeline_spark

PKG = pathlib.Path(nomba_data_pipeline_spark.__file__).parent
ROOT = PKG.parent

# qualified name (module path under the package) -> why it stays
KEEP = {
    "sources.jdbc.JdbcSource":
        "S2 partitioned JDBC extraction: no registry row can run it "
        "without a JDBC server",
    "sources.staged.write_stage":
        "S3/S4 JSON/CSV stage, the reference's S3 landing leg",
    "sources.staged.read_stage":
        "S3/S4 JSON/CSV stage, the reference's S3 landing leg",
    "sources.staged.read_stage_with_dlq":
        "S3/S4 stage read whose dead-letter queue rejects malformed "
        "outside input",
    "streaming.microbatch.run_incremental_merge_stream":
        "SURVEY 2.10: AvailableNow streaming mapped onto the O7 upsert",
    "streaming.microbatch.run_versioned_merge_stream":
        "the only caller of VersionedTable's txn exactly-once commit",
    "streaming.microbatch.run_index_maintenance_stream":
        "streaming LSH index maintenance; its replay test is the "
        "contract the index table-format work builds on",
    "operators.scd2.scd2_merge":
        "reference SCD2 form the runner's split open/closed path is "
        "checked against",
    "operators.scd2.current_rows":
        "reference SCD2 form the runner's split open/closed path is "
        "checked against",
    "operators.similarity.cosine_topk_expr":
        "reference top-k form the BLAS and index paths are checked "
        "against",
    "operators.similarity.lsh_bucket":
        "reference LSH signature the batched signer is checked against",
    "plans.quality.relationship_violations":
        "reference form of the fused relationship gate",
    "plans.cdc_sim.random_sample":
        "CDC simulation fixture (reference simulate_cdc.py)",
    "plans.cdc_sim.simulate_user_updates":
        "CDC simulation fixture (reference simulate_cdc.py)",
    "operators.merge.ParquetTable.sweep_tmp":
        "crash-orphan recovery: drops the staging dirs a write that "
        "crashed before its swap left behind",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

# methods Spark calls on a Python data source / reader / UDTF class
_PROTOCOL = frozenset({
    "name", "schema", "reader", "writer", "streamReader",
    "simpleStreamReader", "streamWriter", "partitions", "read",
    "readBetweenOffsets", "initialOffset", "latestOffset", "commit",
    "stop", "eval", "terminate", "cleanup", "analyze",
})


def _names(node: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """The names `node` references, leaving out the subtree `skip`."""
    out = set()
    todo = [node]
    while todo:
        n = todo.pop()
        if n is skip:
            continue
        todo.extend(ast.iter_child_nodes(n))
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _is_protocol_class(node: ast.ClassDef) -> bool:
    """Subclasses a PySpark `DataSource*` base, or is a `@udtf`."""
    named = set()
    for expr in node.bases + node.decorator_list:
        named |= _names(expr)
    return any(n.startswith("DataSource") or n == "udtf" for n in named)


def _outside_files() -> list[pathlib.Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "tools").rglob("*.py"))
    files += [p for p in sorted((ROOT / "perfbench").rglob("*.py"))
              if not p.name.startswith("test_")]
    return files


@functools.cache
def _scan() -> tuple[dict[str, ast.AST], frozenset[str]]:
    """({qualified name: package def node}, names the roots use)."""
    defs, roots = {}, set()
    for path in _outside_files():
        roots |= _names(ast.parse(path.read_text(), filename=str(path)))
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        module = module.removesuffix("__init__").rstrip(".")
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if not isinstance(node, _DEFS):
                roots |= _names(node)
                continue
            qual = f"{module}.{node.name}".lstrip(".")
            defs[qual] = node
            # decorators and bases run at import, whoever calls the def
            for expr in node.decorator_list:
                roots |= _names(expr)
            if not isinstance(node, ast.ClassDef):
                continue
            for expr in node.bases + node.keywords:
                roots |= _names(expr)
            protocol = _is_protocol_class(node)
            for meth in node.body:
                if not isinstance(meth, _FUNCS):
                    continue
                if (meth.name.startswith("__") and meth.name.endswith("__")
                        or protocol and meth.name in _PROTOCOL):
                    continue  # called by Python or Spark, never by name
                defs[f"{qual}.{meth.name}"] = meth
    return defs, frozenset(roots)


def unreached(defs, roots, keep) -> list[str]:
    """Qualified names of `defs` no root reaches, KEEP entries being
    roots themselves. A def's own body never reaches it: a live class
    reaches one of its methods only when the rest of the class names
    it."""
    owner = {id(m): q for q, c in defs.items()
             if isinstance(c, ast.ClassDef) for m in c.body}
    named_by: dict[str, set[str]] = {}  # name -> live defs naming it
    live = set()

    def mark(q: str) -> None:
        live.add(q)
        for name in _names(defs[q]):
            named_by.setdefault(name, set()).add(q)

    def reached(node) -> bool:
        if node.name in roots:
            return True
        by = named_by.get(node.name, set())
        cls = owner.get(id(node))
        return bool(by - {cls}) or cls in by and node.name in _names(
            defs[cls], skip=node)

    for q in keep:
        if q in defs:
            mark(q)
    grew = True
    while grew:
        grew = False
        for q, node in defs.items():
            if q not in live and reached(node):
                mark(q)
                grew = True
    return sorted(set(defs) - live)


def test_every_package_definition_runs_outside_tests():
    dead = unreached(*_scan(), KEEP)
    assert not dead, (
        "reached only from tests (delete them with their tests, or add "
        "them to KEEP with the reason they stay):\n" + "\n".join(dead)
    )


def _default_src(value: ast.expr) -> str:
    """Source of the value a dataclass field default stands for."""
    if isinstance(value, ast.Call) and getattr(value.func, "id", "") == "field":
        for kw in value.keywords:
            if kw.arg == "default_factory":
                factory = ast.unparse(kw.value)
                return {"list": "[]", "dict": "{}"}.get(factory, factory + "()")
    return ast.unparse(value)


def undeclared_options() -> list[str]:
    """Materializations the runner compares against and defaulted
    ModelSpec fields that no `ModelSpec(...)` call outside the tests
    sets to a non-default value."""
    runner = ast.parse((PKG / "plans" / "runner.py").read_text())
    compared, defaults = set(), {}
    for node in ast.walk(runner):
        if isinstance(node, ast.Compare):
            sides = [node.left, *node.comparators]
            if any(getattr(x, "attr", "") == "materialization" for x in sides):
                for x in sides:
                    for c in ast.walk(x):
                        if isinstance(c, ast.Constant) and isinstance(c.value, str):
                            compared.add(c.value)
        elif isinstance(node, ast.ClassDef) and node.name == "ModelSpec":
            for stmt in node.body:
                if isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                    defaults[stmt.target.id] = _default_src(stmt.value)
    declared, set_fields = set(), set()
    files = _outside_files() + sorted(PKG.rglob("*.py"))
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (isinstance(node, ast.Call) and "ModelSpec" in (
                    getattr(node.func, "id", None), getattr(node.func, "attr", None))):
                continue
            for kw in node.keywords:
                if kw.arg in defaults and ast.unparse(kw.value) != defaults[kw.arg]:
                    set_fields.add(kw.arg)
                if kw.arg == "materialization" and isinstance(kw.value, ast.Constant):
                    declared.add(kw.value.value)
    return sorted(compared - declared) + sorted(set(defaults) - set_fields)


def test_every_runner_option_is_declared_outside_tests():
    undeclared = undeclared_options()
    assert not undeclared, (
        "runner materializations / ModelSpec fields only tests declare "
        "(delete the branch or field with its tests):\n"
        + "\n".join(undeclared)
    )


def test_keep_has_no_stale_entries():
    """Each KEEP entry exists and would be flagged without its entry."""
    stale = set(KEEP) - set(unreached(*_scan(), ()))
    assert not stale, sorted(stale)


def test_detector_follows_references_transitively():
    src = '''
import x

def used():
    return helper()

def helper():
    return 1

def dead():
    return dead_helper()

def dead_helper():
    return dead()

def kept():
    return kept_helper()

def kept_helper():
    return 2

class Named:
    pass

class Table:
    def __init__(self):
        self.used_method()

    def used_method(self):
        return 3

    def dead_method(self):
        return dead_method_helper()

    def self_named(self):
        return self.commit("self_named")

def dead_method_helper():
    return 4

TABLE = {"key": "Named"}
x.used()
Table()
'''
    tree = ast.parse(src)
    defs = {n.name: n for n in tree.body if isinstance(n, _DEFS)}
    table = defs["Table"]
    defs.update({f"Table.{m.name}": m for m in table.body[1:]})
    roots = set()
    for node in tree.body:
        if not isinstance(node, _DEFS):
            roots |= _names(node)
    # a live class's whole body counts as a reference, as with any def,
    # but a method naming itself does not keep itself alive
    assert unreached(defs, roots, {"kept"}) == [
        "Table.dead_method", "Table.self_named", "dead", "dead_helper",
    ]
