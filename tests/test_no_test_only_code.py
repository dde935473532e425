"""No package code that only its own tests reach.

Every top-level `def` or `class` in the package must be reachable from
code that runs outside the test suite: the package itself, `bench.py`,
`tools/`, `perfbench/` (its own tests excepted) and the driver entry
`__spark_entry__.py`. A definition nothing else calls costs review and
upkeep and proves nothing about the pipeline; delete it with its tests,
or list it in KEEP with the reason it stays.

Reachability is by name, with `ast` only. A reference is a `Name`, an
`Attribute`, an `ImportFrom` alias or a string constant (perfbench's
`ENTRY_POINTS` names its targets in strings). The roots are every
non-package file above, the package's module-level statements
(decorators and base classes included) and the KEEP entries; a
definition is live once a live body or a root names it, so a helper
that only dead code calls is dead too. Name matching is deliberately
loose (any `x.run` keeps every `run` alive), so the scan errs toward
missing dead code. A definition reached only through a name built
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
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


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
            defs[f"{module}.{node.name}".lstrip(".")] = node
            # decorators and bases run at import, whoever calls the def
            for expr in node.decorator_list:
                roots |= _names(expr)
            if isinstance(node, ast.ClassDef):
                for expr in node.bases + node.keywords:
                    roots |= _names(expr)
    return defs, frozenset(roots)


def unreached(defs, roots, keep) -> list[str]:
    """Qualified names of `defs` no root reaches, KEEP entries being
    roots themselves."""
    reached = set(roots)
    live = set()
    for q in keep:
        if q in defs:
            live.add(q)
            reached |= _names(defs[q])
    grew = True
    while grew:
        grew = False
        for q, node in defs.items():
            if q not in live and node.name in reached:
                live.add(q)
                reached |= _names(node)
                grew = True
    return sorted(set(defs) - live)


def test_every_package_definition_runs_outside_tests():
    dead = unreached(*_scan(), KEEP)
    assert not dead, (
        "reached only from tests (delete them with their tests, or add "
        "them to KEEP with the reason they stay):\n" + "\n".join(dead)
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

TABLE = {"key": "Named"}
x.used()
'''
    tree = ast.parse(src)
    defs = {n.name: n for n in tree.body if isinstance(n, _DEFS)}
    roots = set()
    for node in tree.body:
        if not isinstance(node, _DEFS):
            roots |= _names(node)
    assert unreached(defs, roots, {"kept"}) == ["dead", "dead_helper"]
