"""No silent second code paths: the package may not catch every
exception and carry on.

A handler for `except:`, `except Exception` or `except BaseException`
(alone or inside a tuple) turns a bug in the code it guards into an
unexplained slowdown or a quietly different result. Each one must
either re-raise or appear in ALLOWED with the reason it is a boundary
that has to keep running and reports what it swallowed.
"""

from __future__ import annotations

import ast
import pathlib

import nomba_data_pipeline_spark

PKG = pathlib.Path(nomba_data_pipeline_spark.__file__).parent

# (module, enclosing function) -> why swallowing is right there
ALLOWED = {
    ("nomba_data_pipeline_spark.__main__", "cmd_sql"):
        "CLI boundary: registers every warehouse dir it can and prints "
        "each skipped dir with its error",
    ("nomba_data_pipeline_spark.shipping", "ship_package"):
        "sessions that cannot take addPyFile (Connect, stopped context) "
        "still run on the environment's PYTHONPATH; the cause is "
        "printed once",
}

_BLANKET = {"Exception", "BaseException"}


def _is_blanket(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    if t is None:
        return True
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in _BLANKET for n in names)


def _reraises(handler: ast.ExceptHandler) -> bool:
    # a raise in the handler itself, not in a function defined inside it
    stack = list(handler.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Raise):
            return True
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda, ast.ClassDef)):
            continue
        stack.extend(ast.iter_child_nodes(node))
    return False


def _sites(tree: ast.AST):
    """(enclosing function name, handler) for every except handler."""
    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
            else:
                if isinstance(child, ast.ExceptHandler):
                    yield func, child
                yield from walk(child, func)

    yield from walk(tree, "<module>")


def _violations():
    found, used = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).with_suffix("")
        module = ".".join(rel.parts).removesuffix(".__init__")
        tree = ast.parse(path.read_text(), filename=str(path))
        for func, h in _sites(tree):
            if not _is_blanket(h) or _reraises(h):
                continue
            if (module, func) in ALLOWED:
                used.add((module, func))
                continue
            found.append(f"{path.relative_to(PKG.parent)}:{h.lineno} in {func}")
    return found, used


def test_no_blanket_except_outside_allowlist():
    found, _ = _violations()
    assert not found, (
        "blanket except without re-raise (narrow it to the error the "
        "fallback exists for, or delete the fallback):\n" + "\n".join(found)
    )


def test_allowlist_has_no_stale_entries():
    _, used = _violations()
    assert used == set(ALLOWED), sorted(set(ALLOWED) - used)


def test_detector_flags_blanket_forms():
    src = '''
def a():
    try:
        pass
    except Exception:
        pass

def b():
    try:
        pass
    except:
        return 1

def c():
    try:
        pass
    except (ValueError, BaseException):
        pass

def d():
    try:
        pass
    except BaseException:
        cleanup()
        raise

def e():
    try:
        pass
    except ValueError:
        pass

def f():
    try:
        pass
    except Exception:
        def inner():
            raise
'''
    flagged = sorted(
        func for func, h in _sites(ast.parse(src))
        if _is_blanket(h) and not _reraises(h)
    )
    assert flagged == ["a", "b", "c", "f"]
