"""Source-level checks over every module of the package."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "spark_sql_flow_plugin_spark"


def _top_level_bindings(tree: ast.Module):
    """(name, line) of every name a module's top-level statements bind."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield stmt.name, stmt.lineno
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            for alias in stmt.names:
                yield (alias.asname or alias.name).split(".")[0], stmt.lineno
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for target in targets:
                for node in ast.walk(target):
                    if isinstance(node, ast.Name):
                        yield node.id, stmt.lineno


def test_no_module_binds_a_top_level_name_twice():
    # a second binding silently shadows the first: code that reads the
    # global at call time sees one value, an import-time f-string the other
    dups = []
    for path in sorted(PACKAGE.rglob("*.py")):
        first: dict[str, int] = {}
        for name, line in _top_level_bindings(ast.parse(path.read_text())):
            if name in first:
                rel = path.relative_to(PACKAGE.parent)
                dups.append(f"{rel}: {name} at lines {first[name]} and {line}")
            first.setdefault(name, line)
    assert not dups, "\n".join(dups)
