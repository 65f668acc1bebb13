"""Unit tests for tools/bench_compare.py (pure python, no Spark).

Pins the two ADVICE r13 seams: load() must accept shell-captured check
files (leading whitespace before the first JSON document, a second
compact document after it), and a run with NO spread key at all must be
labeled MIXED — all() over an empty dict is vacuously True, which
previously let a legacy check file masquerade as a warm-median
comparison while silently falling back to cold-contaminated all-reps
medians.
"""

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import bench_compare  # noqa: E402


def _check(queries, spread=None, total=10.0):
    run = {"metric": "suite_seconds", "value": total, "unit": "sec",
           "queries": queries}
    if spread is not None:
        run["spread"] = spread
    return run


def test_load_accepts_leading_whitespace_and_trailing_document(tmp_path):
    p = tmp_path / "check.json"
    run = _check({"q1": 1.0})
    p.write_text("\n  " + json.dumps(run) + "\n" + json.dumps({"compact": 1}))
    assert bench_compare.load(str(p)) == run


def test_missing_spread_is_labeled_mixed_not_warm(tmp_path, capsys, monkeypatch):
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    # legacy old run: no spread key at all (the vacuous-True case)
    old.write_text(json.dumps(_check({"q1": 1.0, "q2": 2.0})))
    new.write_text(json.dumps(_check(
        {"q1": 1.1, "q2": 2.1},
        spread={"q1": {"warm": {"median": 1.1}}, "q2": {"warm": {"median": 2.1}}},
    )))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(old), str(new)])
    bench_compare.main()
    out = capsys.readouterr().out
    assert "MIXED" in out, out

    # and an empty spread dict is equally not-warm
    old.write_text(json.dumps(_check({"q1": 1.0, "q2": 2.0}, spread={})))
    bench_compare.main()
    assert "MIXED" in capsys.readouterr().out


def test_warm_to_warm_comparison_keeps_warm_label(tmp_path, capsys, monkeypatch):
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    spread_old = {"q1": {"warm": {"median": 1.0}}, "q2": {"warm": {"median": 2.0}}}
    spread_new = {"q1": {"warm": {"median": 1.5}}, "q2": {"warm": {"median": 2.0}}}
    old.write_text(json.dumps(_check({"q1": 1.2, "q2": 2.2}, spread=spread_old)))
    new.write_text(json.dumps(_check({"q1": 1.6, "q2": 2.1}, spread=spread_new)))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(old), str(new)])
    bench_compare.main()
    out = capsys.readouterr().out
    assert "MIXED" not in out, out
    # the q1 1.5x warm move must be attributed as a mover
    warm_line = [l for l in out.splitlines() if l.startswith("[warm median]")][0]
    assert "q1" in warm_line and "none" not in warm_line, out


def test_tool_and_bench_package_imports_resolve():
    """Every ``from monthly_report_etl_spark... import name`` in tools/*.py
    and bench.py, at any depth (most sit inside functions, so importing
    the script alone would not reach them), names something the package
    still has — deleting a package function a tool still imports fails
    here instead of at the tool's next run."""
    import ast
    import importlib
    import importlib.util

    pkg = "monthly_report_etl_spark"
    missing = []
    for path in sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py"]:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and (node.module == pkg or node.module.startswith(pkg + "."))
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                name = alias.name
                is_submodule = (
                    hasattr(mod, "__path__")
                    and importlib.util.find_spec(f"{node.module}.{name}") is not None
                )
                if not (hasattr(mod, name) or is_submodule):
                    missing.append(f"{path.name}:{node.lineno} {node.module}.{name}")
    assert not missing, missing


def test_test_tables_are_read_only_through_read_table():
    """``sources.parquet.read_table`` is the one module that knows where a
    driver-generated test table lives and how ``events.ts`` is normalized:
    no other package module calls ``*.parquet(...)`` with ``sf_dir`` in
    its arguments, and no operator or streaming module imports
    ``monthly_report_etl_spark.catalog``, which imports all of them."""
    import ast

    pkg = ROOT / "monthly_report_etl_spark"
    reader = pkg / "sources" / "parquet.py"
    catalog = "monthly_report_etl_spark.catalog"

    def imports_catalog(node):
        if isinstance(node, ast.Import):
            return any(a.name == catalog for a in node.names)
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            return node.module == catalog or (
                node.module == "monthly_report_etl_spark"
                and any(a.name == "catalog" for a in node.names)
            )
        return False

    def reads_sf_dir(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and any(
                isinstance(n, ast.Name) and n.id == "sf_dir"
                for arg in [*node.args, *(k.value for k in node.keywords)]
                for n in ast.walk(arg)
            )
        )

    def walk(node, where):
        """Yield every node with the dotted name of its enclosing function."""
        yield node, where
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, f"{where}.{child.name}")
            else:
                yield from walk(child, where)

    found = []
    for path in sorted(pkg.rglob("*.py")):
        layer = path.relative_to(pkg).parts[0]
        for node, where in walk(ast.parse(path.read_text(), str(path)), path.stem):
            if path != reader and reads_sf_dir(node):
                found.append(f"{where}:{node.lineno} reads a test table's path")
            if layer in ("operators", "streaming") and imports_catalog(node):
                found.append(f"{where}:{node.lineno} imports the catalog")
    assert not found, found
