"""The command-line tools outside the library, checked without Spark:
every script compiles, and every name bench.py takes from perfbench/
exists there."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PERFBENCH = ROOT / "perfbench"
TOOLS = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles(path):
    compile(path.read_text(), str(path), "exec")  # in memory: no .pyc written


def _top_level_names(module: pathlib.Path) -> set[str]:
    names = set()
    for node in ast.parse(module.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def test_bench_uses_only_existing_perfbench_names():
    tree = ast.parse((ROOT / "bench.py").read_text())
    used: dict[str, set[str]] = {}  # perfbench module -> names bench.py takes
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if (PERFBENCH / f"{a.name}.py").exists():
                    aliases[a.asname or a.name] = a.name
                    used.setdefault(a.name, set())
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module and (PERFBENCH / f"{node.module}.py").exists():
                used.setdefault(node.module, set()).update(a.name for a in node.names)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            used[aliases[node.value.id]].add(node.attr)
    assert "probes" in used
    for module, names in used.items():
        missing = names - _top_level_names(PERFBENCH / f"{module}.py")
        assert not missing, f"bench.py uses {sorted(missing)} absent from perfbench/{module}.py"
