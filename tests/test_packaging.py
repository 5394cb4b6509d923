"""The spark-submit --py-files artifact must import standalone."""

import subprocess
import sys


def test_pyfiles_zip_imports_cleanly(tmp_path):
    sys.path.insert(0, "/root/repo")
    import package

    out = package.build(str(tmp_path / "pydriosm_spark.zip"))
    prog = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import pydriosm_spark, pydriosm_spark.queries, "
        "pydriosm_spark.operators.spatial_join, pydriosm_spark.sources.pbf; "
        "print('ok', pydriosm_spark.__version__)"
    )
    r = subprocess.run(
        [sys.executable, "-c", prog, out],
        capture_output=True,
        text=True,
        check=True,
        cwd=str(tmp_path),  # away from the repo: the zip must self-suffice
    )
    assert r.stdout.startswith("ok ")

def test_no_unreferenced_top_level_definitions():
    """Every top-level def/class in the package is mentioned somewhere
    besides its own definition — in the package, tests, bench, examples
    or perfbench.  Keeps dead code from accumulating again."""
    import ast
    import collections
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = [
        p for p in root.rglob("*.py")
        if not any(part.startswith(".") or part in ("__pycache__", "spark-warehouse")
                   for part in p.relative_to(root).parts)
    ]
    words = collections.Counter()
    for p in sources:
        words.update(re.findall(r"\w+", p.read_text()))
    defs = collections.Counter()
    where = {}
    for p in (root / "pydriosm_spark").rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] += 1
                where[node.name] = f"{p.relative_to(root)}:{node.lineno}"
    dead = sorted(where[n] + " " + n for n, c in defs.items() if words[n] <= c)
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
