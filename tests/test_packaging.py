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
    """Every top-level def/class in the package is referenced in code
    somewhere — in the package, tests, bench, examples or perfbench.
    References are read from the syntax tree: a name, an attribute, an
    imported name, or a string constant that is exactly the name (for
    names looked up as strings).  A name that appears only in a
    docstring or a comment counts as unreferenced.  Keeps dead code from
    accumulating again."""
    import ast
    import collections
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = [
        p for p in root.rglob("*.py")
        if not any(part.startswith(".") or part in ("__pycache__", "spark-warehouse")
                   for part in p.relative_to(root).parts)
    ]
    refs = collections.Counter()
    for p in sources:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.alias):
                refs[node.name.rsplit(".", 1)[-1]] += 1
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.isidentifier():
                refs[node.value] += 1
    dead = []
    for p in (root / "pydriosm_spark").rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) \
                    and not refs[node.name]:
                dead.append(f"{p.relative_to(root)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(sorted(dead))


def test_driver_tables_are_local_relations():
    """Every ``createDataFrame(`` call in the package sits inside
    ``session.local_frame``: a Python list handed to createDataFrame
    plans ``Scan ExistingRDD``, which runs a Python task per core to
    re-read the rows on every execution."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    stray = []
    for p in (root / "pydriosm_spark").rglob("*.py"):
        tree = ast.parse(p.read_text())
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
            for n in ast.walk(f)
        }
        stray += [
            f"{p.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not stray, "createDataFrame outside local_frame:\n" + "\n".join(stray)
