"""Every script runs the tree it was started from.

A sweep or a bench run from a copy of the repository must import the copy's
package and write into the copy, never into some other checkout. Scripts
resolve the repository root from their own ``__file__``.
"""

from __future__ import annotations

import ast
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "quill_agent_dashboard_pbi_etl_spark"
SCRIPTS = sorted(f"tools/{p.name}" for p in (ROOT / "tools").glob("*.py")) + [
    "__spark_entry__.py"
]

# Loads a script the way ``python <script>`` does (its directory first on
# sys.path, not run as __main__, so no Spark session starts), then reports
# the sys.path entries it added and where the package resolves.
_LOAD = """
import importlib.util, json, os, sys
script = sys.argv[1]
sys.path.insert(0, os.path.dirname(script))
before = list(sys.path)
spec = importlib.util.spec_from_file_location("_script_under_test", script)
spec.loader.exec_module(importlib.util.module_from_spec(spec))
added = [p for p in sys.path if p not in before]
try:
    import {package} as pkg
    where = pkg.__file__
except ModuleNotFoundError:
    where = None
print(json.dumps({{"added": added, "package": where}}))
"""


@pytest.fixture(scope="module")
def copy_root(tmp_path_factory) -> Path:
    dest = tmp_path_factory.mktemp("tree_copy")
    skip = shutil.ignore_patterns("__pycache__")
    shutil.copytree(ROOT / PACKAGE, dest / PACKAGE, ignore=skip)
    shutil.copytree(ROOT / "tools", dest / "tools", ignore=skip)
    shutil.copy2(ROOT / "__spark_entry__.py", dest / "__spark_entry__.py")
    return dest


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_its_own_tree(script, copy_root, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _LOAD.format(package=PACKAGE), str(copy_root / script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])

    def inside(path: str) -> bool:
        return Path(path).resolve().is_relative_to(copy_root)

    assert all(inside(p) for p in got["added"]), got["added"]
    if PACKAGE in (ROOT / script).read_text():
        assert got["package"] is not None and inside(got["package"]), got["package"]
    else:
        assert got["package"] is None, got["package"]


_ABS_PATH = re.compile(r"(?<![\w.])(?:/[\w.-]+)+")


def _names_a_checkout(path: str) -> bool:
    p = Path(path)
    return any((d / "__spark_entry__.py").is_file() for d in (p, *p.parents))


def test_no_script_hard_codes_a_checkout_path():
    """No ``.py`` file spells out an absolute path into a checkout of this
    repository (any directory holding ``__spark_entry__.py``). Such a path
    makes a copy run, or write into, the checkout it names."""
    offenders = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = Path(dirpath, name)
            for lit in set(_ABS_PATH.findall(path.read_text())):
                if _names_a_checkout(lit):
                    offenders.append(f"{path.relative_to(ROOT)}: {lit}")
    assert not offenders, offenders


def test_package_never_imports_itself_by_name():
    """Modules inside the package import each other relatively, so a copy
    of the package under another name imports its own modules, not the
    checkout's."""
    offenders = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            if any(n == PACKAGE or n.startswith(PACKAGE + ".") for n in names):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, offenders
