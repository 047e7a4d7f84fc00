"""Every `module.name` the docs reference must resolve in the package.

Guard for the round-5 regression class: commit 0e07d55 deleted
`text.decode_tokens` while rewriting an unrelated function in the same
file, and only that function's own tests noticed (as ImportError).
This test parses API.md and COVERAGE.md for backticked / table-cell
`module.func` references and resolves each one, so a lost export fails
in the doc-surface test regardless of which module lost it."""

from __future__ import annotations

import importlib
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

_REF_RE = re.compile(r"[`| ]([a-z_][a-z_0-9]*)\.([a-z_][a-z_0-9]*)[`| ]")

# Where a bare module basename may live inside the package.
_SEARCH_PREFIXES = (
    "juliadb_jl_spark.functions.", "juliadb_jl_spark.sources.",
    "juliadb_jl_spark.operators.", "juliadb_jl_spark.plans.",
    "juliadb_jl_spark.streaming.", "juliadb_jl_spark.",
)


def _doc_refs():
    refs = set()
    for doc in ("API.md", "COVERAGE.md"):
        text = (REPO / doc).read_text()
        for mod, name in _REF_RE.findall(text):
            if name == "py" or mod in ("spark", "os", "sys"):
                continue  # file names (`csv.py`) / host APIs, not exports
            refs.add((mod, name))
    assert len(refs) > 40, "doc parse produced suspiciously few refs"
    return sorted(refs)


def _resolves(mod: str, name: str) -> bool:
    if mod == "jdb":
        import juliadb_jl_spark
        return hasattr(juliadb_jl_spark, name)
    if mod == "__spark_entry__":
        import __spark_entry__ as entry
        return any(k == name or k.startswith(name + "_")
                   for k in entry.queries())
    if mod in ("functions", "sources", "plans", "operators", "streaming"):
        try:
            importlib.import_module(f"juliadb_jl_spark.{mod}.{name}")
            return True
        except ImportError:
            # fall through: maybe `name` is an attr of the subpackage
            # or of one of its submodules
            import pkgutil
            pkg = importlib.import_module(f"juliadb_jl_spark.{mod}")
            if hasattr(pkg, name):
                return True
            for info in pkgutil.iter_modules(pkg.__path__):
                sub = importlib.import_module(
                    f"juliadb_jl_spark.{mod}.{info.name}")
                if hasattr(sub, name):
                    return True
            return False
    for prefix in _SEARCH_PREFIXES:
        try:
            m = importlib.import_module(prefix + mod)
        except ImportError:
            continue
        if hasattr(m, name):
            return True
    return False


@pytest.mark.parametrize("mod,name", _doc_refs(),
                         ids=lambda v: v if isinstance(v, str) else str(v))
def test_documented_name_resolves(mod, name):
    assert _resolves(mod, name), (
        f"{mod}.{name} is referenced by API.md/COVERAGE.md but does not "
        f"resolve — was it deleted or renamed without updating the docs?")


def test_surface_count_cli():
    """`tools/surface_count.py` prints its docstring for -h/--help and
    exits non-zero with a one-line usage error (no traceback) for a
    module path that does not exist; a real count is one JSON line."""
    import json
    import subprocess
    import sys

    def run(*args):
        return subprocess.run(
            [sys.executable, str(REPO / "tools" / "surface_count.py"),
             *args], capture_output=True, text=True, timeout=60)

    for flag in ("-h", "--help"):
        r = run(flag)
        assert r.returncode == 0 and r.stdout.startswith("Count the"), r
    r = run("functions/no_such_module.py")
    assert r.returncode != 0 and "Traceback" not in r.stderr
    assert r.stderr.strip().startswith("usage:")
    assert len(r.stderr.strip().splitlines()) == 1
    r = run("functions/dedup.py")
    out = json.loads(r.stdout)
    assert r.returncode == 0 and out["functions/dedup.py"]["lines"] > 0
    assert {"package_lines", "package_bytes", "public_knobs"} <= set(out)
