"""Count the package's size and its public knobs, as one JSON line.

Usage:
    python tools/surface_count.py [checkout_root] [module_path ...]

Prints ``package_lines`` and ``package_bytes`` (every ``.py`` file
under ``juliadb_jl_spark/``), ``public_knobs`` (parameters with a
default value on the public top-level functions of
``juliadb_jl_spark.functions.*``, ``operators.*`` and ``plans.*``) and,
for each ``module_path`` named (relative to the package, e.g.
``functions/dedup.py``), that file's lines and bytes.  The source is
parsed, not imported, so any checkout can be counted without Spark.
"""
from __future__ import annotations

import ast
import json
import os
import sys

KNOB_PACKAGES = ("functions", "operators", "plans")


def _lines_bytes(path: str) -> tuple[int, int]:
    with open(path, "rb") as f:
        data = f.read()
    return data.count(b"\n"), len(data)


def _knobs(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    n = 0
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")):
            a = node.args
            n += len(a.defaults) + sum(d is not None for d in a.kw_defaults)
    return n


def count(root: str, modules: list[str]) -> dict:
    pkg = os.path.join(root, "juliadb_jl_spark")
    lines = size = knobs = 0
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        rel = os.path.relpath(dirpath, pkg).split(os.sep)[0]
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            ln, by = _lines_bytes(path)
            lines += ln
            size += by
            if rel in KNOB_PACKAGES and not name.startswith("_"):
                knobs += _knobs(path)
    out = {"package_lines": lines, "package_bytes": size,
           "public_knobs": knobs}
    for m in modules:
        ln, by = _lines_bytes(os.path.join(pkg, m))
        out[m] = {"lines": ln, "bytes": by}
    return out


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] in ("-h", "--help"):
        print(__doc__.strip())
        return
    root = args.pop(0) if args and os.path.isdir(args[0]) else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for m in args:
        if not os.path.isfile(os.path.join(root, "juliadb_jl_spark", m)):
            sys.exit(f"usage: surface_count.py [checkout_root] "
                     f"[module_path ...]: no module {m!r} under "
                     f"{os.path.join(root, 'juliadb_jl_spark')}")
    print(json.dumps(count(root, args)))


if __name__ == "__main__":
    main()
