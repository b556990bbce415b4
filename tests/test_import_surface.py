"""The KG entry points load only KG modules, and every source file
compiles without warnings.

Importing the batch pipeline (`plans`) and the incremental driver
(`streaming`) must not pull in any operator that no KG stage calls.
"""

import glob
import json
import os
import subprocess
import sys
import warnings

PKG = "legal_knowledge_graph_spark"
KG_MODULES = {
    f"{PKG}.{m}" for m in (
        "operators.ingest", "operators.segment", "operators.mentions",
        "operators.type_norm", "operators.canonicalize",
        "operators.components", "operators.triples", "operators.edge_norm",
        "operators.coref", "sources.io", "streaming.incremental", "schema",
        "functions.tokenize", "plans.pipeline",
    )
}
KG_PACKAGES = {PKG} | {
    f"{PKG}.{p}" for p in (
        "operators", "sources", "streaming", "functions", "plans")
}


def test_kg_import_surface_loads_only_kg_modules():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, sys\n"
        f"import {PKG}.plans, {PKG}.streaming\n"
        f"print(json.dumps(sorted(m for m in sys.modules "
        f"if m == {PKG!r} or m.startswith({PKG + '.'!r}))))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert f"{PKG}.streaming.incremental" in loaded
    assert loaded - KG_MODULES - KG_PACKAGES == set()


def test_worker_daemon_import_preloads_kernel_without_serving():
    """Importing `worker_daemon` loads what the forked workers share and
    returns: `manager()` runs only under `__main__` (it would take the
    process group and never return), and nothing is frozen yet."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import gc, json, os, sys\n"
        "pgid = os.getpgid(0)\n"
        f"import {PKG}.worker_daemon\n"
        "print(json.dumps([sorted(sys.modules), gc.get_freeze_count(),\n"
        "                  os.getpgid(0) == pgid]))\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         stdin=subprocess.DEVNULL, capture_output=True,
                         text=True, check=True, timeout=120)
    loaded, frozen, same_group = json.loads(
        out.stdout.strip().splitlines()[-1])
    assert {"pandas", "pyarrow", f"{PKG}.operators.mentions"} <= set(loaded)
    assert frozen == 0
    assert same_group


def test_sources_compile_without_warnings():
    """An invalid escape such as '\\s' in a non-raw string is a
    DeprecationWarning today and a SyntaxError in later Pythons."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, f) for f in (
        "__spark_entry__.py", "bench.py", "bench_extra.py")]
    for d in (PKG, "tests", "tools"):
        paths += glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    assert len(paths) > 3
    for path in paths:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(src, path, "exec")
