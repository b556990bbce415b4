"""KG-construction benchmark: `run_pipeline`, its streaming drain and the
graph read-back queries, on inputs generated from a seed.

    python3 kgbench/run.py --workload extract_large --seed 1 --seconds 30 --trace 0

Run from the repository root. Prints a table of every metric with its
unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run. Exits 1 when an output check fails. Workloads, protocol and the
attribution rule are described in kgbench/README.md.
"""

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from workloads import ROOT, SIZES, WORK, stop_jvm, untraced  # noqa: E402


def host_env(trace: bool) -> int:
    """Host-derived settings, exported before the JVM starts; returns the
    core count. Nothing in the package is edited."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    # the session's own default (24g) exceeds small hosts: take <= 60% of
    # the host, and no more than 1 GB, which these inputs never fill (a
    # larger heap only grows the resident set and its run-to-run spread)
    heap_mb = min(int(mem_kb * 0.6 / 1024), 1024)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # no hsperfdata files: the JVMs would write them to /tmp, outside
        # the checkout, whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        "-XX:-UsePerfData") if o),
        # mapInPandas workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(WORK, "evlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    sys.path.insert(0, ROOT)
    return cores


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal measured time; every run measures one "
                         "cold pass (see README.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)
    cores = host_env(bool(args.trace))
    try:
        if args.trace:
            from traced import traced_run

            return traced_run(args, cores)
        return untraced(args, cores, T_START)
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
