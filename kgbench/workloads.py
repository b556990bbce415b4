"""Workloads of the KG-construction benchmark: inputs, the measured pass,
output checks and the report (see README.md)."""

from __future__ import annotations

import bisect
import json
import os
import random
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")

# files and content_scale of the corpus, and the parquet files it is
# written as (for incremental: the landed files, drained in one
# micro-batch); incremental also: the read-back queries of the traced run
SIZES = {
    "full": {
        "extract_large": {"files": 256, "scale": 32, "parquet": 8},
        "incremental": {"files": 256, "scale": 1, "parquet": 2, "queries": 20},
    },
    "tiny": {
        "extract_large": {"files": 8, "scale": 4, "parquet": 2},
        "incremental": {"files": 16, "scale": 1, "parquet": 2, "queries": 4},
    },
}


class RssSampler(threading.Thread):
    """Peak memory of the processes this one started: the driver JVM's own
    peak RSS (VmHWM, kept by the kernel) plus the sampled peak of the
    Python workers' summed proportional set size (Pss: shared pages split
    among the forked workers sharing them). The JVM is read from VmHWM, not
    sampled, because a child it is spawning briefly shows the JVM's whole
    RSS again."""

    def __init__(self):
        super().__init__(daemon=True)
        self.python_peak_kb = 0
        self._done = threading.Event()

    def _descendants(self) -> dict[int, str]:
        parent: dict[int, tuple[int, str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        head, rest = f.read().rsplit(")", 1)
                    parent[int(d)] = (int(rest.split()[1]), head.split("(", 1)[1])
                except (OSError, IndexError, ValueError):
                    pass
        todo, tree = [os.getpid()], {}
        while todo:
            p = todo.pop()
            kids = [c for c, (pp, _) in parent.items() if pp == p]
            tree.update({c: parent[c][1] for c in kids})
            todo += kids
        return tree

    @staticmethod
    def _field_kb(path: str, key: str) -> int:
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._done.wait(0.1):
            pss = sum(self._field_kb(f"/proc/{p}/smaps_rollup", "Pss:")
                      for p, comm in self._descendants().items()
                      if comm.startswith("python"))
            self.python_peak_kb = max(self.python_peak_kb, pss)

    def stop(self) -> tuple[float, float]:
        """Stops sampling; returns the JVM's and the Python workers' peaks
        in MB."""
        self._done.set()
        self.join()
        jvm = max(self._field_kb(f"/proc/{p}/status", "VmHWM:")
                  for p, comm in self._descendants().items() if comm == "java")
        return jvm / 1024.0, self.python_peak_kb / 1024.0


class Checks:
    """Counts operations and failed output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def stop_jvm() -> None:
    """Ends the JVM this process launched, which exits when its stdin
    closes, and waits for it, so that no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def fresh(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    return path


def session(workload: str, cores: int):
    from legal_knowledge_graph_spark.session import build_session

    spark = build_session(
        app_name=f"kgbench-{workload}", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Inputs: generated from the seed and written untimed; the system only reads
# ---------------------------------------------------------------------------
def write_corpus(path: str, n: int, seed: int, scale: int, n_files: int):
    """Writes the corpus as `n_files` parquet files without Spark (so no
    Spark job runs before the measured pass) and returns the golden
    distinct (s, p, o) triples and (type, canonical name) nodes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from legal_knowledge_graph_spark.corpus import generate_corpus

    rows, triples, nodes = generate_corpus(n, seed, scale)
    os.makedirs(path)
    names = ("repo", "path", "commit", "lang", "content")
    for i in range(n_files):
        part = rows[i * n // n_files:(i + 1) * n // n_files]
        table = pa.table({k: [r[j] for r in part] for j, k in enumerate(names)})
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return set(triples), set(nodes)


def _bare(text: str) -> str:
    """A surface form without a leading article: the extractor keeps the
    "the" of "the MIT License" that canonicalization later drops."""
    return text[4:] if text.lower().startswith("the ") else text


def planted_mentions(n: int, seed: int, scale: int) -> set[tuple[str, str]]:
    """(entity_type, surface form) of every entity the generator planted
    in the corpus, walking its file specs as `generate_corpus` does."""
    from legal_knowledge_graph_spark.corpus import (
        file_spec, repo_layout, spec_raw_triples)

    names, bounds = repo_layout(n, seed)
    out = set()
    for i in range(n):
        r = bisect.bisect_right(bounds, i)
        spec = file_spec(i, seed, names[r], i - (bounds[r - 1] if r else 0),
                         scale)
        for st, sty, _, ot, oty in spec_raw_triples(spec):
            out |= {(sty, _bare(st)), (oty, _bare(ot))}
        if spec.kind == "normal" and spec.lang == "markdown" and spec.mod_date:
            out.add(("Date", spec.mod_date))  # planted without a triple
    return out


# ---------------------------------------------------------------------------
# The measured pass of each workload
# ---------------------------------------------------------------------------
def extract(spark, input_path: str, tracer=None):
    """Files table in -> every mention at the driver: ingest, then the
    fused segment + mention extraction (st0-st2). Returns (mention rows,
    wall_s)."""
    from legal_knowledge_graph_spark.operators import ingest, mentions

    t0 = time.time()
    if tracer:
        tracer.begin("ingest")
    files = spark.read.parquet(input_path)
    found = mentions.mentions_from_files(ingest.ingest(files))
    rows = found.select("entity_type", "text", "is_reference").collect()
    wall = time.time() - t0
    if tracer:
        tracer.end()
    return rows, wall


def drain(spark, landing: str, tracer=None):
    """Landed files -> final graph snapshot via the streaming driver, in
    one micro-batch. Returns (nodes, edges, wall_s)."""
    from legal_knowledge_graph_spark.operators import graph_query
    from legal_knowledge_graph_spark.streaming import incremental

    root = fresh("stream")
    t0 = time.time()
    if tracer:
        tracer.begin("incremental")
    incremental.run_full_incremental(
        spark, landing, os.path.join(root, "ledger"),
        os.path.join(root, "graph"), os.path.join(root, "ckpt"),
        max_files_per_trigger=len(os.listdir(landing)))
    nodes, edges = graph_query.load_graph(spark, os.path.join(root, "graph"))
    wall = time.time() - t0
    if tracer:
        tracer.end()
    return nodes, edges, wall


def check_mentions(rows, planted: set, checks: Checks) -> int:
    """Distinct (type, surface form) of the entity mentions, references
    and pronouns left out, against the planted ones (P = R = 1.0).
    Returns the mention count."""
    from legal_knowledge_graph_spark.schema import PRONOUNS

    got = {(r.entity_type, _bare(r.text)) for r in rows
           if not r.is_reference and r.text.lower() not in PRONOUNS}
    checks.check(got == planted, f"mentions P/R: {len(got & planted)} true "
                 f"of {len(got)} found, {len(planted)} planted")
    return len(rows)


def check_golden(nodes, edges, golden, checks: Checks) -> int:
    """Distinct resolved (s, p, o) and nodes against the generator's
    golden sets (P = R = 1.0). Returns the edge count."""
    got = {tuple(r) for r in edges.select(
        "subject_canonical", "predicate", "object_canonical").collect()}
    want = golden[0]
    checks.check(got == want, f"(s,p,o) P/R: {len(got & want)} true of "
                 f"{len(got)} found, {len(want)} golden")
    got_n = {tuple(r) for r in nodes.select(
        "entity_type", "canonical_name").collect()}
    checks.check(got_n == golden[1], f"nodes P/R: {len(got_n & golden[1])} "
                 f"true of {len(got_n)} found, {len(golden[1])} golden")
    return edges.count()


def id_fingerprints(nodes, edges):
    """Order-insensitive (rows, hash) of the entity_id and edge_id sets."""
    from tools.benchlib import fingerprint_all_cols

    return (fingerprint_all_cols(nodes.select("entity_id")),
            fingerprint_all_cols(edges.select("edge_id")))


# ---------------------------------------------------------------------------
# Read-back queries (incremental, traced run)
# ---------------------------------------------------------------------------
def _expected_neighbors(adj, ids: set[str], start: str, depth: int):
    seen, frontier, out = {start}, {start}, set()
    for hop in range(1, depth + 1):
        nxt = {v for u in frontier for v in adj.get(u, ())} - seen
        seen |= nxt
        out |= {(v, hop) for v in nxt if v in ids}
        frontier = nxt
    return out


def run_queries(nodes, edges, n: int, seed: int, checks: Checks, tracer):
    """Alternating neighbors(depth=2) / get_node read-backs on ids drawn by
    the seed, each a traced section of its own and checked against the
    collected graph. Returns the per-query latencies in ms."""
    from legal_knowledge_graph_spark.operators import graph_query

    with tracer.paused():
        ids = sorted(r.entity_id for r in nodes.select("entity_id").collect())
        adj: dict[str, set[str]] = {}
        for s, o in edges.select("subject_entity_id",
                                 "object_entity_id").collect():
            adj.setdefault(s, set()).add(o)
            adj.setdefault(o, set()).add(s)
    rng = random.Random(seed)
    lat = []
    for i in range(n):
        eid = rng.choice(ids)
        tracer.begin("graph_query")
        t0 = time.perf_counter()
        if i % 2 == 0:
            got = graph_query.neighbors(nodes, edges, eid, depth=2).collect()
        else:
            got = graph_query.get_node(nodes, eid).collect()
        lat.append((time.perf_counter() - t0) * 1000.0)
        tracer.end()
        tracer.rows["graph_query"] += len(got)
        if i % 2 == 0:
            checks.check({(r.entity_id, r.hop) for r in got}
                         == _expected_neighbors(adj, set(ids), eid, 2),
                         f"neighbors({eid[:12]})")
        else:
            checks.check([r.entity_id for r in got] == [eid],
                         f"get_node({eid[:12]})")
    return lat


# ---------------------------------------------------------------------------
# Report
# ---------------------------------------------------------------------------
def report(checks: Checks, metrics: dict, extra: dict, notes: list[str]) -> int:
    """Prints every metric with its unit, then the result line; returns
    the exit code (1 when an output check failed)."""
    extra = {**extra,
             "failed_ratio": (checks.failed / max(checks.attempted, 1), "ratio")}
    for name, (v, unit) in {**metrics, **extra}.items():
        print(f"{name:<28} {v:>14.4f} {unit}")
    for line in notes:
        print(f"# {line}")
    correct = checks.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def untraced(args, cores: int, t_start: float) -> int:
    """The end-to-end run: set-up, one measured pass, output checks."""
    size = SIZES[args.size][args.workload]
    checks = Checks()
    sampler = RssSampler()
    sampler.start()
    spark = session(args.workload, cores)
    setup_s = time.time() - t_start
    input_path = fresh("input")
    golden = write_corpus(input_path, size["files"], args.seed, size["scale"],
                          size["parquet"])
    if args.workload == "extract_large":
        rows, wall = extract(spark, input_path)
        jvm_mb, python_mb = sampler.stop()
        out = check_mentions(rows, planted_mentions(
            size["files"], args.seed, size["scale"]), checks)
        what = "mentions"
    else:
        nodes, edges, wall = drain(spark, input_path)
        jvm_mb, python_mb = sampler.stop()
        out = check_golden(nodes, edges, golden, checks)
        what = "edges"
    checks.op()
    spark.stop()

    metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall, "s"),
               "peak_rss_mb": (jvm_mb + python_mb, "MB")}
    notes = [f"workload={args.workload} seed={args.seed} local[{cores}] "
             f"files={size['files']} content_scale={size['scale']} "
             f"{what}={out} ({out / wall:.1f}/s)",
             f"peak rss: driver JVM {jvm_mb:.0f} MB + Python workers "
             f"{python_mb:.0f} MB"]
    return report(checks, metrics, {}, notes)
