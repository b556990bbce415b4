"""The traced run (``--trace 1``): per-layer metrics of the measured pass.

The measured pass runs as in the untraced run, first in a fresh JVM, but
with every layer's public function wrapped (spans.py) and the Spark event
log on. Then incremental answers the read-back queries and, untimed,
compares its snapshot with a batch run over the same files.
"""

from __future__ import annotations

import os
import statistics

from spans import LAYER_METRICS, LAYERS, Tracer, layer_counters, read_events
from workloads import (
    SIZES, WORK, Checks, check_golden, check_mentions, drain, extract, fresh,
    id_fingerprints, planted_mentions, report, run_queries, session,
    write_corpus)


def install(tracer: Tracer, workload: str) -> None:
    """Wrap the public function of every layer the workload calls. Row
    counts that would re-run a lazy plan (extraction, and canonicalize,
    triples, edge_norm and coref of the refresh) are not taken."""
    from legal_knowledge_graph_spark.operators import (
        canonicalize, coref, edge_norm, graph_query, ingest, mentions,
        triples)
    from legal_knowledge_graph_spark.sources import io
    from legal_knowledge_graph_spark.streaming import incremental

    if workload == "extract_large":
        t = [(ingest, "ingest", "ingest", False),
             (mentions, "mentions_from_files", "mentions", False)]
    else:
        # run_full_incremental imports these at call time
        t = [(incremental, "ingest", "ingest", True),
             (incremental, "mentions_from_files", "mentions", True),
             (canonicalize, "canonicalize", "canonicalize", False),
             (canonicalize, "connected_components", "components", True),
             (triples, "emit_triples", "triples", False),
             (edge_norm, "normalize_edges", "edge_norm", False),
             (coref, "resolve_coref", "coref", False),
             (io, "upsert_parquet", "incremental", True),
             (io, "snapshot_graph", "io", True),
             # run_queries counts the rows it collects
             (graph_query, "load_graph", "graph_query", False),
             (graph_query, "neighbors", "graph_query", False),
             (graph_query, "get_node", "graph_query", False)]
    for module, attr, layer, rows in t:
        tracer.wrap(module, attr, layer, rows=rows)


def batch_ids(spark, input_path: str):
    """Id fingerprints of an in-memory batch `run_pipeline` over the
    files, the reference the drained snapshot must equal."""
    from legal_knowledge_graph_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, spark.read.parquet(input_path))
    return id_fingerprints(res.nodes, res.edges.where("NOT need_coref"))


def traced_run(args, cores: int) -> int:
    w = args.workload
    size = SIZES[args.size][w]
    checks = Checks()
    fresh("evlog")
    spark = session(w, cores)
    input_path = fresh("input")
    golden = write_corpus(input_path, size["files"], args.seed, size["scale"],
                          size["parquet"])
    tracer = Tracer()
    install(tracer, w)
    lat = []
    try:
        if w == "extract_large":
            rows, wall = extract(spark, input_path, tracer)
            tracer.rows.update(ingest=size["files"], mentions=len(rows))
        else:
            nodes, edges, wall = drain(spark, input_path, tracer)
            lat = run_queries(nodes, edges, size["queries"], args.seed, checks,
                              tracer)
        checks.op(1 + len(lat))
    finally:
        tracer.unwrap()
    extra = {}
    notes = [f"traced {w} seed={args.seed} local[{cores}] "
             f"files={size['files']} content_scale={size['scale']}; traced "
             f"pass {wall:.3f} s, against wall_s of untraced runs"]
    if w == "extract_large":
        check_mentions(rows, planted_mentions(size["files"], args.seed,
                                              size["scale"]), checks)
    else:
        check_golden(nodes, edges, golden, checks)
        want, got = batch_ids(spark, input_path), id_fingerprints(nodes, edges)
        checks.check(got == want, f"drained snapshot {got} != batch run {want}")
        extra["query_p50_ms"] = (statistics.median(lat), "ms")
        notes.append(f"query p50 over {len(lat)} queries "
                     f"({len(lat) // 2} beyond it)")
    app_id = spark.sparkContext.applicationId
    spark.stop()  # finishes the event log

    c = layer_counters(read_events(os.path.join(WORK, "evlog"), app_id),
                       tracer, cores)
    metrics = {}
    for layer in LAYERS:
        for m, unit in LAYER_METRICS:
            metrics[f"{layer}.{m}"] = (c["layers"][layer][m], unit)
    metrics["io.output_mb"] = (c["output_mb"], "MB")
    metrics["trace_overhead_s"] = (c["paused_s"], "s")

    # the timeline against the independently timed pass and queries, and
    # the timeline's jobs against every job the event log shows in its span
    timed = wall + sum(lat) / 1000.0
    layer_sum = sum(c["layers"][lay]["wall_s"] for lay in LAYERS)
    layer_jobs = int(sum(c["layers"][lay]["jobs"] for lay in LAYERS))
    checks.check(abs(layer_sum + c["paused_s"] - timed) <= 0.05 * timed,
                 f"layer wall_s sum {layer_sum:.3f} s + paused "
                 f"{c['paused_s']:.3f} s is not within 5% of the timed "
                 f"wall {timed:.3f} s")
    checks.check(layer_jobs + c["jobs_paused"] == c["jobs_timed"],
                 f"{c['jobs_timed']} jobs in the traced span, but "
                 f"{layer_jobs} attributed + {c['jobs_paused']} paused")
    notes += [
        f"timed wall {timed:.3f} s = layer wall_s sum {layer_sum:.3f} s + "
        f"the tracer's own work {c['paused_s']:.3f} s "
        f"({(layer_sum + c['paused_s']) / timed:.2%})",
        f"jobs in the traced span {c['jobs_timed']} = attributed to layers "
        f"{layer_jobs} + in paused windows {c['jobs_paused']}",
    ]
    return report(checks, metrics, extra, notes)

