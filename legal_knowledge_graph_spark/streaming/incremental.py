"""Structured-Streaming incremental extraction.

Two levels (SURVEY §2.8):
- `run_incremental`: the stateless stage prefix (st0 -> fused st1+st2)
  lifted to readStream/writeStream unchanged — append-only mentions table.
- `run_full_incremental`: the FULL pipeline driven per micro-batch via
  foreachBatch (VERDICT r1 #8). Each trigger (1) upserts the batch's
  mentions into a mention LEDGER keyed by content-derived mention_id —
  idempotent under batch replay, so the streaming checkpoint gives
  exactly-once ledger contents even across a mid-stream crash — then
  (2) recomputes the stateful suffix (st3 canonicalize -> st4 triples ->
  st5 edge-norm -> st6 coref) over the ACCUMULATED ledger and (3) REPLACES
  the versioned graph snapshot (sources.io.snapshot_graph). As in the
  batch pipeline, st5 is materialized (localCheckpoint) before coref, so
  each refresh runs st4 and st5 once: coref's checkpoints and the snapshot
  write read the materialized edges instead of re-running their lineage.
  The refresh manifest's ledger row count rides the upsert's write job.
  The graph is a deterministic function of the ledger, so after draining,
  the store equals the single-shot batch run no matter where the stream
  was killed/resumed — recompute-flavored incremental view maintenance:
  correct under cross-batch canonical-representative changes that a
  merge-only upsert would strand."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ingest import ingest
from ..operators.mentions import mentions_from_files
from ..schema import FILES_SCHEMA


def incremental_mentions(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a landing directory of parquet `files` batches ->
    streaming mentions DataFrame (st0 -> fused st1+st2; both stateless,
    so they lift to streaming unchanged)."""
    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    return mentions_from_files(ingest(stream))


def run_incremental(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    await_termination: bool = True,
):
    """Drain currently-available input (Trigger.AvailableNow) into the
    mentions stage table; exactly-once via the streaming checkpoint. The
    stateful suffix (st3+) re-runs as batch over the table afterwards."""
    q = (
        incremental_mentions(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def run_full_incremental(
    spark: SparkSession, input_dir: str, ledger_dir: str, graph_root: str,
    checkpoint_dir: str, max_files_per_trigger: int = 64,
    on_batch=None,
    refresh_every: int = 1, refresh_growth: float | None = None,
):
    """Drain available input through the FULL pipeline, one micro-batch at
    a time (see module docstring). `on_batch(batch_id)` is a test hook
    invoked after the ledger upsert and before the graph refresh — raising
    there simulates a mid-batch crash (the ledger upsert is idempotent, so
    the replayed batch converges). Blocks until drained.

    Refresh policy (VERDICT r2 #3 — bounds total work): the ledger upsert
    runs EVERY micro-batch (that is the exactly-once contract), but the
    O(ledger) suffix recompute + snapshot swap runs only when due —
    every `refresh_every` batches, or as soon as the ledger has grown by
    `refresh_growth` (fraction, e.g. 0.5 = +50% rows) since the last
    refresh, whichever fires first — and ALWAYS once more after the drain
    if any batch landed since the last refresh. A long stream therefore
    pays O(ledger) a bounded number of times, not once per micro-batch,
    while the drained store still equals the single-shot batch run.
    Defaults (refresh_every=1) preserve the refresh-per-batch behavior."""
    import json
    import os

    from ..operators.canonicalize import canonicalize
    from ..operators.coref import resolve_coref
    from ..operators.edge_norm import normalize_edges
    from ..operators.triples import emit_triples
    from ..sources.io import read_graph_table, snapshot_graph, upsert_parquet

    refresh_manifest = os.path.join(graph_root, "_refresh_manifest.json")

    def _last_refresh_rows() -> int | None:
        if os.path.exists(refresh_manifest):
            with open(refresh_manifest) as f:
                return json.load(f).get("ledger_rows")
        return None

    def refresh(ledger: DataFrame, ledger_rows: int) -> int:
        nodes, form_map = canonicalize(ledger, spark)
        nodes = nodes.localCheckpoint()
        triples = emit_triples(ledger)
        # st5 feeds coref's checkpoints, its dup-key semi-join and the
        # snapshot write: materialize it so st4+st5 run once, not per action
        edges = normalize_edges(triples, form_map, spark).localCheckpoint()
        snapshot_graph(spark, graph_root, nodes,
                       resolve_coref(edges, nodes, spark))
        # record the ledger count AT this refresh (ADVICE r4): the resume
        # baseline must measure growth from the last graph the store
        # actually reflects, not from whatever the ledger holds now
        os.makedirs(graph_root, exist_ok=True)
        tmp = refresh_manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"ledger_rows": ledger_rows}, f)
        os.replace(tmp, refresh_manifest)
        return ledger_rows

    # growth baseline seeds from the count AT THE LAST REFRESH (ADVICE r3
    # + r4): a resumed stream must not treat batch 1 as infinite growth
    # against a zero baseline, but it also must not seed from the CURRENT
    # ledger — after a crash between the ledger upsert and the refresh,
    # the current count is inflated and a resume that drains zero new
    # batches would never fold the stranded rows into the graph. So: seed
    # from the refresh manifest, and if the ledger already holds more rows
    # than the last refresh saw, mark the state dirty so the closing
    # refresh runs even on an empty drain. 0 means "no baseline yet" —
    # the first batch then ESTABLISHES the baseline.
    try:
        current = read_graph_table(spark, ledger_dir).count()
    except FileNotFoundError:
        current = 0
    last = _last_refresh_rows()
    baseline = last if last is not None else 0
    # ledger_rows: the current ledger's row count, from the count above
    # and then from each upsert's observed write (no count job)
    state = {"since": 0, "rows_at_refresh": baseline,
             "dirty": current > baseline, "ledger_rows": current}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        delta = mentions_from_files(ingest(batch_df))
        ledger = upsert_parquet(spark, ledger_dir, delta, ["mention_id"])
        rows = state["ledger_rows"] = ledger._kg_rows
        if on_batch is not None:
            on_batch(batch_id)
        state["since"] += 1
        state["dirty"] = True
        due = state["since"] >= refresh_every
        if not due and refresh_growth is not None:
            if state["rows_at_refresh"] > 0:
                due = rows >= state["rows_at_refresh"] * (1.0 + refresh_growth)
            else:
                # empty-ledger start: the first batch sets the baseline;
                # growth is measured from here on (ADVICE r3)
                state["rows_at_refresh"] = rows
        if due:
            state["rows_at_refresh"] = refresh(ledger, rows)
            state["since"] = 0
            state["dirty"] = False

    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if state["dirty"]:
        # final drain: the last batches landed in the ledger without a
        # refresh — fold them into one closing snapshot
        refresh(read_graph_table(spark, ledger_dir), state["ledger_rows"])
    return q
