"""Event-stream analytics: ordered funnels and retention cohorts.

Rounds out the events surface next to the hourly/top-type/session
queries: the two canonical product-analytics shapes, both pure Catalyst
with exact SQL oracles (timestamps compare exactly; all outputs are
integers or rounded ratios of integers).

Scale shape (100 TB of events): every stage keys on user_id — the
funnel is a chain of per-step filtered aggregations joined user-to-user
(AQE co-partitions the chain on the same key; each step's input shrinks
to the previous step's survivors), retention is one (user) agg plus one
(user, week) distinct — no windows over the raw stream, no skew beyond
a single user's own events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Broadcast cap for association_rules' item-vocabulary sides (singles
# and its y-alias). Event-type vocabularies are tiny, but the operator
# is documented for generic baskets where |items| can reach 10^7+
# (product catalogs); above the cap the shuffled join is the 100 TB
# path. Same budget rationale as graph_algos.BROADCAST_RANKS_MAX: a
# few-million-row (string, long) build stays inside the guide §3.1
# few-hundred-MB broadcast budget. The count is an approx_count_distinct
# observation (HLL at the default rsd of ~5% — a cap decision, not a
# result), riding the pairs checkpoint job for free.
BROADCAST_ITEMS_MAX = 4_000_000


def funnel(
    events: DataFrame, steps: list[str],
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel conversion: a user completes step k at the
    EARLIEST event of that type strictly after their step-(k-1)
    completion (first-touch semantics). Output: (step_no, step,
    n_users, frac_of_first) with frac rounded 6.

    Each step is one filtered agg + one equi-join against the previous
    survivors; counts ride a final tiny union of single-row aggregates."""
    prev = None
    step_counts = []
    for i, st in enumerate(steps):
        ev = events.where(F.col(type_col) == st).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
        if prev is None:
            cur = ev.groupBy("user").agg(F.min("t").alias("t_done"))
        else:
            cur = (
                ev.join(prev, "user")
                .where(F.col("t") > F.col("t_done"))
                .groupBy("user").agg(F.min("t").alias("t_done"))
            )
        cur = cur.localCheckpoint()  # each step reuses the survivor set
        step_counts.append(cur.agg(
            F.lit(i + 1).cast("int").alias("step_no"),
            F.lit(st).alias("step"),
            F.count(F.lit(1)).alias("n_users")))
        prev = cur
    out = step_counts[0]
    for sc in step_counts[1:]:
        out = out.unionByName(sc)
    first = out.where(F.col("step_no") == 1) \
        .select(F.col("n_users").alias("n_first"))
    return out.crossJoin(F.broadcast(first)).select(
        "step_no", "step", "n_users",
        F.round(F.col("n_users").cast("double")
                / F.greatest(F.col("n_first"), F.lit(1)), 6)
        .alias("frac_of_first"))


def retention_cohorts(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: cohort = the Monday-truncated week of
    a user's first event; a (cohort, offset) cell counts users active in
    cohort_week + offset weeks. Output: (cohort_week date, week_offset
    int, n_users) — integer-exact."""
    ev = events.select(F.col(user_col).alias("user"),
                       F.date_trunc("week", F.col(ts_col)).alias("wk"))
    first = ev.groupBy("user").agg(F.min("wk").alias("cohort"))
    active = ev.distinct()
    return (
        active.join(first, "user")
        .select(
            F.date_format(F.col("cohort"), "yyyy-MM-dd")
            .alias("cohort_week"),
            (F.datediff(F.col("wk").cast("date"), F.col("cohort").cast("date"))
             / 7).cast("int").alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_active_users(
    events: DataFrame, window_days: int = 7,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Daily + trailing-window activity profile: for every day present
    in the stream, (day, dau, wau, n_events) where dau = distinct users
    that day, wau = distinct users in the `window_days` window ENDING at
    that day, n_events = raw event count.

    Scale shape (100 TB of events): the raw stream collapses to a
    (day, user)-distinct table in one shuffle (bounded by users x days,
    orders of magnitude below events); rolling distinct is NOT
    window-decomposable, so each daily pair fans out to the
    `window_days` future windows it serves via a sequence-explode —
    a bounded x7 expansion of the SMALL table, one (day, user) dedup,
    one count. No theta-join (the oracle deliberately uses the
    quadratic BETWEEN join this shape avoids), no window over the raw
    stream, no count-distinct state beyond one day's users."""
    day = F.to_date(F.col(ts_col))
    stats = events.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col(user_col)).alias("dau"))
    daily = events.select(day.alias("day"),
                          F.col(user_col).alias("u")).distinct()
    contrib = daily.select(
        F.explode(F.sequence(
            F.col("day"), F.date_add(F.col("day"), window_days - 1)
        )).alias("day"),
        "u",
    ).dropDuplicates(["day", "u"])
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    # inner join restricts to days actually present (future-only fan-out
    # days have no stats row); every present day has wau >= dau >= 1
    return (
        stats.join(wau, "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                "dau", "wau", "n_events")
    )


def funnel_latency(
    events: DataFrame, steps: list[str],
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts", exact: bool = True,
) -> DataFrame:
    """Conversion-latency profile for an ordered funnel: for every step
    k >= 2, statistics of (step-k completion time - step-(k-1)
    completion time) in whole seconds across converting users —
    (step_no, step, n_users, p50_s, p90_s, mean_s). First-touch step
    semantics are identical to `funnel` (a user completes step k at the
    earliest event strictly after their step-(k-1) completion), so the
    two queries describe the same cohort.

    Engine-exact: latencies are integer seconds (unix_timestamp diff);
    exact percentiles are type-7 (= quantile_cont) over integers, mean
    is CAST(sum AS DOUBLE)/count on both sides. exact=False switches to
    approx_percentile (t-digest) for funnels whose per-step cohorts are
    too large to buffer — the corpus_length_stats discipline.

    Scale shape: the step chain is the same per-step filtered agg +
    user equi-join as `funnel` (each step's input shrinks to prior
    survivors); the previous completion time rides the join, so
    latency stats cost ONE extra one-row aggregate per step."""
    if len(steps) < 2:
        # r6 (ADVICE r5): no latency pairs exist below 2 steps — fail
        # loudly instead of an opaque IndexError on stat_rows[0]
        raise ValueError("funnel_latency requires at least 2 steps")
    prev = None
    stat_rows = []
    for i, st in enumerate(steps):
        ev = events.where(F.col(type_col) == st).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
        if prev is None:
            cur = ev.groupBy("user").agg(F.min("t").alias("t_done")) \
                .localCheckpoint()
        else:
            joined = (
                ev.join(prev, "user")
                .where(F.col("t") > F.col("t_done"))
                .groupBy("user")
                .agg(F.min("t").alias("t_done"),
                     # t_done is constant per user in the joined stream
                     F.min("t_done").alias("t_prev"))
                .localCheckpoint()
            )
            lat = (F.unix_timestamp("t_done")
                   - F.unix_timestamp("t_prev")).alias("lat")
            base = joined.select(lat)
            if exact:
                pct = [F.percentile("lat", p) for p in (0.5, 0.9)]
            else:
                pct = [F.approx_percentile("lat", p, 10000)
                       for p in (0.5, 0.9)]
            stat_rows.append(base.agg(
                F.lit(i + 1).cast("int").alias("step_no"),
                F.lit(st).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
                F.round(pct[0], 6).alias("p50_s"),
                F.round(pct[1], 6).alias("p90_s"),
                F.round(F.sum("lat").cast("double")
                        / F.greatest(F.count(F.lit(1)), F.lit(1)), 6)
                .alias("mean_s")))
            cur = joined.select("user", "t_done")
        prev = cur
    out = stat_rows[0]
    for sr in stat_rows[1:]:
        out = out.unionByName(sr)
    return out


def markov_transitions(
    events: DataFrame, user_col: str = "user_id",
    type_col: str = "event_type", ts_col: str = "ts",
    tiebreak_col: str = "event_id", min_count: int = 1,
    chunk_width_s: int | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: order each user's events by (ts, tiebreak), pair each
    event with its successor, and emit

        (from_type, to_type, n, prob = n / sum_n(from_type))

    — the standard next-action model behind "what do users do after X"
    product questions (the reference's pipeline has no event analytics
    at all; this extends the engine's events suite). `min_count` prunes
    rare transitions AFTER the row-probability denominator is fixed, so
    reported probs are true conditionals of the full stream.

    Scale shape (100 TB event log): ONE shuffle on user_id for the
    sequence window (lead() needs per-user order — inherent), then a
    map-side-combining groupBy on (from, to) whose cardinality is
    |types|^2, tiny by construction; the per-from denominator attaches
    via a window over that tiny aggregate, not the raw stream.

    Hot-key path (`chunk_width_s`): a bot "user" owning 10^8 events
    would otherwise sort in ONE window task. With a chunk width set,
    the sequence window runs per (user, time-chunk) — bounded tasks —
    and cross-chunk transitions are stitched from per-chunk (first,
    last) aggregates: chunk k's last event pairs with the next
    non-empty chunk's first (exactly the consecutive pair the single
    window would emit, because floor(ts/width) is monotone in ts and
    ties share a chunk). The stitch table is one row per (user, chunk),
    span/width-bounded, so its window is trivially small. Output is
    row-identical to the single-window path (pytest-pinned)."""
    from pyspark.sql.window import Window

    if chunk_width_s is not None:
        chunk = F.floor(F.unix_timestamp(F.col(ts_col)) / chunk_width_s)
        ev = events.select(
            F.col(user_col).alias("_u"), F.col(type_col).alias("_t"),
            F.col(ts_col).alias("_ts"), F.col(tiebreak_col).alias("_tb"),
            chunk.alias("_ck"))
        wc = Window.partitionBy("_u", "_ck").orderBy(
            F.col("_ts").asc(), F.col("_tb").asc())
        intra = (
            ev.select(
                F.col("_t").alias("from_type"),
                F.lead("_t").over(wc).alias("to_type"))
            .where(F.col("to_type").isNotNull())
        )
        key = F.struct(F.col("_ts"), F.col("_tb"))
        ends = ev.groupBy("_u", "_ck").agg(
            F.min_by("_t", key).alias("_first"),
            F.max_by("_t", key).alias("_last"))
        ws = Window.partitionBy("_u").orderBy(F.col("_ck").asc())
        boundary = (
            ends.select(
                F.col("_last").alias("from_type"),
                F.lead("_first").over(ws).alias("to_type"))
            .where(F.col("to_type").isNotNull())
        )
        pairs = intra.unionByName(boundary)
    else:
        w = Window.partitionBy(user_col).orderBy(
            F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        pairs = (
            events.select(
                F.col(type_col).alias("from_type"),
                F.lead(type_col).over(w).alias("to_type"))
            .where(F.col("to_type").isNotNull())
        )
    counts = pairs.groupBy("from_type", "to_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return (
        counts
        .withColumn("prob", F.round(F.col("n") / F.sum("n").over(wf), 6))
        .where(F.col("n") >= min_count)
        .select("from_type", "to_type", "n", "prob")
    )


def rolling_anomaly(
    events: DataFrame, type_col: str = "event_type", ts_col: str = "ts",
    lookback: int = 24, min_periods: int = 12, z_threshold: float = 3.0,
) -> DataFrame:
    """Hourly volume anomalies per event type: bucket the stream into
    hours, then score each (type, hour) count against the mean/stddev of
    the `lookback` PRECEDING observed hourly rows (current hour
    excluded — the score must not see itself):

        z = (n - mean_prev) / std_prev

    Stats are null until `min_periods` preceding rows exist (cold
    start) and z is null when std_prev = 0 (a flat history makes any
    deviation infinitely surprising — flagging is the caller's policy
    call, so the operator reports null rather than inventing a clamp).
    `is_anomaly` = |z| > z_threshold, false (not null) when z is
    undefined so the flag column is always concrete. The ROWS frame is
    over observed
    hours, so gaps in the stream neither crash nor zero-fill.

    Scale shape (100 TB event log): the raw stream collapses to
    (type, hour) counts in ONE map-side-combining aggregate — the
    window runs over that tiny hourly table (|types| x |hours|), never
    the raw events; per-type frames shuffle only the aggregate."""
    return score_hourly_counts(hourly_counts(events, type_col, ts_col),
                               lookback, min_periods, z_threshold)


def hourly_counts(
    events: DataFrame, type_col: str = "event_type", ts_col: str = "ts",
) -> DataFrame:
    """(event_type, hour, n) — the one map-side-combining aggregate the
    anomaly scorer (and its streaming ledger) runs on."""
    return (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def score_hourly_counts(
    hourly: DataFrame, lookback: int = 24, min_periods: int = 12,
    z_threshold: float = 3.0,
) -> DataFrame:
    """rolling_anomaly's scoring half over a prebuilt (event_type, hour,
    n) table — shared verbatim by the batch operator and the streaming
    refresh so stream == batch by construction."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("hour") \
        .rowsBetween(-lookback, -1)
    n_prev = F.count(F.lit(1)).over(w)
    mean_prev = F.when(
        n_prev >= min_periods, F.avg("n").over(w))
    std_prev = F.when(
        n_prev >= min_periods, F.stddev_samp("n").over(w))
    z = F.when(std_prev > 0, (F.col("n") - mean_prev) / std_prev)
    return hourly.select(
        "event_type", "hour", "n",
        F.round(mean_prev, 6).alias("mean_prev"),
        F.round(std_prev, 6).alias("std_prev"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > F.lit(z_threshold), F.lit(False))
        .alias("is_anomaly"),
    )


def ohlc_bars(
    events: DataFrame, type_col: str = "event_type", ts_col: str = "ts",
    value_col: str = "value", tiebreak_col: str = "event_id",
    bar: str = "hour",
) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (type, bar) the
    open/high/low/close of `value_col`, where open/close are the values
    at the (ts, tiebreak)-min/max rows — a total order, so
    deterministic under simultaneous timestamps. Output (event_type,
    bar_ts, n, open, high, low, close, sum_value rounded).

    Scale shape (100 TB tick stream): ONE map-side-combining aggregate;
    min_by/max_by carry the open/close through partial aggregation, so
    no window, no sort, no second scan."""
    key = F.struct(F.col(ts_col), F.col(tiebreak_col))
    return (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc(bar, F.col(ts_col)).alias("bar_ts"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min_by(F.col(value_col), key).alias("open"),
             F.max(value_col).alias("high"),
             F.min(value_col).alias("low"),
             F.max_by(F.col(value_col), key).alias("close"),
             F.round(F.sum(value_col), 4).alias("sum_value"))
    )


def association_rules(
    events: DataFrame, basket_col: str = "user_id",
    item_col: str = "event_type", min_support: float = 0.0,
) -> DataFrame:
    """Pairwise association rules over per-basket DISTINCT item sets
    (market basket / "users who did X also did Y"):

        support(x->y)    = n(x,y) / n_baskets
        confidence(x->y) = n(x,y) / n(x)
        lift(x->y)       = confidence / (n(y) / n_baskets)

    Emitted for every ORDERED pair x != y with support >= min_support
    (x->y and y->x share support but differ in confidence/lift).

    Scale shape (10^9 baskets): baskets collapse to distinct (basket,
    item) pairs map-side; the pair join is per-basket and bounded by
    items-per-basket^2 (|item vocabulary| is the real-world bound —
    event types, product categories); singles and the basket count
    attach to the |items|^2 aggregate, never the raw stream. The
    singles sides broadcast only while the observed item vocabulary is
    under BROADCAST_ITEMS_MAX (the estimate rides the checkpoint job
    via observe(), no extra job) — a 10^7-item catalog falls back to
    the shuffled join instead of a driver-OOM broadcast build."""
    from pyspark.sql import Observation

    obs = Observation()
    pairs_src = events.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("x")) \
        .dropDuplicates(["b", "x"]) \
        .observe(obs, F.approx_count_distinct("x").alias("n_items")) \
        .localCheckpoint()
    n_items = obs.get["n_items"]

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n_items <= BROADCAST_ITEMS_MAX else df

    n_baskets_df = pairs_src.select("b").distinct() \
        .agg(F.count(F.lit(1)).alias("_nb"))
    singles = pairs_src.groupBy("x").agg(F.count(F.lit(1)).alias("nx"))
    co = (
        pairs_src.join(
            pairs_src.select(F.col("b"), F.col("x").alias("y")), "b")
        .where(F.col("x") != F.col("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    )
    out = (
        co.join(_side(singles), "x")
        .join(_side(
            singles.select(F.col("x").alias("y"),
                           F.col("nx").alias("ny"))), "y")
        .crossJoin(F.broadcast(n_baskets_df))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            "nxy",
            F.round(F.col("nxy") / F.col("_nb"), 6).alias("support"),
            F.round(F.col("nxy") / F.col("nx"), 6).alias("confidence"),
            F.round((F.col("nxy") / F.col("nx"))
                    / (F.col("ny") / F.col("_nb")), 6).alias("lift"))
    )
    if min_support > 0:
        out = out.where(F.col("support") >= min_support)
    return out
