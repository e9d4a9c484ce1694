"""Temporal join operators: distributed as-of join.

Spark has no native ASOF JOIN (TimescaleDB/kdb/DuckDB do); the classic
distributed formulation is the UNION-TAG pattern — no range-join explosion,
no per-key collect:

1. Tag right rows (1) and left rows (0) and union them by name.
2. One window pass per key, ordered by (ts, tag DESC): ``last(right_payload,
   ignorenulls=True)`` carries the most recent right row forward onto every
   subsequent left row. Tag DESC puts an equal-timestamp right row BEFORE
   the left row, so "at-or-before" includes exact ties.
3. Keep the left rows; apply the optional tolerance (max lookback) by
   nulling carried values whose carried ts is too old.

Scale shape: exactly ONE shuffle (the window partition by key). Cost is
O((|L|+|R|) log) for the per-partition sort — compare a naive range join's
O(|L|·|R|) per key blowup. A single pathologically hot key serializes its
window; at 100 TB shard hot keys by time range first (the standard
time-series split), then stitch boundaries with a second small pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autoscan_spark.operators.sqlutil import qcol, qident, reject_reserved


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of join: each left row gets the ``value_cols`` of the most recent
    right row with ``right_ts <= left_ts`` for the same ``by`` key (backward
    direction, inclusive). Left rows with no prior right row keep nulls.

    DETERMINISM: if the right side has several rows at the same
    (by, right_ts), which one wins is undefined (same as any ASOF engine) —
    pre-dedupe the right side to one row per (key, ts) first.

    ``tolerance_seconds``: max lookback — carried values older than
    ``left_ts - tolerance`` are nulled (match dropped, row kept).
    """
    from pyspark.sql.types import StructField, StructType

    # carry the most recent right ROW as ONE struct: a per-column
    # last(ignorenulls) would skip a NULL value in the newest right row and
    # resurrect a stale value from an older one (and then tolerance-check
    # that stale value against the newer row's timestamp) — ASOF semantics
    # are row-based, matching pandas merge_asof / DuckDB ASOF
    payload_type = StructType(
        [StructField("__ts", right.schema[right_ts].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in value_cols]
    )
    r_tag = right.select(
        F.col(by),
        F.col(right_ts).alias("__evt_ts"),
        F.lit(1).alias("__is_right"),
        F.struct(
            F.col(right_ts).alias("__ts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("__asof_row"),
    )
    l_cols = left.columns
    l_tag = (
        left.withColumn("__is_right", F.lit(0))
        .withColumn("__evt_ts", F.col(left_ts))
        .withColumn("__asof_row", F.lit(None).cast(payload_type))
    )
    unioned = l_tag.select(
        *l_cols, "__evt_ts", "__is_right", "__asof_row"
    ).unionByName(r_tag, allowMissingColumns=True)

    # right rows sort before left rows at equal ts → inclusive "at-or-before"
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("__evt_ts").asc(), F.col("__is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*", F.last("__asof_row", ignorenulls=True).over(w).alias("__m")
    ).filter(F.col("__is_right") == 0)

    if tolerance_seconds is not None:
        in_window = F.col("__m").getField("__ts") >= F.col(
            "__evt_ts"
        ) - F.expr(f"INTERVAL {int(tolerance_seconds)} SECONDS")
        sel = [
            F.when(in_window, F.col("__m").getField(c)).alias(c)
            for c in value_cols
        ]
    else:
        sel = [F.col("__m").getField(c).alias(c) for c in value_cols]
    return filled.select(*l_cols, *sel)


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for each step k, the number of users whose
    FIRST occurrences of steps 1..k happened in strictly increasing time
    order (the standard product-analytics funnel definition).

    Shape at scale: conditional ``min(when(type = step, ts))`` per step
    inside ONE groupBy(user) — map-side partial aggregation collapses each
    partition to one row per user before the single shuffle; the final
    per-step counts are a one-row aggregate unpivoted with ``stack``. No
    joins, no window over the raw event stream.

    Output: (step_idx, step, n_users), one row per step.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    firsts = [
        F.min(F.when(F.col(type_col) == s, F.col(ts_col))).alias(f"__t{i}")
        for i, s in enumerate(steps)
    ]
    per_user = events.groupBy(user_col).agg(*firsts)
    reached = []
    cond = F.col("__t0").isNotNull()
    reached.append(cond)
    for i in range(1, len(steps)):
        cond = (
            cond
            & F.col(f"__t{i}").isNotNull()
            & (F.col(f"__t{i}") > F.col(f"__t{i - 1}"))
        )
        reached.append(cond)
    counts = per_user.agg(
        *[F.sum(r.cast("long")).alias(f"__n{i}") for i, r in enumerate(reached)]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', coalesce(`__n{i}`, 0L)" for i, s in enumerate(steps)
    )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {stack_args}) AS (step_idx, step, n_users)"
        )
    ).select(
        F.col("step_idx").cast("int").alias("step_idx"),
        "step",
        F.col("n_users").cast("long").alias("n_users"),
    )


def rolling_time_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window_seconds: int = 3600,
) -> DataFrame:
    """Per-key trailing time-range aggregates: for every event, the count
    and integer-cents value sum of that key's events in the preceding
    ``window_seconds`` (inclusive of the current event) — the feature-
    engineering "activity in the last hour" shape.

    Uses a RANGE frame over epoch SECONDS (``unix_timestamp`` truncates
    sub-second micros, matching DuckDB's ``epoch_us // 1e6`` floor
    division, so both engines place every event in identical frames;
    RANGE frames include all ordering peers, so same-second events are
    symmetric by construction). Values enter as
    ``floor(value*100+0.5)`` BIGINT cents — no float summation order
    sensitivity.

    Scale shape: ONE shuffle (window partition by key) and a
    per-partition sort — Spark evaluates a trailing RANGE frame with a
    sliding two-pointer pass, O(n) per key after the sort, constant
    memory. A pathologically hot key serializes its window: shard hot
    keys by coarse time bucket first and stitch the boundary bucket
    (same playbook as the as-of join above).
    """
    # unix_timestamp, not CAST: Spark 4 ANSI refuses TIMESTAMP_NTZ -> BIGINT.
    # The session pins spark.sql.session.timeZone=UTC (session.py), so a
    # naive timestamp's unix_timestamp equals DuckDB's epoch_us // 1e6.
    esec = F.unix_timestamp(qcol(ts_col))
    cents = F.expr(
        f"CAST(floor({qident(value_col)} * 100 + 0.5) AS BIGINT)"
    )
    w = (
        Window.partitionBy(qcol(key_col))
        .orderBy(esec)
        .rangeBetween(-int(window_seconds), 0)
    )
    return df.select(
        qcol(id_col),
        qcol(key_col),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_win"),
        F.sum(cents).over(w).cast("long").alias("value_cents_win"),
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention-cohort triangle: assign every user to the ISO week
    of their FIRST event (the cohort), then count how many distinct users
    of each cohort are active 0, 1, 2, ... weeks later — the classic
    product-analytics retention matrix (the reference engine's analytics
    tier has no analog; this is the events-table breadth the 100 TB
    pipeline needs).

    Determinism: weeks are ``date_trunc('week', ts)`` (ISO Monday start
    in both Spark and DuckDB, session TZ pinned UTC) and the offset is an
    exact integer ``datediff(days) / 7`` — both engines truncate to the
    same Monday so the division is always exact.

    Scale shape: TWO shuffles — one window ``min(ts) over (partition by
    user)`` to stamp the cohort (no join back; the window carries it
    onto every event row), then one ``groupBy(cohort, offset)`` with
    ``count_distinct(user)``. Partial aggregation handles the distinct
    map-side; no driver-side state. A pathological single hot user only
    widens one window partition.

    Output: (``cohort_week`` 'yyyy-MM-dd' string, ``week_offset`` int,
    ``n_users`` bigint).
    """
    u, t = qcol(user_col), qident(ts_col)
    wu = Window.partitionBy("__u")
    stamped = df.select(
        u.alias("__u"),
        F.expr(f"date_trunc('week', {t})").alias("__ew"),
    ).withColumn("__cw", F.min("__ew").over(wu))
    return (
        stamped.groupBy(
            F.date_format("__cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("__ew"), F.col("__cw")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("__u")).cast("long").alias("n_users"))
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user: for every ordered pair (event_type, next_event_type)
    the transition count and its integer parts-per-million share of all
    transitions leaving that source type — the funnel-discovery /
    session-flow primitive.

    Determinism: events are ordered by (ts, event_id) so equal-timestamp
    events tie-break identically in both engines; the ppm share is
    ``(1e6 * n) DIV total`` integer division (BIGINT on both sides — no
    float, no ANSI overflow).

    Scale shape: ONE wide shuffle (the per-user window for ``lead``),
    then a groupBy on the tiny (type, next_type) domain — partial
    aggregation collapses it map-side, and the final per-source-type
    window runs over at most |types|² rows on one reducer. No join.

    Output: (``event_type``, ``next_type``, ``n_transitions`` bigint,
    ``p_ppm`` bigint).
    """
    reject_reserved(df, ("__next",), "event_transitions")
    w = Window.partitionBy(qcol(user_col)).orderBy(qcol(ts_col), qcol(id_col))
    hops = (
        df.withColumn("__next", F.lead(qcol(type_col)).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(qcol(type_col).alias("event_type"), F.col("__next").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    wt = Window.partitionBy("event_type")
    return (
        hops.withColumn("__tot", F.sum("n_transitions").over(wt))
        .withColumn(
            "p_ppm",
            F.expr(
                "CAST((CAST(1000000 AS BIGINT) * n_transitions) DIV __tot"
                " AS BIGINT)"
            ),
        )
        .drop("__tot")
    )


def hourly_profile(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Hour-of-day activity profile per event type: counts and exact
    integer-ppm share of each type's events per UTC hour — the
    seasonality fingerprint behind load forecasting and anomaly
    baselines.

    Shape: ONE groupBy over the tiny (type × 24) domain, collapsed
    map-side by partial aggregation, then a per-type window over at most
    24 rows per type. Session TZ is pinned UTC so ``hour()`` agrees
    with DuckDB.

    Output: (type_col, ``hour_of_day`` int, ``n_events`` bigint,
    ``share_ppm`` bigint).
    """
    agg = (
        df.groupBy(
            qcol(type_col),
            F.hour(qcol(ts_col)).cast("int").alias("hour_of_day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    wt = Window.partitionBy(qcol(type_col))
    return (
        agg.withColumn("__tot", F.sum("n_events").over(wt))
        .withColumn(
            "share_ppm",
            F.expr(
                "CAST((CAST(1000000 AS BIGINT) * n_events) DIV __tot"
                " AS BIGINT)"
            ),
        )
        .drop("__tot")
    )


def rolling_active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing ``window_days``-day distinct active users per calendar
    day (the WAU/MAU family). Spark windows can't do COUNT(DISTINCT)
    over a RANGE frame, so the classic distributed formulation: reduce
    to distinct (user, day), explode each into the ``window_days``
    future days it stays visible in, and count distinct users per
    target day — turning an unsupported running-distinct into two plain
    aggregations at a bounded ``window_days``× blowup of the already-
    deduplicated (user, day) table (not of the raw events).

    Days where no event lands still appear if they're within
    ``window_days`` after an active day (visibility is real calendar
    arithmetic, not row adjacency); days before the first event don't
    exist. Output is clipped to days <= the corpus max day so the
    explode doesn't fabricate days after the data ends.

    Output: (``day`` 'yyyy-MM-dd' string, ``n_active_users`` bigint).
    """
    reject_reserved(df, ("__d", "__u"), "rolling_active_users")
    # r07 shape: ONE pass. posexplode offset 0 marks the
    # REAL active day, so the corpus max day is recoverable from the
    # days-sized aggregate itself (max over days that contain an
    # offset-0 user) — the r06 separate max-day aggregate re-ran the
    # scan + distinct exchange, and its clip was a broadcast join
    # against every exploded row (2 corpus scans → 1; the clip window
    # runs over the #days-sized aggregate, bounded at any corpus size).
    from pyspark.sql.window import Window

    ud = df.select(
        qcol(user_col).alias("__u"),
        F.to_date(qcol(ts_col)).alias("__d"),
    ).distinct()
    per_day = (
        ud.select(
            "__u",
            F.posexplode(
                F.expr(
                    f"sequence(__d, date_add(__d, {int(window_days) - 1}))"
                )
            ).alias("__off", "__day"),
        )
        .groupBy(F.date_format("__day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count_distinct("__u").cast("long").alias("n_active_users"),
            F.max(F.when(F.col("__off") == 0, F.lit(1))).alias("__real"),
        )
    )
    mx = F.max(F.when(F.col("__real") == 1, F.col("day"))).over(
        Window.partitionBy()
    )
    return (
        per_day.withColumn("__mx", mx)
        .filter(F.col("day") <= F.col("__mx"))
        .select("day", "n_active_users")
    )


def stickiness(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day DAU/WAU stickiness — the product-analytics engagement
    ratio (what share of the trailing-``window_days`` active users came
    back today). Reported as exact integer ppm (``1e6 * dau DIV wau``,
    BIGINT-promoted before the multiply) so the value is bit-stable
    cross-engine.

    Shape: ONE distinct over the (user, day) projection, then two small
    aggregations — DAU directly from the deduped table, WAU via the same
    day-offset-explode trick as ``rolling_active_users`` — joined on the
    day. Both aggregate outputs are #days-sized, so the join is trivial
    at any corpus scale; only days with activity appear (DAU ≥ 1 ⇒ that
    day is inside its own trailing window, so the join never drops a
    DAU day).

    Output: (``day`` 'yyyy-MM-dd' string, ``dau`` bigint, ``wau``
    bigint, ``stickiness_ppm`` bigint).
    """
    reject_reserved(df, ("__d", "__u"), "stickiness")
    # r07 shape: ONE pass. posexplode offset 0 IS the DAU
    # row, so DAU and WAU come out of a single (day) groupBy
    # (dau = distinct offset-0 users, wau = distinct visible users); a
    # day appears in the output iff dau >= 1 — exactly the r06 inner
    # dau ⋈ wau join — and such a day is a real active day, so it is
    # <= the corpus max day by construction and the clip join is
    # unnecessary. The r06 formulation re-evaluated the scan + distinct
    # exchange THREE times (DAU, max-day, WAU explode) and joined two
    # aggregates; now 1 scan, 1 distinct exchange, 1 groupBy, 0 joins.
    ud = df.select(
        qcol(user_col).alias("__u"),
        F.to_date(qcol(ts_col)).alias("__d"),
    ).distinct()
    per_day = (
        ud.select(
            "__u",
            F.posexplode(
                F.expr(
                    f"sequence(__d, date_add(__d, {int(window_days) - 1}))"
                )
            ).alias("__off", "__day"),
        )
        .groupBy(F.date_format("__day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count_distinct(
                F.when(F.col("__off") == 0, F.col("__u"))
            ).cast("long").alias("dau"),
            F.count_distinct("__u").cast("long").alias("wau"),
        )
    )
    return per_day.filter(F.col("dau") >= 1).select(
        "day",
        "dau",
        "wau",
        F.expr("(CAST(1000000 AS BIGINT) * dau) DIV wau").alias(
            "stickiness_ppm"
        ),
    )


def funnel_within(
    events: DataFrame,
    steps: list[str],
    within_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-bounded ordered funnel: step k counts users whose first
    qualifying step-k event happened AFTER their step-(k-1) time and
    within ``within_seconds`` of it (each step's clock restarts at the
    previous step's qualifying event — the "converted within an hour"
    product-analytics definition, stricter than ``funnel_counts``'s
    any-time ordering).

    Shape (r07): ONE pass. Step k's qualifying time is a
    chained conditional min() window over the SAME user partitioning —
    ``__s{k} = min(ts WHERE type = step_k AND __s{k-1} < ts <=
    __s{k-1} + within) OVER (PARTITION BY user)`` — so consecutive
    Window operators share a single user-keyed exchange, the per-user
    step times collapse with a groupBy that REUSES that partitioning
    (no second exchange), and the k counts come from one 1-row
    aggregate unpivoted with ``inline``. The r06 formulation built each
    stage as a filtered groupBy joined against the previous stage's
    frame, which Catalyst planned as a full re-evaluation of every
    earlier stage per step AND per count (k=3 → 6 events scans, 8
    exchanges; now 1 scan, 1 corpus exchange). Deterministic: "first
    qualifying event" is a min() — no ordering ambiguity even with
    equal timestamps.

    Output: (``step_idx`` int, ``step``, ``n_users`` bigint).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    from pyspark.sql.window import Window

    reserved = ("__u", "__t", "__ty") + tuple(
        f"__s{i}" for i in range(len(steps))
    )
    reject_reserved(events, reserved, "funnel_within")
    u, t, ty = qcol(user_col), qcol(ts_col), qcol(type_col)
    typed = events.filter(ty.isin(*steps)).select(
        u.alias("__u"), t.alias("__t"), ty.alias("__ty")
    )
    w = Window.partitionBy("__u")
    cur = typed.withColumn(
        "__s0",
        F.min(F.when(F.col("__ty") == steps[0], F.col("__t"))).over(w),
    )
    within = F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
    for i, s in enumerate(steps[1:], start=1):
        prev = F.col(f"__s{i-1}")
        cond = (
            (F.col("__ty") == s)
            & (F.col("__t") > prev)
            & (F.col("__t") <= prev + within)
        )
        cur = cur.withColumn(
            f"__s{i}", F.min(F.when(cond, F.col("__t"))).over(w)
        )
    # one row per user (window output is constant per user, so max() is
    # that value); the groupBy rides the window's existing partitioning
    per_user = cur.groupBy("__u").agg(
        *[F.max(f"__s{i}").alias(f"__s{i}") for i in range(len(steps))]
    )
    row = per_user.agg(
        *[F.count(f"__s{i}").alias(f"__c{i}") for i in range(len(steps))]
    )
    return row.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("step_idx"),
                        F.lit(steps[i]).alias("step"),
                        F.col(f"__c{i}").cast("long").alias("n_users"),
                    )
                    for i in range(len(steps))
                ]
            )
        )
    )


def zscore_outliers(
    df: DataFrame,
    k: int = 3,
    min_n: int = 5,
    group_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-group z-score outlier gate over a numeric event stream — the
    per-user anomaly detector every product-analytics / abuse pipeline
    runs (flag events more than ``k`` standard deviations from that
    user's own mean).

    Exactness: the float value is fixed to integer cents once
    (``floor(v*100+0.5)``); the z-score test is then evaluated WITHOUT
    division or square roots via the cross-multiplied integer identity

        |v - S/n| > k * sqrt((n*Q - S^2)) / n
            <=>  (n*v - S)^2 > k^2 * (n*Q - S^2)

    with n = count, S = sum(cents), Q = sum(cents^2) per group, all in
    DECIMAL(38,0) — exact integer arithmetic both here and in any ANSI
    oracle (DuckDB evaluates the same identity in INT128), so the flag
    is bit-stable cross-engine. Groups smaller than ``min_n`` never
    flag (a 2-event "distribution" has no meaningful spread).

    Shape: ONE shuffle — count/sum/sum-of-squares are window aggregates
    over the group key sharing a single exchange; the flag itself is a
    per-row JVM comparison. No join-back, no second pass. At 10^12
    events a pathologically hot group serializes its window — pre-split
    hot users by time range first (same guidance as ``asof_join``).

    Output: the flagged rows only, as (group_col, id_col, ``value_c``
    bigint, ``n_events`` bigint).
    """
    if k <= 0 or min_n < 1:
        raise ValueError(f"need k > 0 and min_n >= 1, got k={k} min_n={min_n}")
    reject_reserved(df, ("__vc", "__n", "__s", "__q"), "zscore_outliers")
    w = Window.partitionBy(qcol(group_col))
    vc = F.expr(
        f"CAST(floor({qident(value_col)} * 100 + 0.5) AS BIGINT)"
    )
    return (
        df.select(
            qcol(group_col), qcol(id_col), vc.alias("__vc")
        )
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__s", F.sum("__vc").over(w))
        .withColumn(
            "__q",
            F.sum(F.expr("CAST(__vc AS DECIMAL(38,0)) * __vc")).over(w),
        )
        .filter(
            (F.col("__n") >= min_n)
            & F.expr(
                "(CAST(__n AS DECIMAL(38,0)) * __vc - __s)"
                " * (CAST(__n AS DECIMAL(38,0)) * __vc - __s)"
                f" > {int(k) * int(k)}"
                " * (CAST(__n AS DECIMAL(38,0)) * __q"
                "    - CAST(__s AS DECIMAL(38,0)) * __s)"
            )
        )
        .select(
            qcol(group_col),
            qcol(id_col),
            F.col("__vc").alias("value_c"),
            F.col("__n").cast("long").alias("n_events"),
        )
    )


def interevent_stats(
    df: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user inter-event gap statistics — the cadence profile behind
    bot detection, session-timeout calibration, and activity-based
    sampling. Gaps are exact epoch-second differences between
    consecutive events (ties allowed, gap 0), so min/max/avg are all
    integers (avg = BIGINT-promoted integer DIV) and bit-stable
    cross-engine. Users with a single event emit nothing (no gap).

    Shape: ONE shuffle — the lag window and the groupBy share the group
    key, so Catalyst reuses a single exchange (same pattern as
    ``conversation_hygiene``).

    Output: (group_col, ``n_gaps`` bigint, ``min_gap_s`` bigint,
    ``max_gap_s`` bigint, ``avg_gap_s`` bigint).
    """
    reject_reserved(df, ("__es", "__gap"), "interevent_stats")
    # ties in ts sort arbitrarily, but the multiset of adjacent
    # differences of a sorted sequence is tie-order-independent, so
    # every gap statistic below is still deterministic. NTZ→timestamp→
    # long reads epoch seconds under the session timezone (pinned UTC in
    # session.get_spark); gap DIFFERENCES are additionally invariant to
    # any fixed-offset timezone
    es = qcol(ts_col).cast("timestamp").cast("long")
    return (
        df.select(qcol(group_col), es.alias("__es"))
        .withColumn("__gap", F.col("__es") - F.lag("__es").over(
            Window.partitionBy(qcol(group_col)).orderBy(F.col("__es"))
        ))
        .filter(F.col("__gap").isNotNull())
        .groupBy(qcol(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("__gap").cast("long").alias("min_gap_s"),
            F.max("__gap").cast("long").alias("max_gap_s"),
            F.expr("sum(__gap) DIV count(1)").cast("long").alias("avg_gap_s"),
        )
    )


def weekly_churn(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-week churn report: of the users active in ISO week w, how many
    have NO event in week w+1 — the retention complement every
    engagement dashboard tracks (cohort triangles show who returns;
    churn shows who leaves, week by week).

    The corpus' final week is excluded: churn out of the observation
    window is undefined, not zero. Exact integer ppm (BIGINT promote).

    Shape: one distinct over the (user, week) projection, one
    user-keyed lead() window over that (weeks-per-user sized), then a
    #weeks-sized aggregate; the max-week bound broadcasts as a one-row
    join. Weeks are Monday-truncated dates (``date_trunc('week')`` —
    identical in Spark and ANSI engines), formatted 'yyyy-MM-dd'.

    Output: (``week`` string, ``n_active`` bigint, ``n_churned``
    bigint, ``churn_ppm`` bigint).
    """
    reject_reserved(df, ("__wk", "__nw", "__mx", "__ch"), "weekly_churn")
    uw = df.select(
        qcol(user_col).alias("__u"),
        F.to_date(F.date_trunc("week", qcol(ts_col))).alias("__wk"),
    ).distinct()
    w = Window.partitionBy("__u").orderBy("__wk")
    mx = uw.agg(F.max("__wk").alias("__mx"))
    flagged = (
        uw.withColumn("__nw", F.lead("__wk").over(w))
        .join(F.broadcast(mx), F.col("__wk") < F.col("__mx"))
        .withColumn(
            "__ch",
            (
                F.col("__nw").isNull()
                | (F.col("__nw") > F.date_add(F.col("__wk"), 7))
            ).cast("int"),
        )
    )
    return flagged.groupBy(
        F.date_format("__wk", "yyyy-MM-dd").alias("week")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum("__ch").cast("long").alias("n_churned"),
        F.expr(
            "(CAST(1000000 AS BIGINT) * sum(__ch)) DIV count(1)"
        ).alias("churn_ppm"),
    )
