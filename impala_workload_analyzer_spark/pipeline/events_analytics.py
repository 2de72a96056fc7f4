"""Event-stream analytics over the ``events`` fixture (batch form):
tumbling / sliding windows, gap-based sessionization, JSON props
extraction. The reference has no streaming surface (SURVEY.md §2.11) — these
are the planned extensions, all oracle-checked; ``streaming.stream_queries``
runs the tumbling agg as a real Structured Streaming job against the same
oracle.

Portability: window starts are emitted as epoch seconds (BIGINT) —
timestamp collection is timezone-fragile across engines; double sums go
through DECIMAL(18,6) accumulation (``_stable_sum``) so the result is
independent of partial-agg accumulation order — a plain double SUM can
flip its last bits between runs/engines on near-ties, which flakes the
driver's exact value hash (ev3, round 2).

Scale notes (100 TB): ev1/ev2 are single-shuffle hash aggs keyed by
(window, type) — at cluster scale the key space is tiny, so partial
aggregation collapses almost everything map-side. ev3 shuffles once on
user_id then does a linear in-partition scan (window + running sum) —
the canonical sessionization plan; skewed users are the known hot spot
(AQE skew handling or user-salting with session re-merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache_util import cache_dir, session_memo
from ..io import load_table

_GAP_MIN = 30  # session gap


def _stable_sum(col: str):
    """Order-independent float sum: round each value to DECIMAL(18,6)
    (exact, commutative integer arithmetic underneath), sum, cast back to
    DOUBLE. Twin of the oracle-side
    ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)``."""
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double")


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev1 — 1-hour tumbling windows x event_type: count + value sum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _stable_sum("value").alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev2 — 1-hour windows sliding every 30 minutes (each event lands in
    exactly 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), _stable_sum("value").alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev3 — gap-based sessionization (30-min inactivity): gaps-and-islands
    via lag + running sum, then per-session rollup. The batch twin of
    ``F.session_window``."""
    ev = load_table(spark, sf_dir, "events").withColumn("t", F.unix_micros("ts"))
    order = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("t").over(order).isNull()
            | (F.col("t") - F.lag("t").over(order) > _GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return sess.groupBy("user_id", "session_id").agg(
        F.min("t").alias("session_start_us"),
        F.max("t").alias("session_end_us"),
        F.count("*").alias("n_events"),
        _stable_sum("value").alias("total_value"),
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev5 — AS-OF JOIN: for each purchase, the latest click by the same
    user at or before the purchase time (ties on click ts resolved to the
    max event_id in both engines).

    Spark has no native as-of join; the scale-correct re-expression is
    UNION + WINDOW: tag both sides, sort by (ts, side) within user —
    side 0 (click) before side 1 (purchase) makes the match inclusive —
    and carry the last non-null click attributes forward with
    ``last(..., ignorenulls=True)``. ONE shuffle on user_id, a linear
    in-partition scan, zero pairwise-join fanout — the same plan shape
    financial tick stores use for quote-trade as-of joins. The DuckDB
    oracle uses its native ``ASOF LEFT JOIN``."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.max("event_id").alias("r_event_id"))
        .select(
            "user_id", "ts_us", F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("l_event_id"), "r_event_id",
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("l_event_id"),
        F.lit(None).cast("long").alias("r_event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = clicks.unionByName(purchases).select(
        "*",
        F.last("r_event_id", ignorenulls=True).over(w).alias("click_event_id"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts_us")), ignorenulls=True
        ).over(w).alias("click_us"),
    )
    return tagged.filter(F.col("side") == 1).select(
        F.col("l_event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        "click_event_id",
        "click_us",
        (F.col("ts_us") - F.col("click_us")).alias("gap_us"),
    )


_RANGE_US = 3_600_000_000  # 1 hour


def range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev6 — RANGE JOIN: per purchase, how many clicks the same user made
    in the preceding hour [ts - 1h, ts).

    A naive inequality join degenerates to per-user cross products; the
    scale shape is the BANDED range join: bucketize time by the range
    width, explode each probe row to its two candidate buckets, equi-join
    on (user, bucket) — bounded fanout of 2 — then apply the exact range
    predicate. Catalyst executes the band as a hash join; only in-band
    pairs pay the filter."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_us"),
        (F.unix_micros("ts") / _RANGE_US).cast("long").alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("p_us")
    )
    probes = purchases.select(
        "*",
        F.explode(
            F.array(
                (F.col("p_us") / _RANGE_US).cast("long"),
                (F.col("p_us") / _RANGE_US).cast("long") - 1,
            )
        ).alias("bucket"),
    )
    hits = probes.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("c_us") >= F.col("p_us") - _RANGE_US) & (F.col("c_us") < F.col("p_us"))
    )
    counted = hits.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_clicks_prev_hour")
    )
    return (
        purchases.join(counted, ["event_id", "user_id"], "left")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.coalesce("n_clicks_prev_hour", F.lit(0)).alias("n_clicks_prev_hour"),
        )
    )


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev7 — hypertable-style multi-resolution rollup (the continuous-
    aggregate pattern): minute-level partial aggregates per event_type,
    with the hour level derived FROM the minute partials and the day
    level from the hour partials — never re-scanning raw events. That
    partial-reuse cascade is what makes 100 TB time-series rollups cheap:
    each coarser resolution aggregates ~60x fewer rows than the one
    below, and count/sum are decomposable so the cascade is exact. Output
    is the union of all three resolutions tagged by level."""
    ev = load_table(spark, sf_dir, "events")
    minute = (
        ev.groupBy(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 60) * 60).alias("bucket_start"),
        )
        .agg(F.count("*").alias("n_events"), F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"))
    )
    hour = (
        minute.groupBy(
            "event_type",
            (F.floor(F.col("bucket_start") / 3600) * 3600).alias("bucket_start"),
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
    )
    day = (
        hour.groupBy(
            "event_type",
            (F.floor(F.col("bucket_start") / 86400) * 86400).alias("bucket_start"),
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
    )
    out = None
    for level, df in (("minute", minute), ("hour", hour), ("day", day)):
        tagged = df.select(
            F.lit(level).alias("level"),
            "event_type",
            F.col("bucket_start").cast("long").alias("bucket_start"),
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


_TOPK_USERS = 3


def windowed_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev8 — windowed HEAVY HITTERS: per 1-hour tumbling window, the top-3
    users by event count (ties to the lower user_id).

    Scale shape: partial-aggregate to (window, user) counts first — the
    only full-data shuffle — then rank WITHIN each window partition; the
    rank window's key space is (windows), each holding at most
    (active users/window) pre-aggregated rows, so no global sort and no
    skew beyond genuinely hot windows. The classic top-k-per-group plan."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id").agg(
        F.count("*").alias("n_events"), _stable_sum("value").alias("total_value")
    )
    rk = Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        per.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rank") <= _TOPK_USERS)
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "user_id",
            "n_events",
            "total_value",
            "rank",
        )
    )


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev4 — JSON extraction from the ``props`` string column + rollup by
    event_type over the extracted key."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(F.avg(F.col("k").cast("double")), 6).alias("avg_k"),
        F.count_distinct("k").alias("distinct_k"),
    )


_EV1_ORACLE = """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2"""

_GAP_US = 30 * 60 * 1_000_000
_SALT_BUCKET_US = 86_400 * 1_000_000  # 1-day salt buckets


def sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev11 — ev3's sessionization under a SALTED two-level plan: the
    skew-proof variant for hot users (VERDICT r04 named per-user windowing
    as ev3's known 100 TB hot spot).

    Level 1 partitions by (user_id, day): a user's events split across
    day buckets, so one hot user parallelizes across executors and no
    single task ever holds a whole user. Each bucket runs the ordinary
    gaps-and-islands window and reduces events to per-bucket session
    summaries. Level 2 re-merges ONLY the session summaries per user —
    volume is |sessions|, not |events| — with one light window: a
    session continues across a bucket boundary iff the cross-boundary
    gap is within the session gap (a 30-min gap can span at most one
    midnight, but the merge rule is general: consecutive-by-time
    summaries chain while gaps stay small). Output is bit-identical to
    ev3 (shares its oracle): ordinal ids, exact decimal value sums.

    Trade: +1 shuffle (events keyed by (user, day), then summaries by
    user) vs ev3's single shuffle — the classic salting price, paid only
    to break skew."""
    ev = load_table(spark, sf_dir, "events").withColumn("t", F.unix_micros("ts"))
    ev = ev.withColumn("day", (F.col("t") / F.lit(_SALT_BUCKET_US)).cast("bigint"))
    order = Window.partitionBy("user_id", "day").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_local",
        F.when(
            F.lag("t").over(order).isNull()
            | (F.col("t") - F.lag("t").over(order) > _GAP_US),
            1,
        ).otherwise(0),
    )
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = flagged.withColumn("local_sid", F.sum("new_local").over(run))
    summaries = local.groupBy("user_id", "day", "local_sid").agg(
        F.min("t").alias("min_t"),
        F.max("t").alias("max_t"),
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("val"),
    )
    merge_order = Window.partitionBy("user_id").orderBy("min_t")
    merged = summaries.withColumn(
        "new_session",
        F.when(
            F.lag("max_t").over(merge_order).isNull()
            | (F.col("min_t") - F.lag("max_t").over(merge_order) > _GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            merge_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return merged.groupBy("user_id", "session_id").agg(
        F.min("min_t").alias("session_start_us"),
        F.max("max_t").alias("session_end_us"),
        F.sum("n").alias("n_events"),
        F.sum("val").cast("double").alias("total_value"),
    )


_FUNNEL_STEPS = ("view", "click", "purchase")


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev9 — weekly retention cohorts: cohort = Monday of a user's first
    event week; for each (cohort_week, week_offset), distinct active
    users and retention vs the cohort's size.

    Scale shape: ONE full-data shuffle (user_id) producing each user's
    cohort and distinct active weeks together; exploding the per-user
    week set then re-aggregating on (cohort, offset) counts each user
    once with a plain COUNT — no count_distinct over the raw stream, and
    the post-explode volume is |users| x weeks-per-user, already deduped.
    Cohort sizes derive from the same per-user pass and broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.date_trunc("week", "ts")).alias("week")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("weeks"),
    )
    exploded = per_user.select(
        "cohort_week", F.explode("weeks").alias("week")
    ).withColumn(
        "week_offset",
        ((F.col("week") - F.col("cohort_week")) / F.lit(604800)).cast("bigint"),
    )
    sizes = per_user.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    out = exploded.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    return out.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 9).alias("retention"),
    )


def _funnel_times(ev: DataFrame) -> list[DataFrame]:
    """Per-step first-conversion times (user_id, t) for the ordered
    funnel: step N converts on the first event of step N's type STRICTLY
    after the user's step N-1 conversion. ONE implementation of the
    ordering rule, shared by ev10 (rates) and ev18 (latencies), so the
    two views can never desynchronize."""
    stage = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    out = [stage]
    for step in _FUNNEL_STEPS[1:]:
        stage = (
            ev.filter(F.col("event_type") == step)
            .join(stage, "user_id")
            .filter(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        out.append(stage)
    return out


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev10 — ordered funnel over view -> click -> purchase
    (``_funnel_times``). Output: one row per step with user count and
    conversion rate vs step 1.

    Scale shape: one filtered agg per step, each keyed by user_id; joins
    are user-keyed and reuse the same hash partitioning, so the whole
    funnel is a linear chain of co-partitioned narrow steps after the
    first shuffle. Step count is a constant (3), not data-driven."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    step_rows = [
        stage.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).cast("bigint").alias("step"),
            F.lit(step).alias("event_type"),
            F.col("n_users"),
        )
        for i, (step, stage) in enumerate(zip(_FUNNEL_STEPS, _funnel_times(ev)))
    ]
    out = step_rows[0]
    for r in step_rows[1:]:
        out = out.unionByName(r)
    # conversion vs step 1 — a 3-row single-partition window, not a collect
    base = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return out.select(
        "step",
        "event_type",
        "n_users",
        F.round(
            F.col("n_users")
            / F.max(F.when(F.col("step") == 1, F.col("n_users"))).over(base),
            9,
        ).alias("conversion"),
    )


_KMV_K = 64  # k-minimum-values sketch size
_H60 = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"  # 60-bit hash


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev14 — KMV (k-minimum-values) distinct-count sketch per event_type,
    next to the exact count and its realized relative error. Unlike HLL,
    the KMV estimate is a pure function of the k smallest 60-bit hashes —
    deterministic and engine-exact, so the sketch itself is oracle-checked
    (a19's GK quantile twin is the same pattern for rank queries).
    Estimator: exact when n <= k, else (k-1) / (h_k / 2^60) with h_k the
    k-th smallest distinct hash (Bar-Yossef et al. 2002).

    Scale: at fixture scale the k-minimum set derives from a distinct +
    rank plan; a production stream replaces it with a bounded-state
    aggregator (k hashes per group — the whole point of the sketch), the
    estimator arithmetic unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hashes = ev.select(
        "event_type",
        F.expr(_H60.format(x="CAST(user_id AS STRING)")).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    per_type = (
        hashes.withColumn("rk", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("hk"),
        )
    )
    est = F.when(
        F.col("n_distinct") <= _KMV_K, F.col("n_distinct").cast("double")
    ).otherwise((_KMV_K - 1) * 2.0**60 / F.col("hk").cast("double"))
    return per_type.select(
        "event_type",
        "n_distinct",
        F.round(est, 6).alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("n_distinct")) / F.col("n_distinct").cast("double"),
            6,
        ).alias("rel_error"),
    )


def hll_distinct_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev31 — HLL++ distinct-count certificate per event_type: the exact
    user distinct (oracle-checked) beside a certificate that Spark's
    ``approx_count_distinct`` (HyperLogLog++, rsd=0.05) landed within 3x
    its configured standard error. The HLL register state is
    implementation-defined — no cross-engine twin exists (ev14's KMV is
    the deterministic alternative for that) — so the estimate itself
    stays internal and the published row carries the a19 sketch-twin
    pattern: the exact value plus a boolean the DuckDB oracle asserts
    literally TRUE. Deterministic for fixed data + implementation, so
    the certificate is exact-bit stable across runs and scales.

    PINNED to the HyperLogLog++ implementation in this repo's Spark
    runtime (4.1.x): the literal-TRUE oracle means a future Spark
    upgrade that changes the HLL++ estimator (or new data landing a
    group near the 3-sigma edge) can flip a row and fail the gate even
    though the sketch is behaving as specified — that failure mode is
    version drift, not a data bug (ADVICE r14). On such a flip:
    re-witness on the new runtime, and if a group genuinely sits
    outside 3x rsd, re-baseline via ev14's deterministic KMV twin
    before widening the bound.

    Scale: this is THE distinct-count plan at 100 TB — single-pass,
    mergeable, O(registers) state per group, never a shuffle of the
    distinct values themselves; the exact COUNT(DISTINCT) here is the
    certificate's yardstick, which a production deployment replaces
    with the sketch alone (or audits on a sampled stratum)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
        F.expr("approx_count_distinct(user_id, 0.05)").alias("est"),
    )
    return per.select(
        "event_type",
        "n_exact",
        (F.abs(F.col("est") - F.col("n_exact"))
         <= 3 * 0.05 * F.col("n_exact")).alias("within_bound"),
    )


_DELAYS_PER_CHUNK = 1_000_000  # one rank task handles ~1M (delay, user) rows


def _funnel_delays(ev: DataFrame) -> DataFrame:
    """Per-user conversion delays for each consecutive funnel step pair —
    the input rows of ev18's quantiles."""
    times = _funnel_times(ev)
    pair_frames = []
    for i in range(len(_FUNNEL_STEPS) - 1):
        a = times[i].select("user_id", F.col("t").alias("t_from"))
        b = times[i + 1].select("user_id", F.col("t").alias("t_to"))
        pair_frames.append(
            a.join(b, "user_id").select(
                F.lit(f"{_FUNNEL_STEPS[i]}->{_FUNNEL_STEPS[i + 1]}")
                .alias("step_pair"),
                "user_id",
                (F.unix_micros("t_to") - F.unix_micros("t_from")).alias("delay_us"),
            )
        )
    delays = pair_frames[0]
    for f in pair_frames[1:]:
        delays = delays.unionByName(f)
    return delays


def _ranked_delays(delays: DataFrame, target_chunks: int) -> DataFrame:
    """(step_pair, delay_us, rn, n): each delay's 1-based rank in the
    (delay_us, user_id) ascending order within its step pair, plus the
    pair's row count — the inputs of exact rank-arithmetic quantiles.

    ``target_chunks <= 1`` is the one-window exact path. Above it the
    rank is computed two-phase (the w1 construction): rows chunk by a
    monotone function of delay_us, phase 1 ranks inside (pair, chunk)
    partitions — ``step_pair`` alone has CONSTANT cardinality, so without
    chunking every pair's whole user population would sort in one task —
    and phase 2 adds broadcast per-chunk prefix-count offsets. Equal
    delays always share a chunk, so the user_id tie-break stays inside
    one partition and global ranks are exact."""
    if target_chunks <= 1:
        w = Window.partitionBy("step_pair").orderBy("delay_us", "user_id")
        wp = Window.partitionBy("step_pair")
        return delays.select(
            "step_pair",
            "delay_us",
            F.lit(0).alias("chunk"),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wp).alias("n"),
        )
    bounds = delays.groupBy("step_pair").agg(
        F.min("delay_us").alias("lo"), F.max("delay_us").alias("hi")
    )
    ch = (
        delays.join(F.broadcast(bounds), "step_pair")
        .withColumn(
            "chunk",
            F.floor(
                (F.col("delay_us") - F.col("lo")).cast("decimal(28,0)")
                * target_chunks
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
        )
        .drop("lo", "hi")
    )
    wl = Window.partitionBy("step_pair", "chunk").orderBy("delay_us", "user_id")
    local = ch.select(
        "step_pair", "chunk", "delay_us", "user_id",
        F.row_number().over(wl).alias("lrn"),
    )
    wc = Window.partitionBy("step_pair").orderBy("chunk")
    # chunk counts aggregate from the window OUTPUT (already partitioned
    # on (step_pair, chunk)), so the groupBy reuses phase 1's shuffle
    stats = (
        local.groupBy("step_pair", "chunk")
        .agg(F.count("*").alias("cnt"))
        .select(
            "step_pair",
            "chunk",
            F.coalesce(
                F.sum("cnt").over(wc.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("offset"),
            F.sum("cnt")
            .over(wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("n"),
        )
    )
    return local.join(F.broadcast(stats), ["step_pair", "chunk"]).select(
        "step_pair",
        "delay_us",
        "chunk",
        (F.col("lrn") + F.col("offset")).alias("rn"),
        "n",
    )


def _quantile_rollup(ranked: DataFrame) -> DataFrame:
    """Exact p50/p90/max from ranked delays. Ranks are INTEGER
    arithmetic — k = ceil(q*n) computed as (n+1) div 2 and (9n+9) div 10
    — so n=10 yields rank 9, never the 10 that double arithmetic's
    10*0.9 = 9.000000000000002 would ceil to."""
    return ranked.groupBy("step_pair").agg(
        F.max("n").alias("n_users"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("delay_us"))
        ).alias("p50_us"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("delay_us"))
        ).alias("p90_us"),
        F.max("delay_us").alias("max_us"),
    )


def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev18 — funnel TIME-TO-CONVERT: for each consecutive step pair of
    ev10's ordered funnel, the per-user delay between conversions, and
    its exact p50/p90/max by rank arithmetic (k-th smallest at
    k = ceil(q*n) in integer arithmetic, user_id tie-break — the a18
    exact-quantile pattern, so the DuckDB oracle is value-identical, no
    engine quantile() interpolation). The number a growth team reads
    next to ev10's rates: not just HOW MANY users convert, but how long
    conversion takes.

    Scale: conversion times reuse ev10's user-keyed chain. step_pair has
    CONSTANT cardinality, so a plain per-pair rank window would sort
    each pair's entire user population in one task; above
    ``_DELAYS_PER_CHUNK`` rows per pair the rank switches to the
    two-phase chunked construction w1 uses (``_ranked_delays``,
    plan-pinned by ``test_funnel_latency_two_phase``). The sizing count
    is the events row count — an upper bound on per-pair delays — one
    cheap metadata-only job, memoized per (session, corpus)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    target_chunks = min(
        session_memo(spark, sf_dir, "ev18_n_events", ev.count) // _DELAYS_PER_CHUNK,
        spark.sparkContext.defaultParallelism * 4,
    )
    return _quantile_rollup(_ranked_delays(_funnel_delays(ev), target_chunks))


_ATTR_WINDOWS_H = (1, 2, 4, 8, 24, 168)  # attribution-window grid, hours


def funnel_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev22 — ATTRIBUTION-WINDOW sensitivity sweep: for each consecutive
    funnel step pair, the conversions landing within each cutoff of the
    window grid, as a count and as a fraction of the step's ELIGIBLE
    users (those who completed the from-step). This is the curve that
    picks an attribution window — widen it until the count plateaus;
    past the knee a longer window only admits coincidence — read next
    to ev18's latency quantiles and ev15's watermark sizing.

    Scale: delays reuse ev10/ev18's shared user-keyed funnel chain; each
    delay maps to its grid bucket by an INTEGER comparison sum
    (engine-exact, no float boundaries) and collapses to a
    (pair x bucket) histogram; the cumulative-within-window join runs
    over that constant-size table, never the delays — the ev21/tx21
    histogram construction on the funnel-delay axis. Eligible counts are
    a per-pair scalar joined broadcast."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    delays = _funnel_delays(ev)
    bucket = sum(
        (F.col("delay_us") > h * 3_600_000_000).cast("int")
        for h in _ATTR_WINDOWS_H
    )
    hist = (
        delays.withColumn("bucket", bucket)
        .groupBy("step_pair", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    times = _funnel_times(ev)
    elig_rows = [
        times[i]
        .agg(F.count("*").alias("eligible"))
        .select(
            F.lit(f"{_FUNNEL_STEPS[i]}->{_FUNNEL_STEPS[i + 1]}").alias("step_pair"),
            "eligible",
        )
        for i in range(len(_FUNNEL_STEPS) - 1)
    ]
    elig = elig_rows[0]
    for r in elig_rows[1:]:
        elig = elig.unionByName(r)
    wins = spark.createDataFrame(
        [(i, h) for i, h in enumerate(_ATTR_WINDOWS_H)], ["k", "window_hours"]
    )
    grid = elig.crossJoin(F.broadcast(wins))
    conv = (
        grid.join(
            hist,
            (grid["step_pair"] == hist["step_pair"])
            & (hist["bucket"] <= grid["k"]),
            "left",
        )
        .groupBy(grid["step_pair"], "window_hours", "eligible")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_converted"))
    )
    return conv.select(
        "step_pair",
        F.col("window_hours").cast("bigint").alias("window_hours"),
        "n_converted",
        F.round(
            F.col("n_converted") / F.col("eligible").cast("double"), 9
        ).alias("conversion_rate"),
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev19 — per-user event-type TRANSITION MATRIX: each user's events in
    (ts, event_id) order yield (from_type -> to_type) bigram counts, and
    each from-row normalizes to transition probabilities — the first-order
    Markov model of user behavior that sessionization (ev3), funnels
    (ev10/ev18) and anomaly scans (ev12) all implicitly assume; this op
    makes it a measured table.

    Scale: ONE user-keyed shuffle for the lead() window (the same key
    every per-user analytic here shuffles on), then a (from, to) count agg
    whose output is bounded by event-type-cardinality squared — the
    normalizing window runs over that tiny aggregate, never the events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.withColumn("to_type", F.lead("event_type").over(w)).filter(
        F.col("to_type").isNotNull()
    )
    counts = trans.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf).cast("double"), 9).alias("prob"),
    )


_CADENCE_MIN_GAPS = 5    # below this, no cadence claim
_CADENCE_CV_TAU = 0.25   # coefficient of variation under this -> machine-like


def cadence_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev20 — BOT/AUTOMATION detection by inter-event cadence: per user,
    the gaps between consecutive events (ts, event_id order) summarize to
    count, floor-mean, and coefficient of variation (stddev/mean);
    near-zero CV is the machine signature — humans are bursty, cron jobs
    are metronomes. The standard abuse-filter input for both product
    analytics and training-data curation (scripted content farms).

    Float discipline: gap sums and sums of squares accumulate as exact
    DECIMAL (gaps fit DECIMAL(19,0); squares DECIMAL(38,0)), then both
    engines evaluate the identical double expression for CV — partial-agg
    order can never move the gate value. One user-keyed shuffle for the
    lead() window; the agg reuses its partitioning."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn(
            "gap", F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        )
        .filter(F.col("gap").isNotNull())
        .select("user_id", F.col("gap").cast("decimal(19,0)").alias("gap"))
    )
    agg = gaps.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("gap").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    var = F.col("s2").cast("double") / F.col("n_gaps") - mean * mean
    cv = F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 9)
    return agg.filter(F.col("n_gaps") >= _CADENCE_MIN_GAPS).select(
        "user_id",
        "n_gaps",
        F.expr("CAST(FLOOR(CAST(s1 AS DOUBLE) / n_gaps) AS BIGINT)").alias(
            "mean_gap_us"
        ),
        cv.alias("cv"),
        (cv <= _CADENCE_CV_TAU).alias("is_regular"),
    )


_CMS_D = 4       # hash rows
_CMS_W = 256     # buckets per row
_CMS_TOP = 20    # report the top-N true heavy hitters


def cms_buckets() -> "F.Column":
    """The sketch's bucket array for one event row: _CMS_D md5-derived
    bucket ids seeded 'i:user_id' — the SINGLE definition of the CMS
    hash family, shared by ev17 (batch), st8 (streaming twin), and the
    cell-equality test, so the seeding can never drift between them."""

    def bucket(i: int) -> "F.Column":
        seeded = "CONCAT('%d:', CAST(user_id AS STRING))" % i
        return F.expr(f"CAST({_H60.format(x=seeded)} % {_CMS_W} AS INT)")

    return F.array(*[bucket(i) for i in range(_CMS_D)])


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev17 — COUNT-MIN SKETCH per-user event counts next to exact truth:
    a _CMS_D x _CMS_W sketch built in one pass, then each key's estimate
    = min over rows of its bucket count (Cormode & Muthukrishnan 2005).
    Output: the top-_CMS_TOP true heavy hitters with true count, CMS
    estimate, and the overestimate (always >= 0 — the sketch's one-sided
    guarantee, asserted in tests). Completes the sketch family: a19 GK
    (rank queries), ev14 KMV (distinct counts), ev17 CMS (point counts).

    Deterministic md5-derived bucket hashes make the sketch itself
    engine-exact, so the DuckDB oracle checks the sketch, not just the
    truth. Scale: the build explodes each event into _CMS_D (row, bucket)
    pairs but partial aggregation collapses them map-side — the shuffle
    carries at most D x W rows per partition; the finished sketch (1024
    cells) broadcasts to the probe join, and the truth agg is the one
    full-data shuffle. The top-N cut is a distributed sort-limit."""
    ev = load_table(spark, sf_dir, "events")
    buckets = cms_buckets()
    sketch = (
        ev.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("c"))
    )
    keys = ev.groupBy("user_id").agg(F.count("*").alias("true_count"))
    probes = keys.select(
        "user_id", "true_count",
        F.posexplode(buckets).alias("row", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        est.orderBy(F.desc("true_count"), F.asc("user_id"))
        .limit(_CMS_TOP)
        .select(
            "user_id", "true_count", "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
        )
    )


def disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev15 — event-time disorder profile: per event_type, how far behind
    the running event-time high-water mark late events arrive (arrival
    order = event_id, the append order of the stream). This is the
    measurement that SIZES a watermark: st1-st7's `withWatermark` delays
    are justified by the max/mean lateness this op reports.

    Scale: the prefix-max is per-type (watermark reasoning is per
    stream/key); a single global stream would use the same two-phase
    distributed prefix scan w1 uses above its chunk threshold
    (operators/concurrency.py) instead of one ordered partition."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    us = F.unix_micros("ts")
    scored = ev.select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("seen"),
    ).select(
        "event_type",
        F.when(
            F.col("seen").isNull() | (F.col("seen") <= F.col("us")), F.lit(0)
        ).otherwise(F.col("seen") - F.col("us")).alias("disorder_us"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("disorder_us") > 0).cast("bigint")).alias("n_late"),
        F.max("disorder_us").alias("max_disorder_us"),
        F.round(
            F.sum("disorder_us") / F.count("*").cast("double"), 6
        ).alias("avg_disorder_us"),
    )


def seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev16 — weekly seasonality profile: events bucketed into the
    (day-of-week, hour-of-day) grid per event_type, with counts and the
    decimal-stable value sum — the traffic-heatmap behind capacity
    planning and the ev13 baseline choice. Day-of-week and hour derive
    from pure epoch arithmetic ((days since 1970-01-01 + 4) mod 7 —
    1970-01-01 was a Thursday) so both engines compute identical
    integers with no timezone/locale DOW conventions involved.

    Scale: a single partial-agg'd groupBy over a 7x24x|types| key space —
    collapses almost entirely map-side at any volume."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    return (
        ev.groupBy(
            ((F.floor(epoch / 86400) + 4) % 7).cast("bigint").alias("dow"),
            F.floor((epoch % 86400) / 3600).cast("bigint").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            _stable_sum("value").alias("total_value"),
        )
    )


_RATE_TAU = 2.0    # alert when an hour's count reaches 2x its trailing mean
_RATE_LOOKBACK = 24  # trailing observed hourly buckets in the baseline


def rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev13 — traffic rate alerting: per event_type, an hourly bucket
    alerts when its event count reaches _RATE_TAU times the mean of the
    _RATE_LOOKBACK preceding OBSERVED buckets (a full lookback of history
    required — the warm-up). "Observed buckets" (ROWS frame), not wall
    hours: gaps in sparse streams shrink the baseline window rather than
    zero-diluting it, and the frame is engine-exact where a RANGE frame
    over missing hours would need a zero-filled spine.

    Scale: one shuffle for the hourly pre-agg (the raw stream never
    re-shuffles); the window then runs over ~(types x hours) rows —
    pre-agg'd data orders of magnitude smaller than the input. Float
    determinism: the baseline mean is an exact integer sum / constant,
    identical across engines; the alert compare is on that exact value."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_start").rowsBetween(
        -_RATE_LOOKBACK, -1
    )
    scored = hourly.select(
        "hour_start", "event_type", "n_events",
        F.avg("n_events").over(w).alias("baseline"),
        F.count("n_events").over(w).alias("n_prev"),
    )
    return (
        scored.filter(
            (F.col("n_prev") >= _RATE_LOOKBACK)
            & (F.col("n_events") >= _RATE_TAU * F.col("baseline"))
        )
        .select(
            "hour_start", "event_type", "n_events",
            F.round("baseline", 6).alias("baseline"),
            F.round(F.col("n_events") / F.col("baseline"), 6).alias("rate_ratio"),
        )
    )


_Z_TAU = 3  # |z| threshold for outlier flagging


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev12 — per-event-type z-score outlier detection: events whose value
    deviates more than _Z_TAU sample standard deviations from the type
    mean. The classic two-pass anomaly scan: a tiny per-type stats
    aggregate, broadcast back over the stream, filter.

    Scale shape: pass 1 is a partial-agg'd groupBy over ~5 keys (bytes of
    state per executor); pass 2 is a broadcast join + filter fused into
    the scan — no shuffle of the event stream itself. Cross-engine
    floats: the filter and output use z ROUNDED to 6 decimals so the
    engines' sum-order ulp differences (distributed vs sequential mean /
    stddev) cannot flip a boundary row differently on each side."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("s")
    )
    z = F.round((F.col("value") - F.col("m")) / F.col("s"), 6)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > _Z_TAU)
        .select("event_id", "event_type", "value", "z")
    )


_N_DECILES = 10


def user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev21 — EVENT-VOLUME CONCENTRATION (the Lorenz/decile report): users
    ranked by event count split into 10 equal-size deciles (NTILE
    semantics: the first n_users%10 deciles hold one extra user), each
    decile reporting its user count, event count, share of all events,
    and the cumulative share — the "top 10% of users generate X% of
    traffic" number behind abuse triage, crawl budgeting, and per-user
    sampling caps in training-data curation.

    Scale: NTILE itself would sort every user in ONE task, so the decile
    split is computed WITHOUT a global sort: per-user counts collapse to
    a (count -> n_users) HISTOGRAM (cardinality <= max events/user, tiny
    at any corpus size), a prefix sum over that histogram places each
    distinct count value at its global rank interval, and interval
    overlap against the NTILE boundary grid assigns users to deciles.
    Same-count users are interchangeable across a boundary — every split
    yields identical decile sums — so histogram arithmetic reproduces
    NTILE exactly (the DuckDB oracle runs literal NTILE). One full
    shuffle (per-user counts); everything after runs on the histogram."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    hist = per_user.groupBy("cnt").agg(F.count("*").alias("n_at"))
    wv = Window.orderBy(F.desc("cnt")).rowsBetween(Window.unboundedPreceding, -1)
    hist = hist.withColumn("before", F.coalesce(F.sum("n_at").over(wv), F.lit(0)))
    totals = per_user.groupBy().agg(
        F.count("*").alias("n_total"), F.sum("cnt").alias("ev_total")
    )
    grid = (
        spark.range(1, _N_DECILES + 1)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(totals))
        .select(
            "decile", "ev_total",
            F.expr(
                f"(decile - 1) * (n_total DIV {_N_DECILES})"
                f" + least(CAST(decile - 1 AS BIGINT), n_total % {_N_DECILES})"
            ).alias("lo"),
            F.expr(
                f"decile * (n_total DIV {_N_DECILES})"
                f" + least(CAST(decile AS BIGINT), n_total % {_N_DECILES})"
            ).alias("hi"),
        )
    )
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("before") + F.col("n_at"), F.col("hi"))
        - F.greatest(F.col("before"), F.col("lo")),
    )
    agg = (
        hist.crossJoin(F.broadcast(grid))
        .withColumn("k", overlap)
        .filter(F.col("k") > 0)
        .groupBy("decile")
        .agg(
            F.sum("k").cast("bigint").alias("n_users"),
            F.sum(F.col("k") * F.col("cnt")).cast("bigint").alias("n_events"),
            F.first("ev_total").alias("ev_total"),
        )
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile", "n_users", "n_events",
        F.round(F.col("n_events") / F.col("ev_total").cast("double"), 9).alias("share"),
        F.round(
            F.sum("n_events").over(wd) / F.col("ev_total").cast("double"), 9
        ).alias("cum_share"),
    )


def rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev23 — CUSUM changepoint scan over per-type hourly event rates:
    for each event_type, the largest sustained upward rate shift and the
    hour it peaks. The one-sided reset-at-zero CUSUM
    ``S_k = max(0, S_{k-1} + z_k)`` is NOT an associative fold, but it
    has a closed prefix form — ``S_k = P_k - min(0, min_{j<=k} P_j)``
    with P the plain prefix sum — so the whole scan is two window
    functions (running sum + running min), no recursion, no UDF.

    Exactness: the centered increment is computed in INTEGER arithmetic
    (``c_k * n_hours - total`` instead of ``c_k - mean``), so every
    intermediate is a BIGINT and both engines agree bit-for-bit.

    Scale: one groupBy to hourly counts (map-side combined), then
    windows partitioned by event_type over hour-cardinality rows —
    thousands of rows per type-year even at 100 TB of raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    per_type = Window.partitionBy("event_type")
    ordered = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scanned = (
        hourly.withColumn("n_hours", F.count("*").over(per_type))
        .withColumn("total", F.sum("c").over(per_type))
        .withColumn("z", F.col("c") * F.col("n_hours") - F.col("total"))
        .withColumn("p", F.sum("z").over(ordered))
        .withColumn("runmin", F.min("p").over(ordered))
        .withColumn(
            "cusum", F.col("p") - F.least(F.lit(0).cast("bigint"), F.col("runmin"))
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc("cusum"), F.asc("h")
    )
    return (
        scanned.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.unix_timestamp("h").alias("peak_hour"),
            F.col("cusum").cast("bigint").alias("peak_cusum"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
        )
    )


_ACF_LAG = 24  # diurnal lag: autocorrelation at 24 hours


def periodicity_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev24 — DIURNAL PERIODICITY: per event_type, the lag-24h Pearson
    autocorrelation of the zero-filled hourly count series — the
    seasonality detector that says whether a stream's rate has a daily
    rhythm (ev16 shows the heatmap; ev24 reduces it to one test
    statistic per type).

    Exactness: the series is densified onto an explicit hourly grid
    (min..max hour per type, missing hours = 0 — gaps are real zeros,
    not absent samples), and the correlation is assembled from FIVE
    integer sums (n, Σx, Σy, Σxy, Σx², Σy²) so both engines feed
    identical integers into one double formula, rounded once.

    Scale: grid cardinality is hours-per-type (thousands per year), far
    below the event count; the lag is a window shift over that tiny
    series — the heavy lifting is the single map-side-combined hourly
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    dense = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = (
        dense.withColumn("x", F.lag("c", _ACF_LAG).over(w))
        .filter(F.col("x").isNotNull())
        .select("event_type", F.col("c").alias("y"), "x")
    )
    sums = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.filter(den > 0).select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(num.cast("double") / den, 9).alias("autocorr_24h"),
    )


ORACLES = {
    "ev24_periodicity_acf": f"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
          FROM hourly GROUP BY 1),
        grid AS (
          SELECT b.event_type, g.h
          FROM bounds b,
               LATERAL (SELECT unnest(generate_series(b.h0, b.h1,
                        INTERVAL 1 HOUR)) AS h) g),
        dense AS (
          SELECT g.event_type, g.h,
                 CAST(COALESCE(hr.c, 0) AS BIGINT) AS c
          FROM grid g LEFT JOIN hourly hr
            ON hr.event_type = g.event_type AND hr.h = g.h),
        pairs AS (
          SELECT event_type, c AS y,
                 LAG(c, {_ACF_LAG}) OVER (PARTITION BY event_type
                                          ORDER BY h) AS x
          FROM dense),
        sums AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM pairs WHERE x IS NOT NULL GROUP BY 1)
        SELECT event_type, n AS n_pairs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 9)
                 AS autocorr_24h
        FROM sums
        WHERE sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE)) > 0""",
    # ev23: CUSUM via prefix-sum-minus-running-min, all-integer increments
    "ev23_rate_cusum": """
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n_hours,
                 SUM(c) OVER (PARTITION BY event_type) AS total
          FROM hourly),
        scanned AS (
          SELECT *,
                 SUM(c * n_hours - total) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS p
          FROM stats),
        cus AS (
          SELECT *,
                 p - LEAST(0, MIN(p) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING)) AS cusum
          FROM scanned),
        picked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY cusum DESC, h ASC) AS rk
          FROM cus)
        SELECT event_type,
               CAST(epoch(h) AS BIGINT) AS peak_hour,
               CAST(cusum AS BIGINT) AS peak_cusum,
               CAST(n_hours AS BIGINT) AS n_hours
        FROM picked WHERE rk = 1""",
    "ev22_funnel_window_sweep": """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t
          GROUP BY e.user_id),
        delays AS (
          SELECT 'view->click' AS step_pair,
                 epoch_us(s2.t) - epoch_us(s1.t) AS delay_us
          FROM s1 JOIN s2 ON s1.user_id = s2.user_id
          UNION ALL
          SELECT 'click->purchase', epoch_us(s3.t) - epoch_us(s2.t)
          FROM s2 JOIN s3 ON s2.user_id = s3.user_id),
        hist AS (
          SELECT step_pair, (CASE WHEN delay_us > 1 * 3600000000 THEN 1 ELSE 0 END) + (CASE WHEN delay_us > 2 * 3600000000 THEN 1 ELSE 0 END) + (CASE WHEN delay_us > 4 * 3600000000 THEN 1 ELSE 0 END) + (CASE WHEN delay_us > 8 * 3600000000 THEN 1 ELSE 0 END) + (CASE WHEN delay_us > 24 * 3600000000 THEN 1 ELSE 0 END) + (CASE WHEN delay_us > 168 * 3600000000 THEN 1 ELSE 0 END) AS bucket, COUNT(*) AS cnt
          FROM delays GROUP BY 1, 2),
        elig AS (
          SELECT 'view->click' AS step_pair, COUNT(*) AS eligible FROM s1
          UNION ALL
          SELECT 'click->purchase', COUNT(*) FROM s2),
        wins(k, window_hours) AS (VALUES (0, 1), (1, 2), (2, 4), (3, 8), (4, 24), (5, 168))
        SELECT e.step_pair,
               CAST(w.window_hours AS BIGINT) AS window_hours,
               CAST(COALESCE(SUM(h.cnt), 0) AS BIGINT) AS n_converted,
               ROUND(COALESCE(SUM(h.cnt), 0) / CAST(e.eligible AS DOUBLE), 9)
                 AS conversion_rate
        FROM elig e CROSS JOIN wins w
        LEFT JOIN hist h ON h.step_pair = e.step_pair AND h.bucket <= w.k
        GROUP BY e.step_pair, w.window_hours, e.eligible""",
    "ev21_user_concentration": """
        WITH per_user AS (
          SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS ev_total FROM per_user),
        d AS (
          SELECT cnt, NTILE(10) OVER (ORDER BY cnt DESC, user_id) AS decile
          FROM per_user),
        agg AS (
          SELECT CAST(decile AS INTEGER) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(cnt) AS BIGINT) AS n_events
          FROM d GROUP BY decile)
        SELECT decile, n_users, n_events,
               ROUND(n_events / t.ev_total, 9) AS share,
               ROUND(SUM(n_events) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / t.ev_total, 9) AS cum_share
        FROM agg CROSS JOIN tot t""",
    "ev20_cadence_profile": f"""
        WITH gaps AS (
          SELECT user_id,
                 CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))
                      - epoch_us(ts) AS DECIMAL(19,0)) AS gap
          FROM events),
        agg AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 SUM(gap) AS s1,
                 SUM(gap * gap) AS s2
          FROM gaps WHERE gap IS NOT NULL
          GROUP BY user_id),
        scored AS (
          SELECT user_id, n_gaps,
                 CAST(FLOOR(CAST(s1 AS DOUBLE) / n_gaps) AS BIGINT)
                   AS mean_gap_us,
                 ROUND(sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_gaps
                        - (CAST(s1 AS DOUBLE) / n_gaps)
                        * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                       / (CAST(s1 AS DOUBLE) / n_gaps), 9) AS cv
          FROM agg WHERE n_gaps >= {_CADENCE_MIN_GAPS})
        SELECT user_id, n_gaps, mean_gap_us, cv,
               cv <= {_CADENCE_CV_TAU} AS is_regular
        FROM scored""",
    "ev19_event_transitions": """
        WITH seq AS (
          SELECT user_id, event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS to_type
          FROM events),
        counts AS (
          SELECT event_type AS from_type, to_type, COUNT(*) AS n
          FROM seq WHERE to_type IS NOT NULL
          GROUP BY 1, 2)
        SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
               ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 9)
                 AS prob
        FROM counts""",
    "ev16_seasonality_heatmap": """
        SELECT CAST((FLOOR(epoch(ts) / 86400) + 4) % 7 AS BIGINT) AS dow,
               CAST(FLOOR((epoch(ts) % 86400) / 3600) AS BIGINT) AS hour,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2, 3""",
    "ev15_disorder_profile": """
        WITH s AS (
          SELECT event_type, epoch_us(ts) AS us,
                 MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
          FROM events),
        d AS (
          SELECT event_type,
                 CASE WHEN seen IS NULL OR seen <= us THEN 0
                      ELSE seen - us END AS disorder_us
          FROM s)
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late,
               MAX(disorder_us) AS max_disorder_us,
               ROUND(SUM(disorder_us) / CAST(COUNT(*) AS DOUBLE), 6)
                 AS avg_disorder_us
        FROM d GROUP BY event_type""",
    # ev31's oracle recomputes the exact distinct and asserts the HLL
    # rank-error certificate as literal TRUE (the a19 sketch-twin
    # pattern; the register state has no cross-engine twin)
    "ev31_hll_distinct_certificate": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS within_bound
        FROM events GROUP BY 1""",
    "ev14_kmv_distinct": f"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
          FROM events),
        ranked AS (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM h),
        per_type AS (
          SELECT event_type, COUNT(*) AS n_distinct,
                 MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS hk
          FROM ranked GROUP BY event_type),
        est AS (
          SELECT event_type, n_distinct,
                 CASE WHEN n_distinct <= {_KMV_K}
                      THEN CAST(n_distinct AS DOUBLE)
                      ELSE {_KMV_K - 1} * 1152921504606846976.0
                           / CAST(hk AS DOUBLE) END AS e
          FROM per_type)
        SELECT event_type, n_distinct,
               ROUND(e, 6) AS kmv_estimate,
               ROUND(ABS(e - n_distinct) / CAST(n_distinct AS DOUBLE), 6)
                 AS rel_error
        FROM est""",
    "ev17_cms_heavy_hitters": f"""
        WITH rows_i AS (SELECT unnest(range(0, {_CMS_D})) AS row_i),
        b AS (
          SELECT row_i,
                 CAST(('0x' || substr(md5(CAST(row_i AS VARCHAR) || ':'
                       || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {_CMS_W} AS bucket,
                 user_id
          FROM events CROSS JOIN rows_i),
        sketch AS (SELECT row_i, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        keys AS (SELECT user_id, COUNT(*) AS true_count
                 FROM events GROUP BY 1),
        probe AS (
          SELECT k.user_id, k.true_count, MIN(s.c) AS cms_estimate
          FROM keys k
          CROSS JOIN rows_i r
          JOIN sketch s ON s.row_i = r.row_i
           AND s.bucket = CAST(('0x' || substr(md5(CAST(r.row_i AS VARCHAR)
                 || ':' || CAST(k.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % {_CMS_W}
          GROUP BY 1, 2),
        top AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY true_count DESC,
                                       user_id ASC) AS rk
          FROM probe)
        SELECT user_id, true_count,
               CAST(cms_estimate AS BIGINT) AS cms_estimate,
               CAST(cms_estimate - true_count AS BIGINT) AS overestimate
        FROM top WHERE rk <= {_CMS_TOP}""",
    "ev13_rate_alerts": f"""
        WITH h AS (
          SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
                 event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 2),
        scored AS (
          SELECT hour_start, event_type, n_events,
                 AVG(n_events) OVER w AS baseline,
                 COUNT(*) OVER w AS n_prev
          FROM h
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                       ROWS BETWEEN {_RATE_LOOKBACK} PRECEDING AND 1 PRECEDING))
        SELECT hour_start, event_type, n_events,
               ROUND(baseline, 6) AS baseline,
               ROUND(n_events / baseline, 6) AS rate_ratio
        FROM scored
        WHERE n_prev >= {_RATE_LOOKBACK} AND n_events >= {_RATE_TAU} * baseline""",
    "ev12_anomaly_zscore": f"""
        WITH s AS (
          SELECT event_type, AVG(value) AS m, STDDEV_SAMP(value) AS s
          FROM events GROUP BY 1),
        z AS (
          SELECT event_id, e.event_type, value,
                 ROUND((value - m) / s, 6) AS z
          FROM events e JOIN s ON e.event_type = s.event_type)
        SELECT event_id, event_type, value, z FROM z
        WHERE ABS(z) > {_Z_TAU}""",
    "ev1_tumbling_hourly": _EV1_ORACLE,
    "ev2_sliding_hourly": """
        WITH offsets(off) AS (VALUES (0), (1800))
        SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) - off
                 AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events CROSS JOIN offsets GROUP BY 1, 2""",
    "ev5_asof_join": """
        WITH r AS (
          SELECT user_id, ts, MAX(event_id) AS click_event_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        ),
        l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT l.event_id AS purchase_event_id, l.user_id,
               epoch_us(l.ts) AS purchase_us,
               r.click_event_id,
               epoch_us(r.ts) AS click_us,
               epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "ev6_range_join": """
        WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
                   WHERE event_type = 'click'),
        p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us FROM events
              WHERE event_type = 'purchase')
        SELECT p.event_id AS purchase_event_id, p.user_id,
               CAST(COUNT(c.c_us) AS BIGINT) AS n_clicks_prev_hour
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
        GROUP BY p.event_id, p.user_id""",
    "ev7_hypertable_rollup": """
        WITH m AS (
          SELECT event_type,
                 CAST((epoch_us(ts) // 60000000) * 60 AS BIGINT) AS bucket_start,
                 COUNT(*) AS n_events, SUM(CAST(value AS DECIMAL(18,6))) AS sv
          FROM events GROUP BY 1, 2),
        h AS (
          SELECT event_type,
                 CAST((bucket_start // 3600) * 3600 AS BIGINT) AS bucket_start,
                 CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
          FROM m GROUP BY 1, 2),
        d AS (
          SELECT event_type,
                 CAST((bucket_start // 86400) * 86400 AS BIGINT) AS bucket_start,
                 CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
          FROM h GROUP BY 1, 2)
        SELECT 'minute' AS level, event_type, bucket_start, n_events,
               CAST(sv AS DOUBLE) AS sum_value FROM m
        UNION ALL
        SELECT 'hour', event_type, bucket_start, n_events, CAST(sv AS DOUBLE) FROM h
        UNION ALL
        SELECT 'day', event_type, bucket_start, n_events, CAST(sv AS DOUBLE) FROM d""",
    "ev3_sessionize": f"""
        WITH t AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS t FROM events),
        flagged AS (
          SELECT *, CASE WHEN LAG(t) OVER w IS NULL
                           OR t - LAG(t) OVER w > {_GAP_MIN} * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_session
          FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        sess AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM flagged)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               MIN(t) AS session_start_us,
               MAX(t) AS session_end_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM sess GROUP BY user_id, session_id""",
    "ev9_retention_cohorts": """
        WITH ev AS (
          SELECT user_id, CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS week
          FROM events),
        first AS (
          SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, week FROM ev),
        sizes AS (
          SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
          FROM first GROUP BY cohort_week),
        joined AS (
          SELECT f.cohort_week,
                 CAST((a.week - f.cohort_week) // 604800 AS BIGINT) AS week_offset,
                 a.user_id
          FROM active a JOIN first f USING (user_id))
        SELECT j.cohort_week, j.week_offset,
               COUNT(DISTINCT j.user_id) AS n_active,
               s.cohort_size,
               ROUND(COUNT(DISTINCT j.user_id) / CAST(s.cohort_size AS DOUBLE), 9)
                 AS retention
        FROM joined j JOIN sizes s USING (cohort_week)
        GROUP BY j.cohort_week, j.week_offset, s.cohort_size""",
    "ev18_funnel_latency": f"""
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t
          GROUP BY e.user_id),
        delays AS (
          SELECT '{_FUNNEL_STEPS[0]}->{_FUNNEL_STEPS[1]}' AS step_pair,
                 s2.user_id, epoch_us(s2.t) - epoch_us(s1.t) AS delay_us
          FROM s1 JOIN s2 ON s1.user_id = s2.user_id
          UNION ALL
          SELECT '{_FUNNEL_STEPS[1]}->{_FUNNEL_STEPS[2]}',
                 s3.user_id, epoch_us(s3.t) - epoch_us(s2.t)
          FROM s2 JOIN s3 ON s2.user_id = s3.user_id),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY step_pair
                                    ORDER BY delay_us, user_id) AS rn,
                 COUNT(*) OVER (PARTITION BY step_pair) AS n
          FROM delays)
        SELECT step_pair,
               CAST(MAX(n) AS BIGINT) AS n_users,
               MAX(CASE WHEN rn = (n + 1) // 2
                        THEN delay_us END) AS p50_us,
               MAX(CASE WHEN rn = (9 * n + 9) // 10
                        THEN delay_us END) AS p90_us,
               MAX(delay_us) AS max_us
        FROM ranked GROUP BY step_pair""",
    "ev10_funnel_conversion": f"""
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t
          GROUP BY e.user_id),
        steps AS (
          SELECT 1 AS step, '{_FUNNEL_STEPS[0]}' AS event_type,
                 (SELECT COUNT(*) FROM s1) AS n_users
          UNION ALL
          SELECT 2, '{_FUNNEL_STEPS[1]}', (SELECT COUNT(*) FROM s2)
          UNION ALL
          SELECT 3, '{_FUNNEL_STEPS[2]}', (SELECT COUNT(*) FROM s3))
        SELECT CAST(step AS BIGINT) AS step, event_type,
               CAST(n_users AS BIGINT) AS n_users,
               ROUND(n_users / CAST(
                 MAX(CASE WHEN step = 1 THEN n_users END) OVER () AS DOUBLE),
                 9) AS conversion
        FROM steps""",
    "ev8_windowed_topk": f"""
        WITH per AS (
          SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
                 user_id,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY n_events DESC, user_id ASC) AS rank
          FROM per)
        SELECT window_start, user_id, n_events, total_value, rank
        FROM ranked WHERE rank <= {_TOPK_USERS}""",
    "ev4_json_props_stats": """
        WITH e AS (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        SELECT event_type,
               COUNT(*) AS n_events,
               MIN(k) AS min_k,
               MAX(k) AS max_k,
               ROUND(AVG(CAST(k AS DOUBLE)), 6) AS avg_k,
               COUNT(DISTINCT k) AS distinct_k
        FROM e GROUP BY event_type""",
}

ORACLES["ev11_sessionize_salted"] = ORACLES["ev3_sessionize"]  # same semantics

def gap_fill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev25 — TIME-SERIES GAP AUDIT (the hypertable ``gap-fill``
    companion to ev7's rollup): per event type, how complete its hourly
    bucket series is over its own [first, last] span — missing-hour
    count, number of distinct outage windows, and the LONGEST outage —
    the data-freshness report a pipeline owner reads before trusting
    any windowed aggregate downstream. Outage windows come from the
    classic islands trick: consecutive missing hours share
    ``h/3600 - row_number()``, so one window pass turns the missing set
    into runs.

    Exactness: everything is integer bucket arithmetic except the final
    coverage ratio (one division, rounded to 9).

    Scale: the only events-sized operation is the distinct
    (type, hour) projection — a single shuffle that collapses 100 TB of
    events to type x hour cardinality; the generated grid, anti-join,
    and islands window all run on that collapsed frame (bounded by
    span-hours per type, not by event count)."""
    ev = load_table(spark, sf_dir, "events")
    present = ev.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"),
    ).distinct()
    span = present.groupBy("event_type").agg(
        F.min("h").alias("lo"),
        F.max("h").alias("hi"),
        F.count("*").cast("bigint").alias("n_present"),
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("h"),
    )
    missing = grid.join(present, ["event_type", "h"], "left_anti")
    wr = Window.partitionBy("event_type").orderBy("h")
    runs = (
        missing.withColumn(
            "grp",
            (F.col("h") / 3600).cast("bigint") - F.row_number().over(wr),
        )
        .groupBy("event_type", "grp")
        .agg(F.count("*").cast("bigint").alias("run"))
    )
    gaps = runs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.max("run").alias("longest_gap_hours"),
        F.sum("run").cast("bigint").alias("n_missing"),
    )
    return (
        span.join(gaps, "event_type", "left")
        .fillna(0, ["n_gaps", "longest_gap_hours", "n_missing"])
        .withColumn(
            "n_hours_span",
            ((F.col("hi") - F.col("lo")) / 3600 + 1).cast("bigint"),
        )
        .select(
            "event_type",
            "n_hours_span",
            F.col("n_present").alias("n_hours_present"),
            "n_missing",
            "n_gaps",
            "longest_gap_hours",
            F.round(
                F.col("n_present") / F.col("n_hours_span").cast("double"), 9
            ).alias("coverage_frac"),
        )
    )


ORACLES_EV25 = """
        WITH present AS (
          SELECT DISTINCT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h
          FROM events),
        span AS (
          SELECT event_type, MIN(h) AS lo, MAX(h) AS hi,
                 CAST(COUNT(*) AS BIGINT) AS n_present
          FROM present GROUP BY event_type),
        grid AS (
          SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS h
          FROM span),
        missing AS (
          SELECT g.event_type, g.h
          FROM grid g LEFT JOIN present p
            ON p.event_type = g.event_type AND p.h = g.h
          WHERE p.h IS NULL),
        runs AS (
          SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS run
          FROM (SELECT event_type, h,
                       CAST(h / 3600 AS BIGINT)
                         - ROW_NUMBER() OVER (PARTITION BY event_type
                                              ORDER BY h) AS grp
                FROM missing)
          GROUP BY event_type, grp),
        gaps AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 MAX(run) AS longest_gap_hours,
                 CAST(SUM(run) AS BIGINT) AS n_missing
          FROM runs GROUP BY event_type)
        SELECT s.event_type,
               CAST((s.hi - s.lo) / 3600 + 1 AS BIGINT) AS n_hours_span,
               s.n_present AS n_hours_present,
               COALESCE(g.n_missing, 0) AS n_missing,
               COALESCE(g.n_gaps, 0) AS n_gaps,
               COALESCE(g.longest_gap_hours, 0) AS longest_gap_hours,
               ROUND(s.n_present
                     / CAST((s.hi - s.lo) / 3600 + 1 AS DOUBLE), 9)
                 AS coverage_frac
        FROM span s LEFT JOIN gaps g ON g.event_type = s.event_type"""


SPARK_QUERIES = {
    "ev1_tumbling_hourly": tumbling_hourly,
    "ev25_gap_fill_audit": gap_fill_audit,
    "ev23_rate_cusum": rate_cusum,
    "ev24_periodicity_acf": periodicity_acf,
    "ev2_sliding_hourly": sliding_hourly,
    "ev3_sessionize": sessionize,
    "ev4_json_props_stats": json_props_stats,
    "ev5_asof_join": asof_join,
    "ev6_range_join": range_join_counts,
    "ev7_hypertable_rollup": hypertable_rollup,
    "ev8_windowed_topk": windowed_topk_users,
    "ev9_retention_cohorts": retention_cohorts,
    "ev10_funnel_conversion": funnel_conversion,
    "ev11_sessionize_salted": sessionize_salted,
    "ev12_anomaly_zscore": anomaly_zscore,
    "ev13_rate_alerts": rate_alerts,
    "ev14_kmv_distinct": kmv_distinct,
    "ev31_hll_distinct_certificate": hll_distinct_certificate,
    "ev17_cms_heavy_hitters": cms_heavy_hitters,
    "ev18_funnel_latency": funnel_latency,
    "ev19_event_transitions": event_transitions,
    "ev20_cadence_profile": cadence_profile,
    "ev21_user_concentration": user_concentration,
    "ev22_funnel_window_sweep": funnel_window_sweep,
    "ev15_disorder_profile": disorder_profile,
    "ev16_seasonality_heatmap": seasonality_heatmap,
}

ORACLES["ev25_gap_fill_audit"] = ORACLES_EV25


# candidate watermark delays for the sizing sweep (seconds)
_EV26_DELAYS_S = (60, 600, 3600)


def watermark_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev26 — WATERMARK SIZING what-if: for each candidate watermark
    delay, how many events per type would be DROPPED as too-late
    (disorder beyond the delay) and the drop rate in exact ppm — the
    actionable table behind ev15's lateness profile (ev15 measures how
    disordered the stream is; ev26 prices each watermark choice in lost
    events, which is what actually sizes st1-st7's ``withWatermark``).
    The sweep twin pattern of sim20/dd21 applied to stream configs.

    Exactness: disorder is integer microseconds off ev15's prefix-max;
    drops are counts; rates are floor ppm — no float column.

    Scale: ONE per-type prefix-max window (ev15's shape) feeds all
    delays; the sweep is a constant-width explode of per-event rows
    pre-aggregated to (type, delay) before any wide operation."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    us = F.unix_micros("ts")
    scored = ev.select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("seen"),
    ).select(
        "event_type",
        F.when(
            F.col("seen").isNull() | (F.col("seen") <= F.col("us")), F.lit(0)
        ).otherwise(F.col("seen") - F.col("us")).alias("disorder_us"),
    )
    swept = scored.select(
        "event_type",
        F.explode(
            F.array(*[F.lit(d).cast("bigint") for d in _EV26_DELAYS_S])
        ).alias("delay_s"),
        "disorder_us",
    )
    return (
        swept.groupBy("event_type", "delay_s")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                (F.col("disorder_us") > F.col("delay_s") * 1_000_000).cast("bigint")
            ).alias("n_dropped"),
        )
        .select(
            "event_type",
            "delay_s",
            "n_events",
            "n_dropped",
            F.expr(IDIV("n_dropped * 1000000", "n_events")).alias("drop_ppm"),
        )
    )


def _ev26_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    delays = ", ".join(f"(CAST({d} AS BIGINT))" for d in _EV26_DELAYS_S)
    return f"""
        WITH s AS (
          SELECT event_type, epoch_us(ts) AS us,
                 MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
          FROM events),
        d AS (
          SELECT event_type,
                 CASE WHEN seen IS NULL OR seen <= us THEN 0
                      ELSE seen - us END AS disorder_us
          FROM s),
        delays(delay_s) AS (VALUES {delays})
        SELECT event_type, CAST(delay_s AS BIGINT) AS delay_s,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN disorder_us > delay_s * 1000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               {IDIV('SUM(CASE WHEN disorder_us > delay_s * 1000000 THEN 1 ELSE 0 END) * 1000000', 'COUNT(*)')}
                 AS drop_ppm
        FROM d CROSS JOIN delays
        GROUP BY event_type, CAST(delay_s AS BIGINT)"""


ORACLES["ev26_watermark_whatif"] = _ev26_oracle()
SPARK_QUERIES["ev26_watermark_whatif"] = watermark_whatif


_EV27_THRESH_MIN = (0, 1, 2, 5, 10, 30, 60)


def session_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev27 — SESSION-DURATION SURVIVAL CURVE: for each threshold t in a
    fixed minute ladder, how many of ev3's sessions last at least t
    minutes, how many events those sessions carry, and the surviving
    session share in exact ppm. This is the engagement-decay table a
    session-gap choice is judged against (a curve that cliffs at the
    30-min threshold says the ev3 gap parameter is clipping real
    sessions), and the retention shape feeding ev9's cohort view.

    Exactness: durations are integer microseconds off ev3's
    session rollup; every published figure is a conditional COUNT/SUM
    or an integer floor-division ppm — no float accumulates.

    Scale: one pass over the session table (already user-keyed by ev3's
    single shuffle) computes ALL thresholds as conditional aggregates in
    one partial-agg'd reduction to a single row, exploded to the
    |thresholds|-row curve — the threshold ladder never multiplies the
    session-scan cost."""
    return session_survival_over(sessionize(spark, sf_dir))


def session_survival_over(sess: DataFrame) -> DataFrame:
    """ev27's ladder over any session frame carrying ``session_start_us``,
    ``session_end_us`` (last event time) and ``n_events`` — split out (the
    depth_survival_over pattern) so the streaming twin st16 runs the SAME
    rollup over st2's watermark-finalized sessions."""
    sess = sess.select(
        (F.col("session_end_us") - F.col("session_start_us")).alias("dur_us"),
        "n_events",
    )
    conds = [
        (F.col("dur_us") >= F.lit(t * 60 * 1_000_000)).cast("bigint")
        for t in _EV27_THRESH_MIN
    ]
    agg = sess.agg(
        F.count("*").cast("bigint").alias("n_total"),
        *[F.sum(c).cast("bigint").alias(f"s{t}")
          for t, c in zip(_EV27_THRESH_MIN, conds)],
        *[F.sum(F.col("n_events") * c).cast("bigint").alias(f"e{t}")
          for t, c in zip(_EV27_THRESH_MIN, conds)],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("bigint").alias("thr_min"),
                        F.col("n_total").alias("n_sessions_total"),
                        F.col(f"s{t}").alias("n_sessions_surviving"),
                        F.col(f"e{t}").alias("n_events_surviving"),
                    )
                    for t in _EV27_THRESH_MIN
                ]
            )
        ).alias("r")
    ).select(
        "r.thr_min",
        "r.n_sessions_total",
        "r.n_sessions_surviving",
        "r.n_events_surviving",
        F.expr(
            "CAST(FLOOR(r.n_sessions_surviving * 1000000"
            " / CAST(r.n_sessions_total AS DOUBLE)) AS BIGINT)"
        ).alias("survival_ppm"),
    )


# ev27's oracle nests ev3's sessionization verbatim; the threshold
# ladder is an unnested constant list.
ORACLES["ev27_session_survival"] = f"""
        WITH s AS ({ORACLES["ev3_sessionize"]}),
        thr AS (SELECT CAST(unnest([{", ".join(str(t) for t in _EV27_THRESH_MIN)}]) AS BIGINT)
                       AS thr_min)
        SELECT CAST(t.thr_min AS BIGINT) AS thr_min,
               CAST(COUNT(*) AS BIGINT) AS n_sessions_total,
               CAST(SUM(CASE WHEN s.session_end_us - s.session_start_us
                               >= t.thr_min * 60 * 1000000
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sessions_surviving,
               CAST(SUM(CASE WHEN s.session_end_us - s.session_start_us
                               >= t.thr_min * 60 * 1000000
                             THEN s.n_events ELSE 0 END) AS BIGINT)
                 AS n_events_surviving,
               CAST(FLOOR(SUM(CASE WHEN s.session_end_us - s.session_start_us
                                     >= t.thr_min * 60 * 1000000
                                   THEN 1 ELSE 0 END) * 1000000
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                 AS survival_ppm
        FROM s CROSS JOIN thr t
        GROUP BY t.thr_min"""

SPARK_QUERIES["ev27_session_survival"] = session_survival


_EV28_THRESH_H = (1, 2, 6, 12, 24, 48, 96)


def return_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev28 — RETURN-TIME CDF: for each threshold t in a fixed hour
    ladder, how many inter-session gaps (the idle time between one ev3
    session's end and the same user's next session start) close within
    t hours. ev27 profiles how long sessions last; ev28 profiles how
    long users stay away — the churn-risk curve behind re-engagement
    timing, and the empirical justification for ev9's weekly cohort
    grain (a CDF already saturated at 24h says weekly buckets blur
    nothing). Gaps are > the 30-min session gap by construction, so the
    ladder starts at 1h.

    Exactness: gaps are integer-microsecond differences off ev3's
    session rollup; every figure is a conditional COUNT/SUM of BIGINTs
    or an integer floor-division ppm — no float accumulates.

    Scale: LEAD over the session table reuses ev3's user_id
    partitioning (no extra shuffle at scale — sessions are already
    user-keyed); all thresholds are conditional aggregates in ONE
    partial-agg'd reduction to a single row, exploded to the
    |thresholds|-row curve."""
    return return_gaps_over(sessionize(spark, sf_dir))


def return_gaps_over(sess: DataFrame) -> DataFrame:
    """ev28's ladder over any per-user session frame carrying
    ``session_start_us`` and ``session_end_us`` (last event time) — split
    out so the streaming twin st17 runs the SAME rollup over st2's
    watermark-finalized sessions. A user's sessions are disjoint, so the
    start alone orders them."""
    w = Window.partitionBy("user_id").orderBy("session_start_us")
    gaps = (
        sess.withColumn("next_start_us", F.lead("session_start_us").over(w))
        .filter(F.col("next_start_us").isNotNull())
        .select(
            (F.col("next_start_us") - F.col("session_end_us")).alias("gap_us")
        )
    )
    conds = [
        (F.col("gap_us") <= F.lit(t * 3_600_000_000)).cast("bigint")
        for t in _EV28_THRESH_H
    ]
    agg = gaps.agg(
        F.count("*").cast("bigint").alias("n_total"),
        *[F.sum(c).cast("bigint").alias(f"r{t}")
          for t, c in zip(_EV28_THRESH_H, conds)],
        *[F.sum(F.col("gap_us") * c).cast("bigint").alias(f"g{t}")
          for t, c in zip(_EV28_THRESH_H, conds)],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("bigint").alias("thr_hours"),
                        F.col("n_total").alias("n_gaps_total"),
                        F.col(f"r{t}").alias("n_returned_within"),
                        F.col(f"g{t}").alias("gap_us_within_sum"),
                    )
                    for t in _EV28_THRESH_H
                ]
            )
        ).alias("r")
    ).select(
        "r.thr_hours",
        "r.n_gaps_total",
        "r.n_returned_within",
        "r.gap_us_within_sum",
        F.expr(
            "CAST(FLOOR(r.n_returned_within * 1000000"
            " / CAST(r.n_gaps_total AS DOUBLE)) AS BIGINT)"
        ).alias("return_ppm"),
    )


# ev28's oracle nests ev3's sessionization verbatim, like ev27's.
ORACLES["ev28_return_gaps"] = f"""
        WITH s AS ({ORACLES["ev3_sessionize"]}),
        g AS (SELECT session_end_us AS en,
                     LEAD(session_start_us) OVER (
                       PARTITION BY user_id
                       ORDER BY session_start_us, session_id) AS nxt
              FROM s),
        gaps AS (SELECT nxt - en AS gap_us FROM g WHERE nxt IS NOT NULL),
        thr AS (SELECT CAST(unnest([{", ".join(str(t) for t in _EV28_THRESH_H)}]) AS BIGINT)
                       AS thr_hours)
        SELECT CAST(t.thr_hours AS BIGINT) AS thr_hours,
               CAST(COUNT(*) AS BIGINT) AS n_gaps_total,
               CAST(SUM(CASE WHEN gap_us <= t.thr_hours * 3600000000
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_returned_within,
               CAST(SUM(CASE WHEN gap_us <= t.thr_hours * 3600000000
                             THEN gap_us ELSE 0 END) AS BIGINT)
                 AS gap_us_within_sum,
               CAST(FLOOR(SUM(CASE WHEN gap_us <= t.thr_hours * 3600000000
                                   THEN 1 ELSE 0 END) * 1000000
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                 AS return_ppm
        FROM gaps CROSS JOIN thr t
        GROUP BY t.thr_hours"""

SPARK_QUERIES["ev28_return_gaps"] = return_gaps


# snk6 compaction: planning constants. The hourly (type, hour) chunks
# are the simulated small-files input (3,600 micro-chunks at sf0.01,
# avg ~3 rows — the classic streaming-sink layout a compactor fixes);
# the greedy planner packs them, in hour order, into files of
# ~_SNK6_TARGET_ROWS.
_SNK6_TARGET_ROWS = 500
_SNK6_CKSUM_MOD = 1_000_000_007  # keeps the order-proof checksum << 2^63


def compaction_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk6 — SMALL-FILES COMPACTION, planned then MATERIALIZED: the
    event stream's natural sink layout is one file per (type, hour)
    micro-batch — thousands of tiny files that crush a 100 TB table's
    scan planning. The planner rolls the hourly chunks up, assigns each
    chunk (in hour order, within its type) to the compacted file whose
    target-row multiple its running prefix mass falls in —
    ``file_id = floor(rows_before / target)`` — so file boundaries are
    pure integer prefix-sum arithmetic, time-locality is preserved
    (each compacted file covers a contiguous hour range, keeping hour
    predicates prunable after compaction), and a chunk is never split.
    The plan is then EXECUTED: events written as parquet partitioned by
    (event_type, file_id) under the snk4 one-file-per-partition
    repartition contract, read BACK, and re-counted/re-checksummed —
    the published row is readback truth joined to plan bounds, which is
    the verification a compactor must emit before deleting the small
    files it replaced.

    Exactness: counts/hour bounds/checksums are BIGINT arithmetic
    (event_id mod p summed — order-free); fill_ppm is an integer floor
    division against the row target.

    Scale: one map-side-combined shuffle to (type, hour) chunks, one
    type-keyed window for the prefix sums (chunk count is bounded by
    types x hours, not data), one broadcast of the chunk->file map onto
    the write join, one partitioned write + readback aggregation. At
    100 TB raise the target and add ``maxRecordsPerFile``; n_files then
    reports per-file-id counts instead of asserting 1."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hr", F.expr("CAST(FLOOR(unix_micros(ts) / 3600000000) AS BIGINT)")
    )
    chunks = ev.groupBy("event_type", "hr").agg(
        F.count("*").cast("bigint").alias("chunk_rows")
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assign = chunks.withColumn(
        "rows_before", F.coalesce(F.sum("chunk_rows").over(wt), F.lit(0))
    ).withColumn(
        "file_id",
        F.expr(
            f"CAST(FLOOR(rows_before / CAST({_SNK6_TARGET_ROWS} AS DOUBLE)) AS BIGINT)"
        ),
    )
    plan = assign.groupBy("event_type", "file_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.min("hr").alias("hour_lo"),
        F.max("hr").alias("hour_hi"),
    )
    out = cache_dir("export", sf_dir, "compaction")
    (
        ev.join(F.broadcast(assign.select("event_type", "hr", "file_id")),
                ["event_type", "hr"])
        .select("event_id", "ts", "user_id", "value", "event_type", "file_id")
        # explicit numPartitions: a bare repartition(cols) is AQE-coalesced
        # by BYTES (to ONE task for a small batch), serializing the
        # per-FILE writer open/close cost of every partition dir onto one
        # core. The write stage wants one task per core up to the dir
        # count; derived from the cluster (defaultParallelism), not a
        # constant. All rows of a (event_type, file_id) pair still hash
        # to ONE task, so the one-file-per-partition-dir contract is
        # unchanged.
        .repartition(
            spark.sparkContext.defaultParallelism, "event_type", "file_id"
        )
        .sortWithinPartitions("event_type", "file_id", "event_id")
        .write.partitionBy("event_type", "file_id")
        .mode("overwrite")
        .parquet(out)
    )
    back = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy(
            F.col("event_type").cast("string").alias("event_type"),
            F.col("file_id").cast("bigint").alias("file_id"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("f").cast("bigint").alias("n_files"),
            F.sum(F.col("event_id") % _SNK6_CKSUM_MOD).cast("bigint").alias("checksum"),
        )
    )
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    return back.join(F.broadcast(plan), ["event_type", "file_id"]).select(
        "event_type", "file_id", "n_chunks", "n_rows", "hour_lo", "hour_hi",
        "n_files", "checksum",
        F.expr(IDIV("n_rows * 1000000", _SNK6_TARGET_ROWS)).alias("fill_ppm"),
    )


def _snk6_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    return f"""
        WITH c AS (
          SELECT event_type,
                 CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr,
                 CAST(COUNT(*) AS BIGINT) AS chunk_rows
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT *, COALESCE(SUM(chunk_rows) OVER (
                     PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS rows_before
          FROM c),
        a AS (
          SELECT event_type, hr, chunk_rows,
                 {IDIV('rows_before', _SNK6_TARGET_ROWS)} AS file_id
          FROM w),
        plan AS (
          SELECT event_type, file_id,
                 CAST(COUNT(*) AS BIGINT) AS n_chunks,
                 CAST(SUM(chunk_rows) AS BIGINT) AS n_rows,
                 MIN(hr) AS hour_lo, MAX(hr) AS hour_hi
          FROM a GROUP BY 1, 2),
        ck AS (
          SELECT a.event_type, a.file_id,
                 CAST(SUM(e.event_id % {_SNK6_CKSUM_MOD}) AS BIGINT) AS checksum
          FROM (SELECT event_type, event_id,
                       CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr
                FROM events) e
          JOIN a ON e.event_type = a.event_type AND e.hr = a.hr
          GROUP BY 1, 2)
        SELECT p.event_type, p.file_id, p.n_chunks, p.n_rows,
               p.hour_lo, p.hour_hi,
               CAST(1 AS BIGINT) AS n_files, ck.checksum,
               {IDIV('p.n_rows * 1000000', _SNK6_TARGET_ROWS)} AS fill_ppm
        FROM plan p JOIN ck ON p.event_type = ck.event_type
                           AND p.file_id = ck.file_id"""


ORACLES["snk6_compaction_export"] = _snk6_oracle()
SPARK_QUERIES["snk6_compaction_export"] = compaction_export


_EV29_BINS = 10

# One identical bin-assignment tree for ev29's Spark path, st18's
# streaming path, and the DuckDB oracle. The vmax = vmin branch guards
# the degenerate all-equal-values range (ADVICE r9): without it the
# expression goes through 0/0 = NaN and the result would depend on both
# engines' NaN semantics in GREATEST/LEAST agreeing.
_EV29_BIN_SQL = (
    f"CAST(CASE WHEN vmax = vmin THEN 0 ELSE"
    f" LEAST({_EV29_BINS - 1}, GREATEST(0,"
    f" FLOOR((v - vmin) * {_EV29_BINS} / (vmax - vmin)))) END AS BIGINT)"
)


def weekly_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev29 — WEEKLY VALUE-DISTRIBUTION DRIFT: the monitoring table a
    training-data pipeline alarms on — per calendar week (ev9's Monday
    grain), the total-variation distance in exact ppm between that
    week's event-value distribution and the FIRST week's, over 10
    equal-width value bins spanning the global range. TV distance
    (half the L1 gap between the binned shares) is the integer-exact
    stand-in for PSI/KL drift scores: same alarm ordering, no
    logarithms, so both engines agree to the bit. Also published: the
    worst-drifting bin and its gap — where in the value range the
    distribution moved.

    Exactness: bin shares are integer floor-division ppm; the drift
    sum is BIGINT; the only float is the single bin-assignment
    expression, one identical arithmetic tree in both engines (no
    accumulation). The baseline week's own row is exactly zero drift.

    Scale: one map-side-combined shuffle to (week, bin) counts — the
    broadcast global min/max attaches bin ids before any shuffle —
    then everything is bounded by weeks x 10: zero-fill grid, baseline
    join, and the final per-week rollup are all constant-width."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("week", "ts")).alias("week"),
        F.col("value").cast("double").alias("v"),
    )
    bounds = ev.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("bin", F.expr(_EV29_BIN_SQL))
        .groupBy("week", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
        # weeks x bins rows feed four consumers (grid, totals, baseline,
        # drift); checkpoint so the data-sized scan+shuffle runs ONCE
        # (the dd8 edge-frame pattern)
        .localCheckpoint(eager=True)
    )
    return _drift_from_counts(counts)


def _drift_from_counts(counts: DataFrame) -> DataFrame:
    """ev29's rollup from a materialized (week, bin, n) count frame —
    shared with st18, whose counts arrive from the streaming state
    store instead of the batch scan. Everything here is bounded by
    weeks x bins."""
    grid = (
        counts.select("week").distinct()
        .select("week", F.explode(
            F.sequence(F.lit(0), F.lit(_EV29_BINS - 1))
        ).alias("bin0"))
        .select("week", F.col("bin0").cast("bigint").alias("bin"))
    )
    full = grid.join(counts, ["week", "bin"], "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
    )
    totals = full.groupBy("week").agg(F.sum("n").cast("bigint").alias("wn"))
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    obs = full.join(F.broadcast(totals), "week").withColumn(
        "ppm", F.expr(IDIV("n * 1000000", "wn"))
    )
    w0 = totals.agg(F.min("week").alias("w0"))
    base = (
        obs.crossJoin(F.broadcast(w0))
        .filter(F.col("week") == F.col("w0"))
        .select("bin", F.col("ppm").alias("base_ppm"))
    )
    drift = obs.join(F.broadcast(base), "bin").withColumn(
        "d_ppm", F.abs(F.col("ppm") - F.col("base_ppm"))
    )
    # the argmax tie-break (drift desc, bin asc) packed into one BIGINT
    # key — bin < 16, so d_ppm*16 - bin orders exactly that way and
    # stays portable (DuckDB's max_by takes no struct keys)
    worst_key = F.col("d_ppm") * 16 - F.col("bin")
    return drift.groupBy("week").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.expr("CAST(FLOOR(SUM(d_ppm) / CAST(2 AS DOUBLE)) AS BIGINT)").alias("tv_ppm"),
        F.max("d_ppm").cast("bigint").alias("max_bin_drift_ppm"),
        F.max_by(F.col("bin"), worst_key).cast("bigint").alias("top_drift_bin"),
    )


def _ev29_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    return f"""
        WITH ev AS (
          SELECT CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS week,
                 CAST(value AS DOUBLE) AS v
          FROM events),
        bounds AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM ev),
        counts AS (
          SELECT week,
                 {_EV29_BIN_SQL} AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM ev CROSS JOIN bounds
          GROUP BY 1, 2),
        grid AS (
          SELECT w.week, CAST(b.bin AS BIGINT) AS bin
          FROM (SELECT DISTINCT week FROM counts) w
          CROSS JOIN (SELECT unnest(range(0, {_EV29_BINS})) AS bin) b),
        filled AS (
          SELECT g.week, g.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
          FROM grid g LEFT JOIN counts c
            ON g.week = c.week AND g.bin = c.bin),
        totals AS (
          SELECT week, CAST(SUM(n) AS BIGINT) AS wn FROM filled GROUP BY week),
        obs AS (
          SELECT f.week, f.bin, f.n, {IDIV('f.n * 1000000', 't.wn')} AS ppm
          FROM filled f JOIN totals t ON f.week = t.week),
        base AS (
          SELECT bin, ppm AS base_ppm FROM obs
          WHERE week = (SELECT MIN(week) FROM totals)),
        drift AS (
          SELECT o.week, o.bin, o.n,
                 ABS(o.ppm - b.base_ppm) AS d_ppm
          FROM obs o JOIN base b ON o.bin = b.bin)
        SELECT week,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(FLOOR(SUM(d_ppm) / CAST(2 AS DOUBLE)) AS BIGINT) AS tv_ppm,
               CAST(MAX(d_ppm) AS BIGINT) AS max_bin_drift_ppm,
               CAST(MAX_BY(bin, d_ppm * 16 - bin) AS BIGINT) AS top_drift_bin
        FROM drift GROUP BY week"""


ORACLES["ev29_weekly_value_drift"] = _ev29_oracle()
SPARK_QUERIES["ev29_weekly_value_drift"] = weekly_value_drift


def session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev30 — WITHIN-SESSION EVENT-TYPE AFFINITY: the association-rule
    census over ev3's sessions — for every unordered pair of event types
    that ever co-occur inside one session, how many sessions contain
    each type (n_a / n_b), how many contain both (n_both), and two
    exact-integer association scores: LIFT in micro-units
    (floor(n_both * n_sessions * 1e6 / (n_a * n_b)) — >1e6 means the
    pair co-occurs more than independence predicts) and session-set
    JACCARD in ppm. This is the market-basket view of product events
    (which behaviors travel together within a visit) and, pipeline-side,
    the signal behind composite session-quality gates (e.g. error+click
    affinity isolating rage-click sessions).

    Exactness: every figure is an integer COUNT or an integer floor
    division. Lift's numerator (n_both * n_sessions * 1e6) outgrows the
    2^53 double window the repo's IDIV helper assumes well inside the
    sf1 sweep, so BOTH engines floor-divide in wide integers instead:
    Spark in DECIMAL(38,0) with the DIV operator (returns BIGINT,
    truncation-exact), DuckDB in HUGEINT with `//` — no double
    round-trip anywhere.

    Scale: one user-keyed shuffle for the gaps-and-islands window (the
    ev3 plan), then distinct (user, session, type) — bounded by the
    event count — and a (user, session)-keyed self-join whose
    per-session fanout is capped at C(|type vocab|, 2), never a
    cartesian. Marginals and totals are broadcast 1-row/|vocab|-row
    frames; the final rollup is |vocab|^2-bounded."""
    return _session_type_affinity_of(load_table(spark, sf_dir, "events"))


def _session_type_affinity_of(events: DataFrame) -> DataFrame:
    """ev30 core over any events frame — see ``session_type_affinity``
    for semantics; split out (the dd26 pattern) so tests can drive it on
    constructed corpora with known session structure."""
    ev = events.select("user_id", "ts", "event_id", "event_type").withColumn(
        "t", F.unix_micros("ts")
    )
    order = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("t").over(order).isNull()
            | (F.col("t") - F.lag("t").over(order) > _GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st = flagged.withColumn(
        "session_id", F.sum("new_session").over(run)
    ).select("user_id", "session_id", "event_type")
    return _affinity_of_session_types(st)


def _affinity_of_session_types(session_types: DataFrame) -> DataFrame:
    """The affinity rollup from any (user_id, session_id, event_type)
    frame (rows may repeat within a session — deduped here). Shared
    with st19, whose session tags arrive from watermark-finalized
    ``session_window`` rows instead of the batch island windows."""
    st = (
        session_types.distinct()
        # feeds three consumers (total, marginals, pair join): materialize
        # the session-tagged distinct frame once (the ev29 counts pattern)
        .localCheckpoint(eager=True)
    )
    n_sessions = (
        st.select("user_id", "session_id").distinct()
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
    )
    per_type = st.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_type")
    )
    pairs = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    out = (
        pairs.join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_type").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_type").alias("n_b"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n_sessions))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        "n_sessions",
        F.expr(
            "CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000 * n_sessions"
            " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).alias("lift_micro"),
        F.expr(
            "CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000"
            " DIV (CAST(n_a AS DECIMAL(38,0)) + n_b - n_both) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def _ev30_oracle() -> str:
    # same gaps-and-islands CTEs as ev3's oracle, carrying event_type
    # through (ev3's own CTE chain drops it, so it can't be embedded
    # whole the way ev27/ev28 do)
    return f"""
        WITH t AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS t
          FROM events),
        flagged AS (
          SELECT *, CASE WHEN LAG(t) OVER w IS NULL
                           OR t - LAG(t) OVER w > {_GAP_MIN} * 60 * 1000000
                         THEN 1 ELSE 0 END AS new_session
          FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        sess AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM flagged),
        s AS (
          SELECT DISTINCT user_id, CAST(session_id AS BIGINT) AS session_id,
                 event_type
          FROM sess),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
          FROM (SELECT DISTINCT user_id, session_id FROM s)),
        marg AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
          FROM s GROUP BY event_type),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_both
          FROM s a JOIN s b
            ON a.user_id = b.user_id AND a.session_id = b.session_id
           AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT p.type_a, p.type_b,
               ma.n_type AS n_a, mb.n_type AS n_b, p.n_both, t.n_sessions,
               CAST((CAST(p.n_both AS HUGEINT) * 1000000 * t.n_sessions)
                    // (CAST(ma.n_type AS HUGEINT) * mb.n_type) AS BIGINT)
                 AS lift_micro,
               CAST((CAST(p.n_both AS HUGEINT) * 1000000)
                    // (CAST(ma.n_type AS HUGEINT) + mb.n_type - p.n_both)
                 AS BIGINT) AS jaccard_ppm
        FROM pairs p
        JOIN marg ma ON p.type_a = ma.event_type
        JOIN marg mb ON p.type_b = mb.event_type
        CROSS JOIN tot t"""


ORACLES["ev30_session_type_affinity"] = _ev30_oracle()
SPARK_QUERIES["ev30_session_type_affinity"] = session_type_affinity


_MOTIF_TOP = 10  # published motif budget


def motif_rollup(tri: DataFrame) -> DataFrame:
    """ev32's rollup over any (t1, t2, t3) trigram frame — split out
    (the skew_over pattern) so the streaming twin st22 runs the SAME
    count/rank/share body over its state-emitted trigrams: one shared
    rollup, so batch/stream motif tables cannot drift.

    The rank window is deliberately global and unpartitioned: it runs
    over the AGGREGATED motif table, whose cardinality is bounded by
    event-type-cardinality cubed (125 at 5 types), never the events —
    the single-task window is a few-row sort, not a scale risk. Ties
    rank deterministically by (n DESC, t1, t2, t3); the share publishes
    as integer ppm of all trigrams (n * 1e6 < 2^53 up to ~9e9 events
    per motif)."""
    counts = tri.groupBy("t1", "t2", "t3").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wr = Window.orderBy(F.desc("n"), "t1", "t2", "t3")
    ranked = counts.select(
        "t1", "t2", "t3", "n",
        F.sum("n").over(wt).alias("total"),
        F.row_number().over(wr).cast("bigint").alias("rank"),
    )
    return ranked.filter(F.col("rank") <= _MOTIF_TOP).select(
        "rank", "t1", "t2", "t3", "n",
        F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias("share_ppm"),
    )


def trigram_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev32 — TOP BEHAVIORAL MOTIFS: the most common three-event
    sequences (consecutive per-user event-type trigrams in (ts,
    event_id) order), ranked globally with their share of all trigrams
    in ppm. ev19's transition matrix is the first-order Markov view;
    motifs are the second-order one — the difference exposes flows a
    bigram model cannot see (a->b->c common while a->b->d never
    happens), the standard next step for funnel design and for
    curating session-shaped training sequences.

    Scale: ONE user-keyed shuffle for the two lead() windows (the same
    key every per-user analytic here shuffles on, sharable across
    them), then a motif count agg whose output is type-cardinality
    cubed; the global rank runs over that tiny aggregate, never the
    events (see motif_rollup)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return motif_rollup(tri)


ORACLES["ev32_trigram_motifs"] = """
        WITH seq AS (
          SELECT event_type AS t1,
                 LEAD(event_type, 1) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS t2,
                 LEAD(event_type, 2) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS t3
          FROM events),
        counts AS (
          SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
        ranked AS (
          SELECT t1, t2, t3, n,
                 SUM(n) OVER () AS total,
                 ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS rank
          FROM counts)
        SELECT CAST(rank AS BIGINT) AS rank, t1, t2, t3, n,
               CAST((n * 1000000) // total AS BIGINT) AS share_ppm
        FROM ranked WHERE rank <= 10"""
SPARK_QUERIES["ev32_trigram_motifs"] = trigram_motifs


_EV33_DEPTHS = (1, 2, 3, 5, 8, 13, 21)  # session-depth ladder (events)


def session_depth_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ev33 — SESSION-DEPTH SURVIVAL CURVE: for each depth k in a fixed
    ladder, how many of ev3's sessions contain at least k events, the
    surviving share in exact ppm, and the CONDITIONAL continuation ppm
    (survivors at k as a share of survivors at the previous rung) —
    the per-step hazard. ev27 measures engagement decay in TIME; this
    is the decay in INTERACTION DEPTH — the two disagree exactly when
    sessions are short-but-dense or long-but-idle, which is the
    difference between a funnel problem and a pacing problem; depth
    survival is also the budget table for curating session-shaped
    training sequences of at-least-k turns (ev32's motifs need k >= 3).

    Exactness: all counts integer off ev3's session rollup; both ppm
    figures are floor divisions evaluated identically on both engines,
    with the hazard NULL at the first rung (no previous) — counts stay
    far below the 2^53 floor-div envelope.

    Scale: the ev27 shape — one pass over the session table (already
    user-keyed by ev3's single shuffle) computes ALL depths as
    conditional aggregates in one partial-agg'd reduction to a single
    row, exploded to the |ladder|-row curve; the hazard is a lag over
    those few rows."""
    return depth_survival_over(sessionize(spark, sf_dir))


def depth_survival_over(sess: DataFrame) -> DataFrame:
    """ev33's ladder over any session frame carrying ``n_events`` —
    split out (the skew_over/motif_rollup pattern) so the streaming
    twin st23 runs the SAME curve over st2's watermark-finalized
    session windows: session membership (and so per-session depth) is
    identical between ev3's batch rollup and the engine-native
    ``session_window`` on the finite in-order source, so one shared
    body certifies batch/stream equivalence under ev33's oracle."""
    sess = sess.select("n_events")
    conds = [
        (F.col("n_events") >= F.lit(k)).cast("bigint") for k in _EV33_DEPTHS
    ]
    agg = sess.agg(
        F.count("*").cast("bigint").alias("n_total"),
        *[F.sum(c).cast("bigint").alias(f"s{k}")
          for k, c in zip(_EV33_DEPTHS, conds)],
    )
    curve = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("depth"),
                        F.col("n_total").alias("n_sessions_total"),
                        F.col(f"s{k}").alias("n_sessions_surviving"),
                    )
                    for k in _EV33_DEPTHS
                ]
            )
        ).alias("r")
    ).select("r.depth", "r.n_sessions_total", "r.n_sessions_surviving")
    wl = Window.orderBy("depth")
    return curve.select(
        "depth",
        "n_sessions_total",
        "n_sessions_surviving",
        F.expr(
            "CAST(FLOOR(n_sessions_surviving * 1000000"
            " / CAST(n_sessions_total AS DOUBLE)) AS BIGINT)"
        ).alias("survival_ppm"),
        F.when(
            F.lag("n_sessions_surviving").over(wl).isNull()
            | (F.lag("n_sessions_surviving").over(wl) == 0),
            F.lit(None).cast("bigint"),
        )
        .otherwise(
            F.expr(
                "CAST(FLOOR(n_sessions_surviving * 1000000 / CAST(lag("
                "n_sessions_surviving, 1) OVER (ORDER BY depth) AS DOUBLE))"
                " AS BIGINT)"
            )
        )
        .alias("continuation_ppm"),
    )


# ev33's ladder SQL parameterized by its session source so st23 can run
# the identical curve over st2's watermark-finalized session oracle
def _depth_curve_sql(source_sql: str) -> str:
    return f"""
        WITH s AS ({source_sql}),
        d AS (SELECT CAST(unnest([{", ".join(str(k) for k in _EV33_DEPTHS)}]) AS BIGINT)
                     AS depth),
        curve AS (
          SELECT d.depth,
                 CAST(COUNT(*) AS BIGINT) AS n_sessions_total,
                 CAST(SUM(CASE WHEN s.n_events >= d.depth THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_sessions_surviving
          FROM s CROSS JOIN d GROUP BY d.depth)
        SELECT depth, n_sessions_total, n_sessions_surviving,
               CAST(FLOOR(n_sessions_surviving * 1000000
                          / CAST(n_sessions_total AS DOUBLE)) AS BIGINT)
                 AS survival_ppm,
               CASE WHEN LAG(n_sessions_surviving) OVER (ORDER BY depth)
                         IS NULL
                      OR LAG(n_sessions_surviving) OVER (ORDER BY depth) = 0
                    THEN NULL
                    ELSE CAST(FLOOR(n_sessions_surviving * 1000000
                              / CAST(LAG(n_sessions_surviving)
                                     OVER (ORDER BY depth) AS DOUBLE))
                              AS BIGINT)
               END AS continuation_ppm
        FROM curve"""


# ev33's oracle nests ev3's sessionization verbatim (the ev27 pattern)
ORACLES["ev33_session_depth_survival"] = _depth_curve_sql(
    ORACLES["ev3_sessionize"]
)
SPARK_QUERIES["ev33_session_depth_survival"] = session_depth_survival
