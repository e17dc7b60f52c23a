"""Relational / expression operators (reference R1–R13, SURVEY.md §2.3).

Everything here is a thin, documented wrapper over ``pyspark.sql`` —
deliberately so: expressing these declaratively keeps them inside
Catalyst (predicate pushdown, column pruning, join selection) and
whole-stage codegen. The value of the module is pinning the *semantic
contract* each reference operator carries, with the reference citation
on each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_foundation_spark._local import local_df


def point_lookup(df: DataFrame, key: str, value) -> DataFrame:
    """R1 (neo4j-code.txt:2): equality point lookup. The filter reaches
    the parquet scan as a pushed predicate."""
    return df.filter(F.col(key) == F.lit(value))


def lookup_pair(df: DataFrame, key: str, a, b) -> DataFrame:
    """R2 (neo4j-code.txt:2): cartesian of two point lookups — the
    reference binds (start, end) this way."""
    return point_lookup(df, key, a).crossJoin(point_lookup(df, key, b))


def id_join(fact: DataFrame, dim: DataFrame, key: str, broadcast_dim: bool = True) -> DataFrame:
    """R3 (neo4j-code.txt:71–72): id → row dereference. Dimension side
    broadcast by default (the reference's asNode lookup is an O(1)
    pointer chase; a broadcast hash join is the distributed analog)."""
    return fact.join(F.broadcast(dim) if broadcast_dim else dim, key)


def non_self_pairs(df: DataFrame, left: str = "source", right: str = "target") -> DataFrame:
    """R4 (neo4j-code.txt:73): drop self-pairs."""
    return df.filter(F.col(left) != F.col(right))


def count_max(df: DataFrame, count_col: str, max_col: str) -> DataFrame:
    """R5 (neo4j-code.txt:36): RETURN count(x), Max(y)."""
    return df.agg(
        F.count(count_col).alias(f"count_{count_col}"),
        F.max(max_col).alias(f"max_{max_col}"),
    )


def ordered_collect(df: DataFrame, group: list[str], order_col: str, value_col: str) -> DataFrame:
    """R6 (neo4j-code.txt:54): ordered list aggregation. Cypher
    preserves stream order; a distributed engine must make the order
    explicit — we sort within the aggregation key via sort_array over
    (order, value) structs, so the result is deterministic under any
    partitioning."""
    pair = F.struct(F.col(order_col), F.col(value_col))
    return df.groupBy(*group).agg(
        F.transform(F.sort_array(F.collect_list(pair)), lambda s: s[value_col]).alias(f"{value_col}_list")
    )


def array_slice(col: Column | str, start0: int, length: int) -> Column:
    """R7 (neo4j-code.txt:54): Cypher ``[a..b]`` is 0-based half-open;
    Spark's slice is 1-based — converted here."""
    return F.slice(col, start0 + 1, length)


def array_map(col: Column | str, fn) -> Column:
    """R8 (neo4j-code.txt:143): list comprehension → transform."""
    return F.transform(col, fn)


def array_reduce_sum(col: Column | str) -> Column:
    """R9 (neo4j-code.txt:145): reduce(acc=0.0, x IN xs | acc+x)."""
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    agg_cols: dict[str, str],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation with key salting for heavy-hitter keys.

    ``agg_cols`` maps column → 'sum'|'count'. Phase 1 aggregates on
    (key, random salt) so a hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the partials. With AQE
    skew handling on, Spark usually solves this itself — this operator
    is for the deterministic worst case (one key = 50% of 100 TB)
    where even a skew-split single reducer chokes on the final merge.
    Results are identical to a plain groupBy (sums/counts are
    associative)."""
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("_salt")
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt")
    partials = []
    for c, how in agg_cols.items():
        if how == "sum":
            partials.append(F.sum(c).alias(f"_p_{c}"))
        elif how == "count":
            partials.append(F.count(c).alias(f"_p_{c}"))
        else:
            raise ValueError(f"unsupported agg {how!r}")
    p1 = phase1.agg(*partials)
    finals = [
        (F.sum(f"_p_{c}").alias(c)) for c, how in agg_cols.items()
    ]
    return p1.groupBy(*keys).agg(*finals)


def topk(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """R10 (neo4j-code.txt:76–77): multi-key sort + limit. Catalyst
    plans this as TakeOrderedAndProject — a per-partition heap + k-row
    merge, no global sort — exactly what you want at 100 TB."""
    return df.orderBy(*order).limit(k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    strict: bool = False,
) -> DataFrame:
    """Backward as-of join: each left row gets the payload of the right
    row with the greatest ``right_ts`` <= ``left_ts`` (``<`` when
    ``strict``) sharing the ``on`` key; left rows with no match keep
    null payload (LEFT semantics).

    Scalable shape: tag both sides, union, ONE window pass ordered by
    (ts, side) per key — a single shuffle on the key, no range
    cross-join, no per-row binary search, state bounded by the window's
    running ``last``. This is the standard distributed as-of plan
    (point-in-time joins in feature stores). The right side must be
    unique per (key, right_ts); pre-aggregate ties first.

    ``payload`` maps output column name → right-side column name.
    """
    from pyspark.sql import Window

    # Side ordering at equal ts decides <= vs <: for <=, right rows
    # sort BEFORE left rows so an equal-ts right row is visible; for
    # <, after.
    r_side, l_side = (1, 0) if strict else (0, 1)
    r = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("_ats"),
        F.lit(r_side).alias("_side"),
        F.lit(False).alias("_is_left"),
        F.struct(*[F.col(src).alias(dst) for dst, src in payload.items()]).alias("_p"),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("_ats"),
        F.lit(l_side).alias("_side"),
        F.lit(True).alias("_is_left"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("_ats", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("_m", F.last("_p", ignorenulls=True).over(w))
    return (
        matched.filter(F.col("_is_left"))
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("_m")[dst].alias(dst) for dst in payload],
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    right_ts: str,
    lower: Column,
    upper: Column,
    how: str = "inner",
) -> DataFrame:
    """Interval join: equality on ``on`` plus ``lower <= right.right_ts
    < upper`` (bounds are expressions over the LEFT row). The equality
    key makes this a plain hash/sort-merge join with a residual range
    predicate — Catalyst shuffles by key once; the quadratic blow-up is
    bounded per key, never global. Without an equality key you'd want
    bucketized range binning instead; every workload here has one."""
    cond = [left[k] == right[k] for k in on]
    cond.append(right[right_ts] >= lower)
    cond.append(right[right_ts] < upper)
    joined = left.join(right, cond, how)
    return joined


def balanced_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
    salt: str = "balance",
) -> DataFrame:
    """Deterministic per-group downsample: keep ``n_per_group`` rows per
    group, chosen by md5-hash order of the key — the class-balancing
    step of a training-data pipeline, reproducible across runs/engines
    (unlike sampleBy, whose picks depend on partitioning).

    One window pass per group; at 100 TB this is a single shuffle on
    ``group_col`` — same cost as any per-group top-k."""
    from pyspark.sql import Window

    rank_key = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(rank_key, key_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE-style upsert: rows from ``updates`` replace base rows with
    the same key; unmatched update rows are inserted — the generic form
    of the reference's MERGE-not-CREATE idempotent ingest (operator
    I4/I6, MAIN:190/282).

    Plan shape: one left-anti join (base minus updated keys) + union —
    a single shuffle on the key, no window pass, no full rewrite of
    unmatched partitions at the DataFrame level (the storage layer
    decides what to rewrite). ``updates`` must be unique per key."""
    survivors = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    return survivors.unionByName(updates)


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "sample") -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff the first 8 hex
    digits of md5(salt || key) fall below ``fraction`` of 2^32.

    Unlike ``df.sample()`` this is stable across runs, partitionings,
    and engines (md5 is everywhere), so a 100 TB corpus snapshot can be
    re-derived exactly — the property a training-data pipeline needs
    for reproducible holdouts. Sampling is pushed as a plain filter, so
    it composes with pushdown/pruning."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return df.filter(bucket < F.lit(int(fraction * 2**32)))


def profile_columns(df: DataFrame, cols: list[str], round_numeric: int = 2) -> DataFrame:
    """One-pass data profiling: per column, row count, null count,
    exact distinct count, and min/max (stringified). The multiple
    DISTINCT aggregates compile to a single Expand-based aggregation
    (one scan, partial aggregation map-side), so at 100 TB this is one
    shuffle of tiny partial states — never N table scans.

    Numeric columns are rounded before stringification so the
    cross-engine decimal rendering can't differ.
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float", "decimal")
    }

    ts = {f.name for f in df.schema.fields if f.dataType.typeName().startswith("timestamp")}

    def _s(c: str, agg):
        col = F.round(F.col(c), round_numeric) if c in numeric else F.col(c)
        out = agg(col)
        if c in ts:
            return F.date_format(out, "yyyy-MM-dd HH:mm:ss")
        return out.cast("string")

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            _s(c, F.min).alias(f"{c}__min"),
            _s(c, F.max).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").cast("bigint").alias("n_rows"),
            (F.col("_n") - F.col(f"{c}__nn")).cast("bigint").alias("n_null"),
            F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


# SCD2 open-version sentinel. Kimball's classic 9999-12-31 overflows
# pandas' nanosecond datetime64 range (max 2262-04-11), which breaks any
# Arrow/pandas consumer of the dimension — so we pin the high date just
# inside that range. Still far enough out that BETWEEN valid_from AND
# valid_to needs no NULL branch for any realistic data.
SCD2_HIGH_DATE = "2261-12-31 00:00:00"


def scd2_history(
    changelog: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Changelog → SCD Type-2 dimension (Kimball): collapse each key's
    event stream into validity intervals of its tracked attribute —
    a new version opens only when the attribute CHANGES (repeats
    extend the current version), ``valid_to`` is the next version's
    start, or the high-date sentinel ``SCD2_HIGH_DATE`` (2261-12-31,
    the pandas-nanosecond-safe stand-in for Kimball's 9999-12-31) on
    the open/current version (the idiomatic SCD2 convention — range
    predicates ``BETWEEN valid_from AND valid_to`` need no NULL
    branch). The standard slowly-changing-dimension build every
    warehouse runs from CDC feeds.

    Three windows, all partitioned by the key (ONE shuffle of the
    changelog on the key; every window reuses that partitioning —
    Catalyst plans a single Exchange): (1) lag to mark changes
    (null-safe, so the first row always opens version 1), (2) a
    running sum of marks to number versions, (3) after the per-version
    aggregate, lead(valid_from) to close each interval. Events order
    by (ts, tiebreak) within the key — the tiebreak makes same-ts
    changelogs deterministic.

    Returns (key, attr, version, valid_from, valid_to, n_events,
    is_current); version is 1-based per key."""
    ev = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    # The first row must open version 1 UNCONDITIONALLY — checked via
    # lag(tiebreak) (non-null by contract), because eqNullSafe(NULL
    # attr, NULL lag) is true and would otherwise mark a NULL-attr
    # first row as a "repeat" of nothing (version 0).
    marked = changelog.withColumn(
        "_chg",
        F.when(F.lag(tiebreak_col).over(ev).isNull(), F.lit(1))
        .when(F.col(attr_col).eqNullSafe(F.lag(attr_col).over(ev)), F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn(
        "_ver", F.sum("_chg").over(ev.rowsBetween(Window.unboundedPreceding, 0))
    )
    versions = marked.groupBy(key_col, "_ver").agg(
        F.min(attr_col).alias(attr_col),
        F.min(ts_col).alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    vw = Window.partitionBy(key_col).orderBy(F.asc("_ver"))
    nxt = F.lead("valid_from").over(vw)
    return versions.select(
        F.col(key_col),
        F.col(attr_col),
        F.col("_ver").cast("bigint").alias("version"),
        "valid_from",
        F.coalesce(nxt, F.lit(SCD2_HIGH_DATE).cast("timestamp")).alias("valid_to"),
        "n_events",
        nxt.isNull().alias("is_current"),
    )


def sessionize(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    gap_minutes: int = 30,
    value_col: str | None = None,
) -> DataFrame:
    """Batch gap-based sessionization — the classic eventstream
    rollup (and the batch twin of
    ``streaming.sessionize_stream``'s ``session_window``): an event
    opens a NEW session when more than ``gap_minutes`` passed since
    the key's previous event; sessions number 1-based per key in time
    order.

    Same one-shuffle shape as :func:`scd2_history`: lag to mark gaps
    (exact integer-microsecond arithmetic — no float time math, so
    the oracle is a bit-exact SQL re-derivation), running sum of marks
    to number sessions, one per-session aggregate. Returns
    (key, session_id, session_start, session_end, n_events[,
    total_value]) — total_value 2-dp when ``value_col`` is given."""
    ev = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    gap_us = int(gap_minutes) * 60 * 1_000_000
    prev = F.lag(ts_col).over(ev)
    marked = events.withColumn(
        "_new",
        F.when(
            prev.isNull()
            | ((F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_sid", F.sum("_new").over(ev.rowsBetween(Window.unboundedPreceding, 0)))
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").cast("bigint").alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
    cols = ["session_start", "session_end", "n_events"] + (
        ["total_value"] if value_col is not None else []
    )
    return (
        marked.groupBy(key_col, "_sid")
        .agg(*aggs)
        .select(
            F.col(key_col),
            F.col("_sid").cast("bigint").alias("session_id"),
            *cols,
        )
    )


def rfm_segmentation(
    orders: DataFrame,
    key_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    buckets: int = 5,
) -> DataFrame:
    """RFM customer segmentation — the warehouse-classic scoring:
    Recency (days since the customer's last order, anchored to the
    dataset's max date), Frequency (order count), Monetary (total
    spend), each quintile-scored 1–5 (5 = best) by ``ntile`` over a
    DETERMINISTIC order (metric, then key — ntile's bucket-boundary
    convention is SQL-standard and engine-identical, so the oracle is
    a full SQL re-derivation).

    One map-side-combined per-key aggregate, a broadcast 1-row anchor
    cross join, then three ntile windows over |customers| rows — at a
    scale where even the customer table can't sit in one window
    partition, swap the exact ntile for approx_percentile bucket
    boundaries applied scan-side; the shipped form keeps the exact
    SQL-equivalent semantics.

    Returns (key, recency_days, frequency, monetary, r_score,
    f_score, m_score, rfm_cell) sorted by key; rfm_cell = r·100 +
    f·10 + m."""
    anchor = orders.agg(F.max(date_col).alias("_anchor"))
    base = (
        orders.groupBy(key_col)
        .agg(
            F.max(date_col).alias("_last"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(amount_col).alias("_monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col(key_col),
            F.datediff(F.col("_anchor"), F.col("_last")).cast("int").alias("recency_days"),
            "frequency",
            F.col("_monetary"),
        )
    )
    r_w = Window.orderBy(F.desc("recency_days"), F.asc(key_col))
    f_w = Window.orderBy(F.asc("frequency"), F.asc(key_col))
    m_w = Window.orderBy(F.asc("_monetary"), F.asc(key_col))
    return (
        base.withColumn("r_score", F.ntile(buckets).over(r_w).cast("int"))
        .withColumn("f_score", F.ntile(buckets).over(f_w).cast("int"))
        .withColumn("m_score", F.ntile(buckets).over(m_w).cast("int"))
        .select(
            F.col(key_col),
            "recency_days",
            "frequency",
            F.round("_monetary", 2).alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
            .cast("int")
            .alias("rfm_cell"),
        )
        .orderBy(key_col)
    )


def funnel_stages(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis — the classic product-analytics query:
    for each key, the FIRST time it completed step i STRICTLY AFTER
    its step-(i−1) completion, and the furthest stage reached. A later
    occurrence of an earlier step never resets progress (first-touch
    semantics, the standard funnel definition).

    One chained conditional-min per step: step i is a keyed join of
    step-i events against the step-(i−1) completion times + a strict
    ``ts >`` filter + a min aggregate — |steps| keyed shuffles of
    (key, ts) pairs, never a window over raw events and never a
    per-key event collect. Completion times are monotone by
    construction, so ``stage`` is simply the count of non-null t's.

    Returns (key, t1..tN, stage) with one row per key that appears in
    the events (stage 0 = never did step 1)."""
    keys = events.select(key_col).distinct()
    acc = None
    for i, s in enumerate(steps, 1):
        ev_s = events.filter(F.col(type_col) == F.lit(s)).select(key_col, ts_col)
        if acc is None:
            t = ev_s.groupBy(key_col).agg(F.min(ts_col).alias("t1"))
            acc = t
        else:
            t = (
                ev_s.join(
                    acc.filter(F.col(f"t{i - 1}").isNotNull()).select(
                        key_col, f"t{i - 1}"
                    ),
                    key_col,
                )
                .filter(F.col(ts_col) > F.col(f"t{i - 1}"))
                .groupBy(key_col)
                .agg(F.min(ts_col).alias(f"t{i}"))
            )
            acc = acc.join(t, key_col, "left")
    stage = None
    for i in range(1, len(steps) + 1):
        c = F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
        stage = c if stage is None else stage + c
    return (
        keys.join(acc, key_col, "left")
        .withColumn("stage", stage.cast("int"))
        .orderBy(key_col)
    )


def retention_cohorts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts — the other canonical product-analytics
    rollup: keys cohorted by their FIRST activity date; a key counts
    toward (cohort, week k) if it was active on any day in week k
    after its cohort date (week 0 = the cohort week).

    Two map-side-combined aggregates (first-activity per key, then
    distinct (cohort, week, key) → counts) plus one keyed join of the
    tiny cohort table back onto per-day activity — day-integer
    arithmetic only, so the oracle is a full SQL re-derivation.

    Returns (cohort_date 'yyyy-MM-dd', week_offset, n_users) sorted."""
    days = events.select(F.col(key_col), F.to_date(F.col(ts_col)).alias("_d")).distinct()
    cohorts = days.groupBy(key_col).agg(F.min("_d").alias("_c"))
    return (
        days.join(cohorts, key_col)
        .select(
            F.col(key_col),
            F.col("_c"),
            F.floor(F.datediff(F.col("_d"), F.col("_c")) / F.lit(7))
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy("_c", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(
            F.date_format("_c", "yyyy-MM-dd").alias("cohort_date"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_date", "week_offset")
    )


def scd2_apply_batch(
    target: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """One incremental SCD2 MERGE step: stitch a changelog batch onto
    an existing SCD2 dimension (``target``; None/empty → the batch's
    own mini-SCD2). Pure DataFrame-in/DataFrame-out so it is testable
    without streaming machinery — ``streaming.sinks.foreach_batch_scd2``
    wraps it per micro-batch, and
    ``test_scd2_apply_batch_folds_equal_batch`` (hypothesis) pins that
    ANY batch split of an ordered changelog folds to the batch
    operator's exact output.

    Stitch semantics (per key touched by the batch): the open version
    EXTENDS through the batch's first run when the attribute matches
    (n_events merge, valid_from kept) and is CLOSED at the batch's
    first timestamp otherwise; batch versions renumber onto the key's
    version sequence; untouched keys and all closed history pass
    through. Requires batches in non-decreasing (ts, tiebreak) order
    per key — the CDC log contract."""
    mini = scd2_history(batch, key_col, attr_col, ts_col, tiebreak_col)
    if target is None:
        return mini
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    curk = cur.select(
        F.col(key_col),
        F.col(attr_col).alias("_cur_attr"),
        F.col("version").alias("_cur_ver"),
        F.col("valid_from").alias("_cur_from"),
        F.col("n_events").alias("_cur_n"),
    )
    j = mini.join(F.broadcast(curk), key_col, "left")
    # Per-key stitch verdict from the FIRST batch version: version
    # offset (extends -> cur_ver - 1; new key -> 0; attr changed ->
    # cur_ver) applies to EVERY batch version of that key, so compute
    # it once and join it back.
    first_verdict = (
        j.filter(F.col("version") == 1)
        .select(
            F.col(key_col),
            # New-key detection keys off _cur_ver (never NULL on a real
            # current row) — NOT _cur_attr, which is legitimately NULL
            # when the tracked attribute itself is NULL; eqNullSafe then
            # decides extend-vs-close for existing keys.
            F.when(F.col("_cur_ver").isNull(), F.lit(0))
            .when(
                F.col(attr_col).eqNullSafe(F.col("_cur_attr")),
                F.col("_cur_ver") - 1,
            )
            .otherwise(F.col("_cur_ver"))
            .alias("_off"),
            (
                F.col("_cur_ver").isNotNull()
                & F.col(attr_col).eqNullSafe(F.col("_cur_attr"))
            ).alias("_extends"),
        )
    )
    adj = (
        j.drop("_cur_attr")
        .join(F.broadcast(first_verdict), key_col)
        .select(
            F.col(key_col),
            F.col(attr_col),
            (F.col("version") + F.col("_off")).cast("bigint").alias("version"),
            F.when(F.col("_extends") & (F.col("version") == 1), F.col("_cur_from"))
            .otherwise(F.col("valid_from"))
            .alias("valid_from"),
            F.col("valid_to"),
            F.when(
                F.col("_extends") & (F.col("version") == 1),
                F.col("n_events") + F.col("_cur_n"),
            )
            .otherwise(F.col("n_events"))
            .cast("bigint")
            .alias("n_events"),
            F.col("is_current"),
        )
    )
    # close (or drop, if extended) the previously-open rows of touched keys
    fv = mini.filter(F.col("version") == 1).select(
        F.col(key_col), F.col("valid_from").alias("_b_from")
    )
    closed_cur = (
        cur.join(F.broadcast(first_verdict), key_col)
        .filter(~F.col("_extends"))
        .join(F.broadcast(fv), key_col)
        .select(
            F.col(key_col),
            F.col(attr_col),
            F.col("version"),
            F.col("valid_from"),
            F.col("_b_from").alias("valid_to"),
            F.col("n_events"),
            F.lit(False).alias("is_current"),
        )
    )
    untouched_cur = cur.join(
        F.broadcast(mini.select(key_col).distinct()), key_col, "left_anti"
    )
    return (
        hist.unionByName(untouched_cur)
        .unionByName(closed_cur)
        .unionByName(adj.select(*hist.columns))
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-slice numeric drift: the two-sample Kolmogorov–Smirnov
    statistic D = sup_x |F_slice(x) − F_rest(x)| between each slice's
    empirical CDF of ``value_col`` and the CDF of the REST of the
    corpus — the numeric complement of :func:`~bigdata_foundation_spark.
    operators.text.corpus_drift`'s token-distribution JS (which source
    / crawl / day drifted on a measured column). The sup over a step
    function is attained at observed values, so D is exact, not
    sampled.

    Plan shape: one (group, value) count aggregate (map-side partial)
    → a |distinct values| × |slices| evaluation grid (distinct-value
    rows cross-joined with the broadcast |slices|-row table — slices
    are FEW by construction, the corpus_drift contract) → one window
    cumsum per slice ordered by value → per-slice max. Rows never
    shuffle twice and the corpus is scanned once. At 100 TB with a
    high-cardinality continuous column, quantize/bin the value first
    (the standard ECDF-sketch practice) — the statistic is then exact
    on the binned distribution.

    NULL groups/values are excluded; a single-slice corpus returns
    NULL ks_d (no rest to drift from). Returns (group, n_slice,
    n_rest, ks_d) sorted by group; ks_d ships RAW (unrounded) — the
    integer-ratio arithmetic is bit-identical across engines, and
    rounding at compare time avoids the engine-specific
    .xx5-boundary divergence class (the r5 q9 lesson)."""
    base = df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
    counts = base.groupBy(group_col, value_col).agg(F.count("*").alias("_c"))
    groups = counts.groupBy(group_col).agg(F.sum("_c").alias("_ng"))
    values = counts.groupBy(value_col).agg(F.sum("_c").alias("_nv"))
    tot = groups.agg(F.sum("_ng").alias("_n"))
    grid = (
        values.crossJoin(F.broadcast(groups))
        .join(counts, [group_col, value_col], "left")
        .crossJoin(F.broadcast(tot))
    )
    w = Window.partitionBy(group_col).orderBy(F.asc(value_col))
    cum_g = F.sum(F.coalesce(F.col("_c"), F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_all = F.sum("_nv").over(w.rowsBetween(Window.unboundedPreceding, 0))
    n_rest = F.col("_n") - F.col("_ng")
    d = F.abs(
        cum_g / F.col("_ng")
        - (cum_all - cum_g) / F.nullif(n_rest, F.lit(0))
    )
    return (
        grid.select(F.col(group_col), F.col("_ng"), n_rest.alias("_nr"), d.alias("_d"))
        .groupBy(group_col)
        .agg(
            F.min("_ng").cast("bigint").alias("n_slice"),
            F.min("_nr").cast("bigint").alias("n_rest"),
            F.max("_d").alias("ks_d"),
        )
        .orderBy(group_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Table diff between two snapshots (the CDC / anti-entropy shape):
    full outer join on the key, classify each key as added / deleted /
    changed, drop unchanged. Comparison is null-safe (`eqNullSafe`).

    At scale this is one key-partitioned shuffle of both snapshots;
    with both sides bucketed on the key it is shuffle-free.
    """
    o = old.select(
        *keys, F.lit(True).alias("_in_old"), *[F.col(c).alias(f"_old_{c}") for c in compare_cols]
    )
    n = new.select(
        *keys, F.lit(True).alias("_in_new"), *[F.col(c).alias(f"_new_{c}") for c in compare_cols]
    )
    j = o.join(n, keys, "full_outer")
    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
    return (
        j.withColumn(
            "change_type",
            F.when(~in_old, F.lit("added"))
            .when(~in_new, F.lit("deleted"))
            .when(~same, F.lit("changed")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[F.col(f"_old_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"_new_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )


def shuffle_rank(
    df: DataFrame,
    key_col: str,
    seed: str = "shuffle",
    buckets: int = 65_536,
) -> DataFrame:
    """Deterministic global shuffle order for training: every row gets
    a dense rank ``_shuffle_rank`` (0-based) in md5(seed || key) order —
    the reproducible random permutation a training run reads the corpus
    in, stable across runs, partitionings, bucket counts, and engines
    (the rank depends only on the md5 order, never on ``buckets``).

    Scale shape: a naive ``row_number() OVER (ORDER BY hash)`` funnels
    the corpus through ONE partition. Instead the hash's leading hex
    digits give an order-aligned bucket (bucket is a monotone function
    of the sort key, so (bucket, hash) order == global hash order);
    ranking is then row_number within each bucket — one keyed
    shuffle — plus each bucket's cumulative row offset. ``buckets``
    is rounded up to the next power of 16 (hex-prefix widths); size it
    so corpus/buckets rows sort comfortably per task. Offsets come
    from a ≤ ``buckets``-row aggregate collected driver-side and
    rejoined as a broadcast table (not a giant literal map). No
    single-partition exchange anywhere (pinned in tests/test_plans.py).

    CONTRACT (same as paths._COUNT_MEMO): ``df``'s plan must be
    deterministic — the bucket counts and the final ranking evaluate
    it twice, so a nondeterministic source (sample/limit over
    unordered input) can disagree between passes; cache such inputs
    first.
    """
    import math

    from pyspark.sql import Window

    width = max(1, math.ceil(math.log(max(buckets, 2), 16)))
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(key, 1, width), 16, 10).cast("long")
    keyed = df.withColumn("_sk", key).withColumn("_bk", bucket)

    counts = keyed.groupBy("_bk").agg(F.count("*").alias("_n")).collect()
    rows = []
    acc = 0
    for r in sorted(counts, key=lambda r: r["_bk"]):
        rows.append((r["_bk"], acc))
        acc += r["_n"]
    off_df = F.broadcast(
        local_df(df.sparkSession, rows, "_bk long, _off long")
    )

    w = Window.partitionBy("_bk").orderBy("_sk", key_col)
    return (
        keyed.join(off_df, "_bk")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_shuffle_rank", (F.col("_off") + F.col("_rn") - 1).cast("bigint"))
        .drop("_sk", "_bk", "_rn", "_off")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic N-way split (train/val/test): each row lands in
    exactly one named split, chosen by where the first 8 hex digits of
    md5(salt || key) fall among cumulative weight boundaries over 2^32.

    Engine/run/partitioning-independent (same reproducibility contract
    as ``hash_sample``), evaluated as one scan-side CASE expression —
    no shuffle, composes with pushdown. Weights must sum to 1 (±1e-9);
    adds a ``split`` column."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    acc = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < F.lit(int(acc * 2**32))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return df.withColumn("split", last if expr is None else expr.otherwise(last))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "mixture",
) -> DataFrame:
    """Training-mixture downsampling: keep a per-group deterministic
    fraction of rows (e.g. {'web': 0.1, 'code': 1.0, 'books': 0.5} —
    the data-mixing step of a pretraining pipeline). Groups absent from
    ``fractions`` are dropped.

    One scan-side filter (md5 bucket per row vs the group's threshold
    via a literal map lookup) — no shuffle, no sampleBy partitioning
    dependence, reproducible across engines."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    thresholds = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in (kv[0], int(kv[1] * 2**32))]
    )
    thr = F.element_at(thresholds, F.col(group_col))
    return df.filter(thr.isNotNull() & (bucket < thr))


def rrf_fuse(
    rankings: dict[str, DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner (sparse BM25 + dense ANN, or any mix of
    rankers): RRF(d) = Σ_r 1/(k + rank_r(d)) over every ranking that
    contains d; items missing from a ranking contribute 0 (the
    union-of-candidates contract). k=60 is the paper's constant.

    ``rankings`` maps ranker name → DataFrame with (id_col, rank),
    rank 1-based. Fusion works on RANKS, never raw scores — which is
    what makes it cross-engine exact (integer ranks → identical
    rational sums) and scale-robust (no score normalization step).

    Each ranking must have AT MOST ONE row per id — RRF is defined on
    rank functions, not multisets. A duplicated id would fan out
    through the chained full-outer joins (rows multiply, score terms
    double-count), so each ranking is min-collapsed per id first: if a
    caller does feed duplicates, the id's BEST (smallest) rank counts
    once, deterministically, instead of corrupting the fusion (r6
    advice). The aggregate is a no-op shuffle-wise on the normal
    already-unique top-k inputs.

    Scale shape: rankings are typically top-k bounded (small), so the
    N−1 full-outer joins are broadcastable; at worst they are keyed
    joins on the id. Returns (id_col, {name}_rank ... nullable,
    rrf_score)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    out = None
    for name, df in rankings.items():
        cur = (
            df.select(F.col(id_col), F.col("rank"))
            .groupBy(id_col)
            .agg(F.min("rank").alias(f"{name}_rank"))
        )
        out = cur if out is None else out.join(cur, id_col, "full_outer")
    score = None
    for name in rankings:
        term = F.coalesce(
            1.0 / (F.lit(int(k)) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return out.withColumn("rrf_score", score)


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff between two dataset versions — the dataset-
    versioning primitive behind incremental re-processing and audit
    trails (what changed between crawl N and crawl N+1?): per id,
    ``status`` ∈ {added, removed, changed, unchanged}.

    Scale shape: content is fingerprinted SCAN-SIDE to 8 bytes
    (xxhash64 over ``content_cols``), so the full-outer join shuffles
    (id, fingerprint) pairs — never the document bodies; at 100 TB the
    diff costs one keyed shuffle of 16-byte rows per side. Equal
    fingerprints ⇒ unchanged (the standard 2⁻⁶⁴ collision contract —
    use the exact-equality verify join on the 'changed' survivors if
    bytes must be proven). NULL content hashes deterministically, so
    NULL-vs-NULL compares unchanged (null-safe semantics, matching
    SQL's IS NOT DISTINCT FROM). Caveat inherited from Spark's hash
    fold: a NULL column is SKIPPED, so with multiple content_cols the
    value pair (NULL, 'x') collides with ('x', NULL) — add a sentinel
    coalesce per column if that shape can occur."""
    cols = content_cols or [c for c in old.columns if c != id_col]
    o = old.select(F.col(id_col), F.xxhash64(*cols).alias("_ofp"))
    n = new.select(F.col(id_col), F.xxhash64(*cols).alias("_nfp"))
    status = (
        F.when(F.col("_ofp").isNull(), F.lit("added"))
        .when(F.col("_nfp").isNull(), F.lit("removed"))
        .when(F.col("_ofp") == F.col("_nfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(F.col(id_col), status.alias("status"))
        .orderBy(id_col)
    )
