"""Generic OLAP operators over the events table: exact distributed
percentiles and ordered funnels. (Engine extensions past the reference
surface — the reference's summary stack stops at histogram/classBreaks
(``raster/.../summary/``, upstream layout); these are the table-native
analytics a 100 TB events store needs alongside it.)

Both are written integer/timestamp-exact so the DuckDB oracles match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

CENTS = "cast(floor(value * 100 + 0.5) as bigint)"


def group_percentiles(
    events: DataFrame,
    group_col: str = "event_type",
    percentiles: tuple[int, ...] = (50, 95, 99),
    grid_cents: int | None = None,
) -> DataFrame:
    """Exact percentile_disc per group, 100 TB shape: instead of a
    single-partition sort per group, values are COMPRESSED to
    (group, value, freq) by one hash-aggregate; the rank-selection
    window then runs over distinct values only.

    CONTRACT — the per-group window is bounded by the DISTINCT-VALUE
    domain, not the row count. For discretized domains (cents, ints,
    enums) that bound is small and fixed and the result is exact
    percentile_disc: the value at 0-based index floor((n-1)*p/100) of
    the sorted multiset = the smallest value whose cumulative
    frequency exceeds that index — pure integer math, bit-exact vs
    the oracle. For a heavy-tailed CONTINUOUS domain the distinct
    count approaches the row count again and the window becomes a
    per-group sort — for that case set ``grid_cents``: values are
    floored onto a fixed-width grid of that many cents FIRST, so the
    window is bounded by domain/grid_cents buckets regardless of row
    count (percentiles are then exact over the gridded multiset, i.e.
    correct to one grid step — the standard t-digest-style tradeoff,
    but deterministic).

    Returns one row per group: (group, n, p<p>_cents...)."""
    cents = CENTS
    if grid_cents is not None:
        cents = f"(({CENTS}) div {grid_cents}) * {grid_cents}"
    freq = events.selectExpr(group_col, f"{cents} as cents").groupBy(
        group_col, "cents"
    ).agg(F.count("*").alias("freq"))
    w = Window.partitionBy(group_col).orderBy("cents")
    cum = freq.withColumn("cum", F.sum("freq").over(w))
    counts = freq.groupBy(group_col).agg(F.sum("freq").alias("n"))
    j = cum.join(F.broadcast(counts), group_col)
    aggs = [F.max("n").alias("n")]
    for p in percentiles:
        idx = f"((n - 1) * {p}) div 100"
        aggs.append(
            F.min(F.expr(f"case when cum >= {idx} + 1 then cents end")).alias(
                f"p{p}_cents"
            )
        )
    return j.groupBy(group_col).agg(*aggs)


def group_percentiles_sql(
    source_sql: str = "events",
    group_col: str = "event_type",
    percentiles: tuple[int, ...] = (50, 95, 99),
    grid_cents: int | None = None,
) -> str:
    cents = CENTS
    if grid_cents is not None:
        # DuckDB // floors, Spark div truncates — identical on the
        # non-negative cents domain this engine defines
        cents = f"(({CENTS}) // {grid_cents}) * {grid_cents}"
    cols = ",\n           ".join(
        f"min(CASE WHEN cum >= ((n - 1) * {p}) // 100 + 1 THEN cents END)"
        f" AS p{p}_cents"
        for p in percentiles
    )
    return f"""
    WITH freq AS (
      SELECT {group_col}, {cents} AS cents, count(*) AS freq
      FROM {source_sql} GROUP BY 1, 2
    ),
    cum AS (
      SELECT {group_col}, cents, freq,
             sum(freq) OVER (PARTITION BY {group_col} ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM freq
    ),
    counts AS (
      SELECT {group_col}, CAST(sum(freq) AS BIGINT) AS n FROM freq GROUP BY 1
    )
    SELECT cum.{group_col}, max(n) AS n,
           {cols}
    FROM cum JOIN counts USING ({group_col})
    GROUP BY 1
    """


FUNNEL_STEPS = ("signup", "click", "purchase")


def funnel(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Ordered funnel: users whose first step-k event STRICTLY follows
    their first qualifying step-(k-1) event. Chained per-user
    conditional min-aggregations — every stage is an equi-shuffle on
    user_id (AQE-splittable), no windows, no per-row python; the
    per-user state the reference pattern would hold in a driver loop
    is just k timestamp columns here.

    Returns one row: (step1_users, step2_users, ..., stepk_users)."""
    cur = events.where(F.col("event_type") == steps[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t1"))
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            events.where(F.col("event_type") == step)
            .join(cur, "user_id")
            .where(F.col("ts") > F.col(f"t{k - 1}"))
            .groupBy("user_id", *[f"t{i}" for i in range(1, k)])
            .agg(F.min("ts").alias(f"t{k}"))
        )
        cur = cur.join(
            nxt.select("user_id", f"t{k}"), "user_id", "left"
        )
    aggs = [
        F.count(F.col(f"t{k}")).alias(f"step{k}_users")
        for k in range(1, len(steps) + 1)
    ]
    return cur.agg(*aggs)


def funnel_sql(
    source_sql: str = "events", steps: tuple[str, ...] = FUNNEL_STEPS
) -> str:
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t1 FROM {source_sql} "
        f"WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    prev = "s1"
    for k, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{k} AS (SELECT e.user_id, min(e.ts) AS t{k} "
            f"FROM {source_sql} e JOIN {prev} USING (user_id) "
            f"WHERE e.event_type = '{step}' AND e.ts > {prev}.t{k - 1} "
            f"GROUP BY 1)"
        )
        prev = f"s{k}"
    joins = " ".join(
        f"LEFT JOIN s{k} USING (user_id)" for k in range(2, len(steps) + 1)
    )
    counts = ", ".join(
        f"count(t{k}) AS step{k}_users" for k in range(1, len(steps) + 1)
    )
    return f"WITH {', '.join(ctes)} SELECT {counts} FROM s1 {joins}"


def retention(events: DataFrame, period_sec: int = 604800) -> DataFrame:
    """Cohort retention: users bucketed by their FIRST active period
    (week by default), counted once per (cohort, periods-since) they
    were active — the training-telemetry staple. Integer epoch math
    end-to-end (UTC): the oracle floors epoch seconds BEFORE casting
    (DuckDB CAST double->int ROUNDS, Spark unix_timestamp truncates —
    an uncast epoch would disagree within 0.5s of a week boundary), so
    the comparison is bit-exact. Three hash-aggs +
    one equi-join on user_id; the distinct is the only extra shuffle.
    Output: (cohort, period_off, users) — period_off, not "offset",
    which is a reserved word in DuckDB."""
    wk = events.selectExpr(
        "user_id",
        f"cast(unix_timestamp(ts) as bigint) div {period_sec} as wk",
    )
    first = wk.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    active = (
        wk.join(first, "user_id")
        .selectExpr("user_id", "cohort", "wk - cohort as period_off")
        .distinct()
    )
    return active.groupBy("cohort", "period_off").agg(
        F.count("*").alias("users")
    )


def retention_sql(source_sql: str = "events", period_sec: int = 604800) -> str:
    return f"""
    WITH wk AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // {period_sec} AS wk
      FROM {source_sql}
    ),
    firstp AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY 1),
    active AS (
      SELECT DISTINCT user_id, cohort, wk - cohort AS period_off
      FROM wk JOIN firstp USING (user_id)
    )
    SELECT cohort, period_off, CAST(count(*) AS BIGINT) AS users
    FROM active GROUP BY 1, 2
    """


HLL_M = 256        # registers (p=8)
HLL_RHO_CAP = 40   # keeps sum(2^(CAP-rho)) within int64 exactly


def hll_sketch(
    events: DataFrame,
    group_col: str = "event_type",
    key_expr: str = "cast(user_id as string)",
) -> DataFrame:
    """Deterministic HyperLogLog sketch as DataFrame ops — the sketch
    itself is the oracle-checkable artifact (no float anywhere):

    - register index = md5-hash(key) mod m; register value = max over
      keys of rho (leading-zero count of the remaining 52 hash bits,
      via length(bin(v)) — identical in Spark and DuckDB), capped so
      the power sums below stay exact in int64.
    - the per-group register table is the MERGEABLE sketch: union two
      sketches = max per register — the same partial-aggregate shape
      the two-phase hash aggregate already exploits distributedly.
    - output per group: m_used (non-empty registers), sum_pow =
      sum(2^(CAP-rho)) + empty_registers * 2^CAP (all integer), and
      raw_est = m^2 * 2^CAP div sum_pow — the raw HLL
      estimate BEFORE the alpha_m bias constant
      (a driver-side scalar multiply, kept off the oracle so no float
      enters the comparison), plus the exact distinct for reference.
    """
    m, cap = HLL_M, HLL_RHO_CAP
    from .dedup import hex2int_spark

    h = hex2int_spark(key_expr)
    keyed = events.selectExpr(
        group_col, f"{h} as _h", key_expr + " as _k"
    ).selectExpr(
        group_col, "_k", f"_h % {m} as bucket", f"_h div {m} as v"
    ).selectExpr(
        group_col, "bucket", "_k",
        f"least(case when v = 0 then 53 else 52 - length(bin(v)) + 1 end, "
        f"{cap}) as rho",
    )
    regs = keyed.groupBy(group_col, "bucket").agg(F.max("rho").alias("r"))
    exact = keyed.groupBy(group_col).agg(
        F.count_distinct("_k").alias("n_exact")
    )
    out = regs.groupBy(group_col).agg(
        F.count("*").alias("m_used"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {cap} - r)")).alias("_s"),
    ).selectExpr(
        group_col,
        "m_used",
        f"_s + ({m} - m_used) * shiftleft(cast(1 as bigint), {cap}) "
        "as sum_pow",
    ).selectExpr(
        group_col,
        "m_used",
        "sum_pow",
        f"cast({m} as bigint) * {m} * shiftleft(cast(1 as bigint), {cap}) "
        "div sum_pow as raw_est",
    )
    return out.join(exact, group_col)


def hll_sketch_sql(
    source_sql: str = "events",
    group_col: str = "event_type",
    key_expr: str = "CAST(user_id AS VARCHAR)",
) -> str:
    from .dedup import hex2int_duckdb

    m, cap = HLL_M, HLL_RHO_CAP
    h = hex2int_duckdb(key_expr)
    return f"""
    WITH hashed AS (
      SELECT {group_col}, ({h}) AS _h, {key_expr} AS _k
      FROM {source_sql}
    ),
    keyed AS (
      SELECT {group_col}, _k,
             _h % {m} AS bucket,
             least(CASE WHEN _h // {m} = 0 THEN 53
                   ELSE 52 - length(bin(_h // {m})) + 1 END,
                   {cap}) AS rho
      FROM hashed
    ),
    regs AS (
      SELECT {group_col}, bucket, max(rho) AS r
      FROM keyed GROUP BY 1, 2
    ),
    ex AS (
      SELECT {group_col}, CAST(count(DISTINCT _k) AS BIGINT) AS n_exact
      FROM keyed GROUP BY 1
    ),
    agg AS (
      SELECT {group_col}, CAST(count(*) AS BIGINT) AS m_used,
             CAST(sum(CAST(1 AS BIGINT) << ({cap} - r)) AS BIGINT)
               + ({m} - count(*)) * (CAST(1 AS BIGINT) << {cap}) AS sum_pow
      FROM regs GROUP BY 1
    )
    SELECT agg.{group_col}, m_used, sum_pow,
           CAST({m} AS BIGINT) * {m} * (CAST(1 AS BIGINT) << {cap})
             // sum_pow AS raw_est,
           n_exact
    FROM agg JOIN ex USING ({group_col})
    """


CM_DEPTH = 4      # independent hash rows
CM_WIDTH = 512    # counters per row


def countmin_sketch(
    events: DataFrame,
    group_col: str = "event_type",
    key_expr: str = "cast(user_id as string)",
    weight_expr: str = "1",
) -> DataFrame:
    """Count-min sketch as DataFrame ops — like ``hll_sketch``, the
    sketch IS the oracle-checkable artifact (pure integers): depth
    md5-salted hash rows x width counters, counter = sum of weights of
    keys hashing there. Mergeable by counter-wise ADDITION (the
    two-phase hash aggregate already does the distributed merge);
    a point query reads min over its depth counters (over-estimate
    bounded by eps = e/width with prob 1-delta = 1-e^-depth).
    Output: one row per (group, row, slot) with its exact counter —
    the full sketch table, shuffled once."""
    m, d = CM_WIDTH, CM_DEPTH
    from .dedup import hex2int_spark

    # NULL keys are EXCLUDED on both sides: Spark concat(NULL,..) is
    # NULL while DuckDB concat skips NULLs — without the filter the
    # sketches silently diverge on nullable key columns
    rows = events.selectExpr(
        group_col,
        f"cast({weight_expr} as bigint) as _w",
        f"{key_expr} as _k",
    ).where("_k is not null").selectExpr(
        group_col, "_w",
        f"explode(array({', '.join(str(i) for i in range(d))})) as row",
        "_k",
    )
    salted = "concat(_k, '#', row)"
    rows = rows.selectExpr(
        group_col, "_w", "row",
        f"{hex2int_spark(salted)} % {m} as slot",
    )
    return rows.groupBy(group_col, "row", "slot").agg(
        F.sum("_w").cast("long").alias("counter")
    )


def countmin_sketch_sql(
    source_sql: str = "events",
    group_col: str = "event_type",
    key_expr: str = "CAST(user_id AS VARCHAR)",
    weight_expr: str = "1",
) -> str:
    from .dedup import hex2int_duckdb

    m, d = CM_WIDTH, CM_DEPTH
    h = hex2int_duckdb("concat(_k, '#', row)")
    return f"""
    WITH rows_ AS (
      SELECT {group_col}, CAST({weight_expr} AS BIGINT) AS _w,
             {key_expr} AS _k, row
      FROM {source_sql}, (SELECT unnest(generate_series(0, {d - 1})) AS row)
      WHERE {key_expr} IS NOT NULL
    )
    SELECT {group_col}, row, ({h}) % {m} AS slot,
           CAST(sum(_w) AS BIGINT) AS counter
    FROM rows_ GROUP BY 1, 2, 3
    """
