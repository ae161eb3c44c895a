"""Reference operator spine declared over the driver's test tables.

Each query exercises one operator row of SURVEY.md §2 (the
citations name the reference behavior being reproduced), expressed
over ``events``/``lineitem``/``orders`` since those are the tables
the DuckDB oracle can check. The analytical core (U1/U2/U3) is also
declared here; those are per-series numpy fits and therefore
rows-only (no ``oracle_sql`` entry — the driver records the weaker
check, FIXTURES.md golden tests cover the math).

Scale notes: every SQL-expressible query below is a single scan →
(filter) → hash-aggregate plan: filters and column pruning push to
the parquet scan, aggregates get map-side partials, and nothing
collects to the driver. The U* queries add one co-partitioned
per-series fit pass (``operators.util.fit_series``: a keyed sort, then
``mapInArrow``) on top of an already-aggregated (small) frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trendengine_spark.functions.dbest import dbest_changes
from trendengine_spark.functions.polytrend import polytrend_groups
from trendengine_spark.operators.composite import annual_composite, monthly_composite
from trendengine_spark.operators.quality import qualified_series
from trendengine_spark.operators.stats import category_counts, decode_trend_type
from trendengine_spark.queries.base import query, t
from trendengine_spark.sqltext import sql_over_tables


# --- F1: temporal range filter (reference filterDate, polytrend.py:452-458)
@query(
    "f1_temporal_filter",
    sql="""
    SELECT event_id, ts, user_id, event_type, round(value, 3) AS value_r
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def f1_temporal_filter(spark, sf_dir):
    """F1: half-open temporal range pushed to the parquet scan."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .select(
            "event_id", "ts", "user_id", "event_type",
            F.round("value", 3).alias("value_r"),
        )
    )


# --- F2: rectangle (bbox) filter → conjunctive range predicates
@query(
    "f2_bbox_filter",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_discount BETWEEN 0.02 AND 0.06
    """,
)
def f2_bbox_filter(spark, sf_dir):
    """F2: bbox semantics = two BETWEEN predicates, parquet-prunable
    (reference filterBounds, polytrend.py:458)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20) & F.col("l_discount").between(0.02, 0.06)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# --- Spatial curve clustering (SURVEY §4.1 deferred item, now real)
@query(
    "spatial_zorder_rollup",
    sql="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS cx,
             CAST(round(l_discount * 100) AS BIGINT) AS cy,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), s1 AS (SELECT (cx | (cx << 8)) & 16711935 AS x,
                     (cy | (cy << 8)) & 16711935 AS y, cents FROM cells),
    s2 AS (SELECT (x | (x << 4)) & 252645135 AS x,
                  (y | (y << 4)) & 252645135 AS y, cents FROM s1),
    s3 AS (SELECT (x | (x << 2)) & 858993459 AS x,
                  (y | (y << 2)) & 858993459 AS y, cents FROM s2),
    s4 AS (SELECT (x | (x << 1)) & 1431655765 AS x,
                  (y | (y << 1)) & 1431655765 AS y, cents FROM s3)
    SELECT x | (y << 1) AS zkey, count(*) AS n_lines,
           CAST(round(CAST(sum(cents) AS DECIMAL(28,0))
                * CAST('0.01' AS DECIMAL(4,2)), 2) AS DOUBLE) AS revenue
    FROM s4 GROUP BY 1
    """,
)
def spatial_zorder_rollup(spark, sf_dir):
    """Z-order (Morton) spatial roll-up: the 2-D cell domain
    (integral quantity × 2-dp discount cells — exact integer
    quantization on both engines) collapses to ONE long grouping key
    via codegen bit-interleave (``operators/spatial.morton_key``), so
    the aggregate shuffles on a single co-locating key and prefix
    truncation coarsens the grid without re-keying. The write-side
    twin (``cluster_by_curve``) range-partitions by the same key for
    min-max row-group pruning; layout properties are asserted in
    tests/test_spatial.py."""
    from trendengine_spark.operators.spatial import morton_key

    li = t(spark, sf_dir, "lineitem")
    zkey = morton_key(
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_discount") * 100).cast("long"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.select(zkey, cents.alias("cents"))
        .groupBy("zkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum("cents").cast("decimal(28,0)")
                * F.lit("0.01").cast("decimal(4,2)"),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# --- F3: column pruning / band projection (reference dbest.py:576-580)
@query(
    "f3_projection",
    sql="SELECT event_id, round(value, 3) AS value_r FROM events",
)
def f3_projection(spark, sf_dir):
    """F3: projection — ReadSchema must shrink to two columns."""
    return t(spark, sf_dir, "events").select(
        "event_id", F.round("value", 3).alias("value_r")
    )


# --- F4: per-series quality gate (all values > threshold ⇔ min > threshold)
@query(
    "f4_quality_gate",
    sql="""
    SELECT user_id, round(min(value), 6) AS min_value
    FROM events
    GROUP BY user_id
    HAVING min(value) > 0.5
    """,
)
def f4_quality_gate(spark, sf_dir):
    """F4: qualifying series keys (reference all(val>t), polytrend.py:284).

    Threshold 0.5 sits at the median of per-user minima in the test
    data, so the gate both admits and rejects series at every sf —
    the check is non-vacuous (a 5.0 threshold passed with 0 rows on
    both engines, certifying nothing)."""
    ev = t(spark, sf_dir, "events")
    out = qualified_series(ev, ["user_id"], threshold=0.5, value_col="value")
    return out.select("user_id", F.round("min_value", 6).alias("min_value"))


# --- F5: value/coordinate rounding (reference dbest.py:108-109,127-129)
@query(
    "f5_rounding",
    sql="""
    SELECT event_id, round(value, 3) AS value_3, round(value, 1) AS value_1,
           round(value / 7.0, 4) AS ratio_4
    FROM events WHERE event_id < 1000
    """,
)
def f5_rounding(spark, sf_dir):
    """F5: F.round at several scales."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.round("value", 3).alias("value_3"),
        F.round("value", 1).alias("value_1"),
        F.round(F.col("value") / 7.0, 4).alias("ratio_4"),
    )


# --- F6: coordinate parse (regex strip + split + cast, polytrend.py:435-448)
@query(
    "f6_coordinate_parse",
    sql="""
    SELECT doc_id,
           CAST(string_split(regexp_replace(coord, '[\\[\\]]', '', 'g'), ',')[1] AS DOUBLE) AS lon,
           CAST(string_split(regexp_replace(coord, '[\\[\\]]', '', 'g'), ',')[2] AS DOUBLE) AS lat
    FROM (
      SELECT doc_id,
             concat('[', CAST(doc_id % 360 - 180 AS VARCHAR), '.25,',
                    CAST(doc_id % 180 - 90 AS VARCHAR), '.5]') AS coord
      FROM documents
    )
    """,
)
def f6_coordinate_parse(spark, sf_dir):
    """F6: '[lon,lat]' string → doubles, as column ops (regexp_replace
    + split + cast — reference polytrend.py:435-448)."""
    docs = t(spark, sf_dir, "documents")
    coord = F.concat(
        F.lit("["),
        ((F.col("doc_id") % 360) - 180).cast("string"), F.lit(".25,"),
        ((F.col("doc_id") % 180) - 90).cast("string"), F.lit(".5]"),
    )
    stripped = F.regexp_replace(coord, r"[\[\]]", "")
    parts = F.split(stripped, ",")
    return docs.select(
        "doc_id",
        parts.getItem(0).cast("double").alias("lon"),
        parts.getItem(1).cast("double").alias("lat"),
    )


# --- F7: epoch-ms timestamp decode (reference utils.py:16,19)
@query(
    "f7_timestamp_decode",
    sql="""
    SELECT event_id,
           epoch_ms(CAST(floor(epoch_ms(ts) / 1000) * 1000 AS BIGINT)) AS ts_decoded
    FROM events WHERE event_id < 2000
    """,
)
def f7_timestamp_decode(spark, sf_dir):
    """F7: round-trip ts → epoch ms (second-floored) → timestamp via
    timestamp_millis (reference pd.to_datetime(unit='ms'))."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ms = (F.floor(F.unix_timestamp("ts")) * 1000).cast("long")
    return ev.select("event_id", F.timestamp_millis(ms).alias("ts_decoded"))


# --- F8: code→label decode (reference polytrend.py:204-211)
@query(
    "f8_decode_labels",
    sql="""
    SELECT l_returnflag,
           CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted'
                             WHEN 'N' THEN 'none' ELSE 'unknown' END AS flag_label,
           count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f8_decode_labels(spark, sf_dir):
    """F8: when/otherwise decode chain — stays in whole-stage codegen."""
    li = t(spark, sf_dir, "lineitem")
    label = (
        F.when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_returnflag") == "A", "accepted")
        .when(F.col("l_returnflag") == "N", "none")
        .otherwise("unknown")
    )
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("flag_label", label)
        .select("l_returnflag", "flag_label", "cnt")
    )


# --- A1: annual composite (reference polytrend.py:375-399, mean at :387)
@query(
    "a1_annual_composite",
    sql="""
    SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS yr,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / CAST(100 * count(l_extendedprice) AS DOUBLE) AS value
    FROM lineitem GROUP BY l_returnflag, year(l_shipdate)
    """,
)
def a1_annual_composite(spark, sf_dir):
    """A1: per-series annual mean composite — one hash aggregate.

    Exact mean via integer cents (r9 hardening — found by the first
    full sf0.1 oracle sweep): the prior decimal(18,10)-sum → double
    cast drifted ONE ULP at sf0.1 magnitudes because DuckDB's
    decimal→double conversion scales by 10⁻¹⁰ in floating point (not
    correctly rounded) while Spark's BigDecimal.doubleValue is. The
    2-dp prices re-quantize to exact int64 cents, both the sum and
    100·count convert to double EXACTLY (< 2⁵³; split-accumulator
    beyond — see profile_numeric_correlations), and the mean is ONE
    correctly-rounded division — bit-identical on any engine. The
    ``annual_composite`` operator (operators/composite.py) remains
    the programmatic API, exercised by a1_max/a2/engine flows."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, year(l_shipdate) AS yr,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE)
                 / CAST(100 * count(l_extendedprice) AS DOUBLE) AS value
        FROM lineitem GROUP BY l_returnflag, year(l_shipdate)
        """,
        ("lineitem",),
    )


# --- A1b: max-composite variant (doc/code conflict, SURVEY §4.4.1)
@query(
    "a1_annual_composite_max",
    sql="""
    SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS yr,
           round(max(l_extendedprice), 2) AS value
    FROM lineitem GROUP BY l_returnflag, year(l_shipdate)
    """,
)
def a1_annual_composite_max(spark, sf_dir):
    """A1 (how='max'): the README-documented maximum-value composite."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_shipdate").alias("time"),
        F.col("l_extendedprice").alias("value"),
    )
    out = annual_composite(li, ["l_returnflag"], how="max")
    return out.select("l_returnflag", "yr", F.round("value", 2).alias("value"))


# --- A2: monthly composite (reference dbest.py:34-62)
@query(
    "a2_monthly_composite",
    sql="""
    SELECT event_type, CAST(date_trunc('month', ts) AS TIMESTAMP) AS period_start,
           CAST(sum(CAST(value AS DECIMAL(18,10))) AS DOUBLE)
                 / count(value) AS value
    FROM events GROUP BY event_type, date_trunc('month', ts)
    """,
)
def a2_monthly_composite(spark, sf_dir):
    """A2: per-series monthly mean composite."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").alias("time"), "value"
    )
    out = monthly_composite(ev, ["event_type"])
    return out.select("event_type", "period_start", "value")


# --- A3: count-distinct series length (reference O(N²) loop, polytrend.py:271-277)
@query(
    "a3_count_distinct",
    sql="""
    SELECT event_type, count(DISTINCT user_id) AS n_users,
           count(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY event_type
    """,
)
def a3_count_distinct(spark, sf_dir):
    """A3: countDistinct replaces the reference's O(N²) membership loop."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
    )


# --- A4+A5: categorical counts + percentage-of-total (reference utils.py:37-64)
@query(
    "a4_a5_category_counts",
    sql="""
    SELECT event_type, count(*) AS cnt,
           round(count(*) * 100.0 / sum(count(*)) OVER (), 1) AS pct
    FROM events GROUP BY event_type
    """,
)
def a4_a5_category_counts(spark, sf_dir):
    """A4/A5: single-pass category roll-up with share-of-total."""
    return category_counts(t(spark, sf_dir, "events"), "event_type")


# --- A6: sum (pie normalization, reference polytrend.py:64,100)
@query(
    "a6_sum",
    sql="""
    SELECT l_returnflag, round(CAST(sum(l_quantity) AS DOUBLE), 2) AS total_qty,
           round(sum(l_quantity) / (SELECT sum(l_quantity) FROM lineitem), 6) AS frac
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a6_sum(spark, sf_dir):
    """A6: per-category sum + fraction-of-grand-total."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("_s"))
    total = Window.partitionBy()
    return g.select(
        "l_returnflag",
        F.round(F.col("_s").cast("double"), 2).alias("total_qty"),
        F.round(F.col("_s") / F.sum("_s").over(total), 6).alias("frac"),
    )


# --- A7: count rows (reference polytrend.py:279)
@query("a7_count_rows", sql="SELECT count(*) AS n_rows FROM lineitem")
def a7_count_rows(spark, sf_dir):
    """A7: total row count."""
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


# --- D2: explode / flatten (reference dbest.py:525,587)
@query(
    "d2_explode_tokens",
    sql="""
    SELECT word, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def d2_explode_tokens(spark, sf_dir):
    """D2: split + explode → word frequency (flatten analog)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


# --- D1: period pairing via generated sequence + range join (polytrend.py:391-398)
@query(
    "d1_period_pairing",
    sql="""
    WITH months AS (
      SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01',
                                    INTERVAL 1 MONTH)) AS m
    )
    SELECT m AS period_start, count(o_orderkey) AS n_orders,
           coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(10,2))), 2) AS DOUBLE), 0)
             AS revenue
    FROM months LEFT JOIN orders
      ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
    GROUP BY m
    """,
)
def d1_period_pairing(spark, sf_dir):
    """D1: the reference's zip-repeat-map pairing = generate a month
    sequence, pair the fact table per period, aggregate. Because
    calendar periods tile the time axis, the range predicate
    ``o_orderdate ∈ [m, m+1mo)`` is equivalent to the equi-join
    ``date_trunc('month', o_orderdate) = m``.

    Scale shape: aggregate-then-join. The fact table collapses to one
    row per month FIRST (map-side partial aggregation — the shuffle
    carries ~#months rows, never raw orders), and the generated month
    grid left-joins the tiny aggregate via broadcast. Joining the raw
    fact table to the grid before aggregating would shuffle the whole
    table on ~80 distinct month values — a textbook low-cardinality
    skew shuffle at 100× scale."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH per_month AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 count(o_orderkey) AS _n,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(10,2))), 2)
                      AS DOUBLE) AS _rev
          FROM orders GROUP BY 1
        ), months AS (
          SELECT explode(sequence(TIMESTAMP '1995-01-01',
                                  TIMESTAMP '2001-08-01',
                                  interval 1 month)) AS m
        )
        SELECT /*+ BROADCAST(per_month) */
               months.m AS period_start,
               coalesce(_n, 0) AS n_orders,
               coalesce(_rev, CAST(0.0 AS DOUBLE)) AS revenue
        FROM months LEFT JOIN per_month ON months.m = per_month.m
        """,
        ("orders",),
    )


def _monthly_cents_mean(li):
    """Monthly mean of the 2-dp price column via INTEGER CENTS (r11 —
    caught by the first full sf1 sweep, the exact drift class the a1
    fix documented in r9): the decimal(18,10)-sum → double cast
    drifts one ulp at sf1 monthly-sum magnitudes because DuckDB's
    decimal→double conversion scales by 1e-10 in floating point while
    Spark's BigDecimal.doubleValue is correctly rounded. Cents make
    sum and 100·count exact int64 → exact doubles → ONE
    correctly-rounded division, bit-identical on both engines at any
    scale. ``monthly_composite`` (generic values, not 2-dp-origin)
    remains the programmatic API, as ``annual_composite`` did for a1.
    """
    return li.groupBy(
        "l_returnflag",
        F.date_trunc("month", F.col("time")).alias("period_start"),
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / (F.lit(100) * F.count("value")).cast("double")
        ).alias("value")
    )


# --- A2 + densify: fill_missing_months declared against the oracle
@query(
    "a2b_fill_missing_months",
    sql="""
    WITH m AS (
      SELECT l_returnflag, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS period_start,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(100 * count(l_extendedprice) AS DOUBLE) AS value
      FROM lineitem WHERE month(l_shipdate) <> 6
      GROUP BY 1, 2
    ), spans AS (
      SELECT l_returnflag, min(period_start) AS mn, max(period_start) AS mx FROM m GROUP BY 1
    ), grid AS (
      SELECT l_returnflag, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS period_start
      FROM spans
    )
    SELECT g.l_returnflag, g.period_start, m.value,
           CAST(m.value IS NULL AS BOOLEAN) AS is_gap
    FROM grid g LEFT JOIN m USING (l_returnflag, period_start)
    """,
)
def a2b_fill_missing_months(spark, sf_dir):
    """A2 + densification: June excluded from the composite, then
    ``fill_missing_months`` restores the regular grid with null rows
    (the DBEST pre-processing step, declared against the oracle)."""
    from trendengine_spark.operators.composite import fill_missing_months

    li = t(spark, sf_dir, "lineitem").filter(F.month("l_shipdate") != 6).select(
        "l_returnflag",
        F.col("l_shipdate").alias("time"),
        F.col("l_extendedprice").alias("value"),
    )
    monthly = _monthly_cents_mean(li).select(
        "l_returnflag", "period_start", "value"
    )
    dense = fill_missing_months(monthly, ["l_returnflag"])
    return dense.select(
        "l_returnflag", "period_start", "value",
        F.col("value").isNull().alias("is_gap"),
    )


# --- A2 + interpolate: JVM-side linear gap fill (oracle-checked)
@query(
    "a2c_interpolate_gaps",
    sql="""
    WITH m AS (
      SELECT l_returnflag, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS period_start,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(100 * count(l_extendedprice) AS DOUBLE) AS value
      FROM lineitem WHERE month(l_shipdate) <> 6
      GROUP BY 1, 2
    ), spans AS (
      SELECT l_returnflag, min(period_start) AS mn, max(period_start) AS mx FROM m GROUP BY 1
    ), grid AS (
      SELECT l_returnflag, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS period_start
      FROM spans
    ), dense AS (
      SELECT g.l_returnflag, g.period_start, m.value,
             year(g.period_start) * 12 + month(g.period_start) AS i
      FROM grid g LEFT JOIN m USING (l_returnflag, period_start)
    ), ctx AS (
      SELECT l_returnflag, period_start, value, i,
             last_value((CASE WHEN value IS NOT NULL THEN i END) IGNORE NULLS)
               OVER wb AS pi,
             last_value((CASE WHEN value IS NOT NULL THEN value END) IGNORE NULLS)
               OVER wb AS pv,
             first_value((CASE WHEN value IS NOT NULL THEN i END) IGNORE NULLS)
               OVER wf AS ni,
             first_value((CASE WHEN value IS NOT NULL THEN value END) IGNORE NULLS)
               OVER wf AS nv
      FROM dense
      WINDOW wb AS (PARTITION BY l_returnflag ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY l_returnflag ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT l_returnflag, period_start,
           round(CASE WHEN value IS NOT NULL THEN value
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * (i - pi) / (ni - pi) END, 6)
             AS value_filled
    FROM ctx
    """,
)
def a2c_interpolate_gaps(spark, sf_dir):
    """A2 → densify → JVM-side linear interpolation of the null gaps
    (``interpolate_months``) — the regular-grid preprocessing chain as
    pure window functions, no UDF, oracle-checked end-to-end."""
    from trendengine_spark.operators.composite import (
        fill_missing_months,
        interpolate_months,
    )

    li = t(spark, sf_dir, "lineitem").filter(F.month("l_shipdate") != 6).select(
        "l_returnflag",
        F.col("l_shipdate").alias("time"),
        F.col("l_extendedprice").alias("value"),
    )
    dense = fill_missing_months(
        _monthly_cents_mean(li), ["l_returnflag"]
    )
    out = interpolate_months(dense, ["l_returnflag"])
    return out.select(
        "l_returnflag", "period_start",
        F.round("value_filled", 6).alias("value_filled"),
    )


# --- F8 applied to engine output + U1: PolyTrend over event series (rows-only)
@query(
    "u1_polytrend_events",
    sql=None,
    doc="U1: PolyTrend classification per event_type over daily-mean "
    "series (per-series numpy fit; golden-tested in tests/, not SQL-expressible).",
)
def u1_polytrend_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").alias("time"), "value"
    )
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "time").alias("day"))
        .agg(F.avg("value").alias("value"))
    )
    res = polytrend_groups(daily, ["event_type"], time_col="day", value_col="value")
    return decode_trend_type(res).select(
        "event_type", "trend_type", "trend_type_label", "direction",
        "significance", "degree", "n_points",
        F.round("slope", 6).alias("slope_r"),
    )


# --- U2: DBEST change detection over event series (rows-only)
@query(
    "u2_dbest_events",
    sql=None,
    doc="U2: DBEST change detection per event_type over daily series "
    "(per-series numpy fit; golden-tested in tests/).",
)
def u2_dbest_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").alias("time"), "value"
    )
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "time").alias("period_start"))
        .agg(F.avg("value").alias("value"))
    )
    res = dbest_changes(daily, ["event_type"], seasonality=7)
    return res.select(
        "event_type", "breakpoint_no", "segment_no", "start", "duration", "end",
        "change_type", F.round("change", 6).alias("change_r"),
    )


# --- A1→U1 flagship composition: filter → composite → classify (rows-only)
@query(
    "flagship_trend_pipeline",
    sql=None,
    doc="End-to-end flow (§3.2): temporal filter → monthly composite → "
    "quality gate → PolyTrend per series key.",
)
def flagship_trend_pipeline(spark, sf_dir):
    """Relational prologue (scan → F1 temporal filter → A2 monthly
    exact-decimal mean) through the SQL front-end — one analysis pass,
    arithmetic identical to ``filter_years`` + ``monthly_composite``
    (half-open year bound; per-row /1000.0 in double then
    DECIMAL(18,10) sum ÷ count) — then the per-series PolyTrend
    fit pass on top. Output pinned unchanged across the r6 rewrite at
    sf0.001 and sf0.01."""
    monthly = sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT l_returnflag,
               CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
                 AS period_start,
               CAST(sum(CAST(l_extendedprice / 1000.0 AS DECIMAL(18,10)))
                    AS DOUBLE) / count(l_extendedprice) AS value
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '2002-01-01'
        GROUP BY l_returnflag, date_trunc('month', l_shipdate)
        """,
        ("lineitem",),
    )
    res = polytrend_groups(
        monthly, ["l_returnflag"], time_col="period_start", value_col="value"
    )
    return res.select(
        "l_returnflag", "trend_type", "direction", "significance", "degree",
        "n_points", F.round("slope", 6).alias("slope_r"),
    )


_PENTAGON = [(10.0, 2.0), (25.0, 1.0), (40.0, 3.0), (35.0, 8.0), (15.0, 9.0)]


def _pentagon_sql() -> str:
    from trendengine_spark.operators.spatial import polygon_contains_sql

    return polygon_contains_sql(
        "CAST(l_quantity AS DOUBLE)", "(l_discount * 100)", _PENTAGON
    )


@query(
    "f2b_polygon_filter",
    sql=f"""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE {_pentagon_sql()}
    """,
)
def f2b_polygon_filter(spark, sf_dir):
    """F2 extended to a GENERAL polygon AOI — the case the reference
    reserves in its form grammar but disables in the UI (draw control:
    rectangle/marker only, `static/utils.js:104-110`; the coordinate
    parser's >2-point branch builds an `ee.Geometry.Polygon`,
    `polytrend.py:444-448`). Ray-casting parity as one codegen
    boolean expression over the same synthetic coordinate plane F2
    uses ((l_quantity, l_discount·100) as (x, y)): per-edge crossing
    tests XOR-accumulated, no UDF, no join — so a polygon AOI costs
    the same scan as a bbox, minus min/max row-group pruning (the
    right layout pairs it with a Z-order cluster + the bbox of the
    polygon as a pre-filter; the bbox pre-filter is deliberately
    omitted here so the oracle exercises the raw parity expression).
    DuckDB evaluates the identically-unrolled SQL text — same IEEE
    arithmetic, hash-exact."""
    from trendengine_spark.operators.spatial import polygon_contains

    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        polygon_contains(
            F.col("l_quantity").cast("double"),
            F.col("l_discount") * 100,
            _PENTAGON,
        )
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
