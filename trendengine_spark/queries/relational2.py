"""Second coverage batch: the SURVEY §2 rows not exercised by the
first registry pass — S2 (grid/scale coarsening), S3 (explicit
schema-on-read), U3/U5 (generalization / decomposition, rows-only),
plus deeper §2.6 closure (subqueries, HAVING, UNION ALL,
INTERSECT ALL, regexp_extract, string_agg, median, min_by/max_by,
range window frames, percent_rank/cume_dist)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trendengine_spark.operators.composite import grid_composite
from trendengine_spark.queries.base import query, t
from trendengine_spark.sqltext import sql_over_tables
from trendengine_spark.tables import table_path


# --- S2: region scan → grid coarsening (reference scale= resampling)
@query(
    "s2_grid_composite",
    sql="""
    WITH obs AS (
      SELECT (user_id % 20) / 4.0 + 10.0 AS lon,
             (user_id // 20) / 4.0 + 50.0 AS lat, value
      FROM events
    )
    SELECT CAST(floor(lon / 0.5) AS BIGINT) AS cell_x,
           CAST(floor(lat / 0.5) AS BIGINT) AS cell_y,
           CAST(sum(CAST(lon AS DECIMAL(18,10))) AS DOUBLE) / count(lon) AS lon_c,
           CAST(sum(CAST(lat AS DECIMAL(18,10))) AS DOUBLE) / count(lat) AS lat_c,
           CAST(sum(CAST(value AS DECIMAL(18,10))) AS DOUBLE) / count(value) AS value_c,
           count(*) AS n_obs
    FROM obs GROUP BY 1, 2
    """,
)
def s2_grid_composite(spark, sf_dir):
    """S2: spatial resolution reduction — snap to 0.5° cells and
    average (engine ``grid_composite``; pseudo-coordinates derived
    from the event key since driver tables carry no geometry)."""
    ev = t(spark, sf_dir, "events")
    obs = ev.select(
        ((F.col("user_id") % 20) / 4.0 + 10.0).alias("lon"),
        ((F.col("user_id") / 20).cast("long") / 4.0 + 50.0).alias("lat"),
        "value",
    )
    g = grid_composite(obs, 0.5, lon_col="lon", lat_col="lat", value_col="value")
    return g.select(
        "cell_x", "cell_y",
        F.col("lon").alias("lon_c"),
        F.col("lat").alias("lat_c"),
        F.col("value").alias("value_c"),
        "n_obs",
    )


# --- S3: explicit schema-on-read (reference header-driven schema)
@query(
    "s3_schema_on_read",
    sql="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def s3_schema_on_read(spark, sf_dir):
    """S3: scan with an explicit StructType instead of footer
    inference (the engine's answer to the reference's header-row
    schema, SURVEY §1.3)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    docs = spark.read.schema(schema).parquet(table_path(sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --- S7: partitioned raster-region acquisition (Python data source)
@query(
    "raster_region_ingest",
    sql=None,
    doc="GEE-style region acquisition through the te_region Python "
    "data source (one InputPartition per tile-year, range-filter "
    "pushdown prunes the grid) → per-year annual composite. "
    "Rows-only by design: the source is not a DuckDB-readable "
    "table; the synthetic field, cadence, pushdown, and composite "
    "math are pinned in tests/test_region_source.py.",
)
def raster_region_ingest(spark, sf_dir):
    """S7: the reference's acquire→composite flow with the capacity
    wall removed — ``getRegion`` materialized one region × period on
    the driver and error-paged past a size limit
    (utils.py:9-14, polytrend.py:479-481); the te_region source
    partitions acquisition by (tile, year) and pushes range filters
    into the partition grid. ``sf_dir`` is unused: the source IS the
    table."""
    from trendengine_spark.operators.composite import annual_composite
    from trendengine_spark.sources import register_sources

    register_sources(spark)
    obs = (
        spark.read.format("te_region")
        .option("dataset", "gimms")
        .option("bbox", "0,0,8,8")
        .option("years", "2001,2004")
        .load()
        .filter(F.col("time") >= F.lit("2002-01-01").cast("timestamp"))
    )
    ann = annual_composite(
        obs.select("longitude", "latitude", "time", "value"),
        ["longitude", "latitude"],
    )
    return ann.select(
        "longitude", "latitude", "yr", F.round("value", 6).alias("value")
    )


@query(
    "flagship_lifecycle_pipeline",
    sql=None,
    doc="The full 100 TB lifecycle as ONE statement: te_region raster "
    "ingest → Z-order-clustered versioned commit → manifest "
    "data-skipping AOI read → annual composite → PolyTrend "
    "classification → category roll-up. Rows-only by design (the "
    "versioned table is not a DuckDB-readable source and PolyTrend "
    "is a per-series numpy cascade); every stage is individually "
    "pinned — region source goldens, z-order prune file counts, "
    "composite oracle (a1_annual_composite), PolyTrend goldens — and "
    "the manifest prune is plan-asserted in "
    "tests/test_ingest_sinks.py::test_lifecycle_pipeline_manifest_prune.",
)
def flagship_lifecycle_pipeline(spark, sf_dir):
    """VERDICT r9 task 3 — the raster-to-trend composition a
    production deployment runs, end to end (`sf_dir` is unused: the
    te_region source IS the table):

    1. **Acquire** an 8°×8° region × 10 years through the te_region
       DataSource (one InputPartition per tile-year — acquisition
       scales with the cluster, not the driver, unlike the
       reference's single getRegion call).
    2. **Commit** it Z-order-clustered on (longitude, latitude) into
       a manifest-versioned table (`write_versioned_clustered`) — the
       ingest-time layout step that makes every later AOI read
       planning-time prunable on BOTH coordinates.
    3. **Read back** a 2°×2° AOI via `read_versioned(predicate=...)`
       — manifest min/max file skipping, then the exact box filter
       (the predicate shrinks IO, never semantics).
    4. **Composite** to one value per pixel-year (A1 exact mean).
    5. **Classify** each pixel's 10-year series with PolyTrend.
    6. **Roll up** to (trend_type, direction) category counts — the
       reference's end-product summary (A4/A5 analog).

    At 100 TB each stage keeps its posture: partitioned acquisition,
    one extra ingest shuffle for the clustered layout, storage-level
    AOI pruning (measured 3-4/16 files), a per-series fit only per
    bounded pixel series, and a tiny final aggregate.

    The synthetic field is interannually STATIONARY by construction
    (seasonal harmonic + spatial gradient, no trend term —
    `sources/region.py synthetic_ndvi`), so the correct end verdict
    is one uniform no-trend category; the flagship pins the
    composition and its storage posture, while the classifier's
    discrimination is pinned by the PolyTrend golden suites."""
    import hashlib
    import os
    import shutil
    import tempfile

    from trendengine_spark.functions.polytrend import polytrend_groups
    from trendengine_spark.operators.composite import annual_composite
    from trendengine_spark.sources import register_sources
    from trendengine_spark.tablelog import (
        read_versioned,
        write_versioned_clustered,
    )

    register_sources(spark)
    obs = (
        spark.read.format("te_region")
        .option("dataset", "gimms")
        .option("bbox", "0,0,8,8")
        .option("years", "2001,2010")
        # 4° tiles: 40 tile-year partitions — enough parallelism for
        # local[32] while keeping the Python-source per-partition
        # dispatch cost bounded (2° tiles = 160 partitions measured
        # 2x slower for the same rows)
        .option("tile_deg", "4")
        .load()
        .select("longitude", "latitude", "time", "value")
    )
    # stable digest, not hash() (r11, ADVICE): Python's str hash is
    # PYTHONHASHSEED-randomized per process, so hash-named dirs from
    # previous runs were never rmtree'd by later processes and
    # accumulated in /tmp; md5 makes the path deterministic across
    # processes so each run actually cleans up its predecessor.
    path = os.path.join(
        tempfile.gettempdir(),
        f"te_lifecycle_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    shutil.rmtree(path, ignore_errors=True)  # fresh lifecycle per run
    # the clustered commit reads obs twice (layout-bounds aggregate +
    # staging write): persist across the two passes so the synthetic
    # acquisition runs once, then release before the read-back
    obs.persist()
    try:
        write_versioned_clustered(
            spark, obs, path, ("longitude", "latitude"), num_partitions=16
        )
    finally:
        obs.unpersist()
    aoi = (4.0, 6.0)
    scan = read_versioned(
        spark, path, predicate={"longitude": aoi, "latitude": aoi}
    ).filter(
        (F.col("longitude") >= aoi[0]) & (F.col("longitude") < aoi[1])
        & (F.col("latitude") >= aoi[0]) & (F.col("latitude") < aoi[1])
    )
    ann = annual_composite(scan, ["longitude", "latitude"])
    trends = polytrend_groups(
        ann,
        ["longitude", "latitude"],
        time_col="period_start",
        value_col="value",
    )
    return (
        trends.groupBy("trend_type", "direction")
        .agg(
            F.count("*").cast("long").alias("n_pixels"),
            F.round(F.avg("slope"), 6).alias("avg_slope"),
        )
        .orderBy("trend_type", "direction")
    )


# --------------------------------------------------------- subqueries
@query(
    "subquery_scalar_avg",
    sql="""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > (
      SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) / count(*)
      FROM orders
    )
    """,
)
def subquery_scalar_avg(spark, sf_dir):
    """Scalar subquery: orders above the global average price (the
    aggregate broadcasts — one extra tiny stage, no recompute per row)."""
    o = t(spark, sf_dir, "orders")
    avg = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(10,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg")
    )
    return (
        o.crossJoin(F.broadcast(avg))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@query(
    "subquery_exists_correlated",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def subquery_exists_correlated(spark, sf_dir):
    """Correlated EXISTS — decorrelates to a left-semi join on the
    correlation key with the predicate pushed below the join."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# ------------------------------------------------------ set ops / HAVING
@query(
    "union_all_counts",
    sql="""
    SELECT k, count(*) AS n FROM (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    ) GROUP BY k
    """,
)
def union_all_counts(spark, sf_dir):
    """UNION ALL (bag semantics) + group count."""
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = c.filter(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("k"))
    return a.unionAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@query(
    "intersect_all_keys",
    sql="""
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    """,
)
def intersect_all_keys(spark, sf_dir):
    """INTERSECT ALL (multiplicity-preserving)."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return a.intersectAll(b)


@query(
    "having_groups",
    sql="""
    SELECT p_brand, count(*) AS n_parts
    FROM part GROUP BY p_brand HAVING count(*) > 50
    """,
)
def having_groups(spark, sf_dir):
    """HAVING: post-aggregation predicate."""
    p = t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .filter(F.col("n_parts") > 50)
    )


# ---------------------------------------------------- scalar / aggregates
@query(
    "regexp_extract_keys",
    sql="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
           regexp_matches(c_name, '^Customer#') AS is_canonical
    FROM customer WHERE c_custkey <= 300
    """,
)
def regexp_extract_keys(spark, sf_dir):
    """regexp_extract + boolean regexp match."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("long").alias("name_num"),
        F.col("c_name").rlike("^Customer#").alias("is_canonical"),
    )


@query(
    "string_agg_sorted",
    sql="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def string_agg_sorted(spark, sf_dir):
    """Ordered string aggregation (deterministic via sort_array)."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


@query(
    "median_exact",
    sql="""
    SELECT l_returnflag, median(l_quantity) AS med_qty,
           median(l_extendedprice) AS med_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_exact(spark, sf_dir):
    """Exact interpolated median (both engines interpolate even-count
    groups identically)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.median("l_extendedprice").alias("med_price"),
    )


@query(
    "min_by_max_by",
    sql="""
    SELECT o_orderpriority,
           round(max_by(o_totalprice, o_orderkey), 2) AS last_price,
           round(min_by(o_totalprice, o_orderkey), 2) AS first_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def min_by_max_by(spark, sf_dir):
    """min_by/max_by with a UNIQUE ordering key (orderkey) — the
    ordering column must be tie-free for the pick to be deterministic
    across engines (DuckDB 1.0 has no struct ordering for arg_max)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.max_by("o_totalprice", "o_orderkey"), 2).alias("last_price"),
        F.round(F.min_by("o_totalprice", "o_orderkey"), 2).alias("first_price"),
    )


# ----------------------------------------------------------- windows II
@query(
    "window_range_frame",
    sql="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
               AS day_no,
             o_totalprice
      FROM orders WHERE o_orderkey < 3000
    )
    SELECT o_orderkey, day_no,
           count(*) OVER (ORDER BY day_no RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
             AS n_week,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER
                 (ORDER BY day_no RANGE BETWEEN 7 PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS week_rev
    FROM d
    """,
)
def window_range_frame(spark, sf_dir):
    """RANGE frame (value-based window): trailing-7-day order count
    and revenue. Computed with the halo-partitioned operator
    (:func:`~trendengine_spark.operators.relational.
    trailing_range_aggs`) — rows within 7 days of a bucket boundary
    duplicate into the next bucket as non-emitting halo rows, so the
    global-order RANGE frame runs PARTITIONED (no single-task
    WindowExec; equivalence to the naive global window is asserted in
    ``tests/test_relational_ops.py``)."""
    from trendengine_spark.operators.relational import trailing_range_aggs

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    d = o.select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("day_no"),
        "o_totalprice",
    )
    out = trailing_range_aggs(
        d,
        "day_no",
        {
            "n_week": F.count(F.lit(1)),
            "_rev": F.sum(F.col("o_totalprice").cast("decimal(10,2)")),
        },
        lookback=7,
        bucket_width=512,
    )
    return out.select(
        "o_orderkey",
        "day_no",
        "n_week",
        F.round("_rev", 2).cast("double").alias("week_rev"),
    )


@query(
    "window_percent_rank",
    sql="""
    SELECT s_suppkey,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS pr,
           round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS cd
    FROM supplier
    """,
)
def window_percent_rank(spark, sf_dir):
    """percent_rank + cume_dist over a deterministic total order —
    computed by the scale-safe two-pass range-partitioned operator
    (:func:`~trendengine_spark.operators.relational.ranked_global`),
    not a single-partition ``Window.orderBy`` (VERDICT r2 item 6).
    Same results: pr = (rank−1)/(N−1), cd = tie-inclusive count/N."""
    from trendengine_spark.operators.relational import ranked_global

    s = t(spark, sf_dir, "supplier")
    r = ranked_global(s, ["s_acctbal", "s_suppkey"])
    return r.select(
        "s_suppkey",
        F.round("_pct_rank", 6).alias("pr"),
        F.round("_cume_dist", 6).alias("cd"),
    )


@query(
    "scalar_lambda_fns",
    sql="""
    WITH t AS (
      SELECT o_custkey, list(o_totalprice ORDER BY o_orderkey) AS prices
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(len(list_filter(prices, x -> x > 100000)) AS INT) AS n_big,
           round(list_sum(list_transform(prices, x -> round(x / 1000, 0))), 1)
             AS k_total,
           round(list_max(prices), 2) AS mx
    FROM t
    """,
)
def scalar_lambda_fns(spark, sf_dir):
    """Higher-order array functions (transform/filter/aggregate
    lambdas — JVM-side, codegen): per-customer price-list analytics."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(o_orderkey, o_totalprice))),"
            " s -> s.o_totalprice)"
        ).alias("prices")
    )
    return g.select(
        "o_custkey",
        F.size(F.filter("prices", lambda x: x > 100000)).alias("n_big"),
        F.round(
            F.aggregate(
                F.transform("prices", lambda x: F.round(x / 1000, 0)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            1,
        ).alias("k_total"),
        F.round(F.array_max("prices"), 2).alias("mx"),
    )


_SHARED_DIALECT_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           min(o_orderkey) AS first_key
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderstatus <> 'P'
    GROUP BY o_orderpriority
    HAVING count(*) > 10
"""


@query(
    "sql_api_shared_dialect",
    sql=_SHARED_DIALECT_SQL,
)
def sql_api_shared_dialect(spark, sf_dir):
    """The SQL entry point: the IDENTICAL ANSI SQL text runs on the
    engine (``spark.sql`` over registered views) and on the DuckDB
    oracle — demonstrating the engine's SQL surface and dialect
    compatibility in one query."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SHARED_DIALECT_SQL)


# ------------------------------------------------- U5
# (u3_generalize_events moved to queries/analytics.py in r12, where
# it gained its full oracle via the shared U2/U3 split machinery)
@query(
    "u5_decomposition_events",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  - 1 AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ), tr AS (
      SELECT event_type, i, y, n,
             CAST(sum(y) OVER (PARTITION BY event_type ORDER BY i
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
               AS t7
      FROM idx
    ), interior AS (
      SELECT * FROM tr WHERE i >= 3 AND i <= n - 4
    ), seas AS (
      SELECT event_type, i % 7 AS p,
             CAST(sum(7 * y - t7) AS BIGINT) AS num,
             CAST(count(*) AS BIGINT) AS k
      FROM interior GROUP BY 1, 2
    )
    SELECT tt.event_type, CAST(tt.i AS INT) AS i, tt.y AS cents,
           CAST(tt.t7 AS DOUBLE) / 7 AS trend,
           CAST(ss.num AS DOUBLE) / (7 * ss.k) AS seasonal,
           (CAST(tt.y AS DOUBLE) - CAST(tt.t7 AS DOUBLE) / 7)
             - CAST(ss.num AS DOUBLE) / (7 * ss.k) AS remainder
    FROM interior tt
    JOIN seas ss ON tt.event_type = ss.event_type AND tt.i % 7 = ss.p
    """,
)
def u5_decomposition_events(spark, sf_dir):
    """U5 seasonal decomposition of the daily event VALUE series —
    FULL ORACLE since r12 (VERDICT r11 task 6: "the relational twin
    exists; converge the declared query onto it"). The query now runs
    the same classical additive decomposition program as
    `u5_decomposition_relational` (trend = centered period-7 moving
    average, seasonal = per-phase mean of the ×7-scaled detrended
    interior, remainder = the rest — every cross-engine float one
    division/subtraction of exact integers) but over the MONEY
    measure: y = Σ round(value·100) integer cents per day, the other
    decomposition a pipeline actually reports (the twin decomposes
    counts). Until r12 this row returned STL summary shapes rows-only;
    the STL/LOESS path itself (Cleveland 1990, reference consumption
    `/root/reference/TrendEngine/calculations/dbest.py:326-329`)
    remains first-class in `functions/dbest.dbest_decomposition` —
    exercised by the engine facade's decompose flow and pinned by the
    reconstruction-identity and sinusoid-recovery goldens in
    tests/test_dbest_golden.py.

    Scale: one narrow shuffle to daily cents, two in-partition
    windows, one tiny phase aggregate joined back broadcast-size —
    state O(series·7), zero Python."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.col("y").cast("long").alias("y"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    wr = Window.partitionBy("event_type").orderBy("i").rowsBetween(-3, 3)
    interior = idx.withColumn("t7", F.sum("y").over(wr)).filter(
        (F.col("i") >= 3) & (F.col("i") <= F.col("n") - 4)
    )
    seas = (
        interior.groupBy("event_type", (F.col("i") % 7).alias("p"))
        .agg(
            F.sum(F.lit(7) * F.col("y") - F.col("t7")).alias("num"),
            F.count(F.lit(1)).alias("k"),
        )
        .withColumnRenamed("event_type", "s_event_type")
        .withColumnRenamed("p", "s_p")
    )
    j = interior.withColumn("p", F.col("i") % 7).join(
        F.broadcast(seas),
        (F.col("event_type") == F.col("s_event_type"))
        & (F.col("p") == F.col("s_p")),
    )
    trend = F.col("t7").cast("double") / F.lit(7)
    seasonal = F.col("num").cast("double") / (F.lit(7) * F.col("k"))
    return j.select(
        "event_type",
        F.col("i").cast("int").alias("i"),
        F.col("y").alias("cents"),
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        ((F.col("y").cast("double") - trend) - seasonal).alias("remainder"),
    )


@query(
    "scalar_try_fns",
    sql="""
    SELECT event_id,
           round(value / nullif(CAST(event_id % 5 AS DOUBLE), 0.0), 6)
             AS safe_div,
           TRY_CAST(CASE WHEN event_id % 3 = 0
                         THEN concat(CAST(event_id AS VARCHAR), 'x')
                         ELSE CAST(event_id AS VARCHAR) END AS INTEGER)
             AS maybe_int
    FROM events WHERE event_id < 3000
    """,
)
def scalar_try_fns(spark, sf_dir):
    """ANSI-mode error-safe scalars: Spark 4 runs ANSI SQL by default
    (divide-by-zero and bad casts THROW), so the production-safe
    forms are ``try_divide``/``try_cast`` → NULL on error. The DuckDB
    oracle expresses the same semantics its way (``x / nullif(d, 0)``
    and ``TRY_CAST``) — same NULLs, same values. One third of the
    cast inputs are deliberately malformed so the NULL path is
    non-vacuous."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    noisy = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.col("event_id").cast("string"), F.lit("x")),
    ).otherwise(F.col("event_id").cast("string"))
    return ev.select(
        "event_id",
        F.round(
            F.try_divide(F.col("value"), (F.col("event_id") % 5).cast("double")), 6
        ).alias("safe_div"),
        noisy.try_cast("int").alias("maybe_int"),
    )


@query(
    "unpivot_user_stats",
    sql="""
    WITH per_user AS (
      SELECT user_id,
             round(min(value), 4) AS min_v,
             round(max(value), 4) AS max_v,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / CAST(100 * count(value) AS DOUBLE) AS mean_v
      FROM events GROUP BY user_id
    )
    UNPIVOT per_user ON min_v, max_v, mean_v
    INTO NAME stat VALUE v
    """,
)
def unpivot_user_stats(spark, sf_dir):
    """Wide→long UNPIVOT (melt): three per-user stat columns become
    (user_id, stat, v) rows — the inverse of pivot_event_types,
    closing the reshaping pair. Spark plans it as a single Expand (no
    join, no shuffle beyond the aggregate); column-name labels match
    the oracle's UNPIVOT.

    mean_v is the integer-cents exact mean, UNROUNDED (r9 hardening,
    first full sf0.1 sweep): the prior round(·, 4) hit exact .xxxx5
    boundary rationals where Spark's shortest-string half-up and
    DuckDB's binary rounding legitimately disagree — two rows at
    sf0.1. One correctly-rounded division of exact integers needs no
    rounding to be engine-identical; min/max of 2-dp values round at
    4 dp safely (never near a boundary)."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.min("value"), 4).alias("min_v"),
        F.round(F.max("value"), 4).alias("max_v"),
        (
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).cast("double")
            / (F.lit(100) * F.count("value")).cast("double")
        ).alias("mean_v"),
    )
    return per_user.unpivot(
        ids=["user_id"],
        values=["min_v", "max_v", "mean_v"],
        variableColumnName="stat",
        valueColumnName="v",
    )


@query(
    "variant_json_shred",
    sql="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max
    FROM events
    GROUP BY 1
    """,
)
def variant_json_shred(spark, sf_dir):
    """Semi-structured shredding through Spark 4's VARIANT type:
    ``parse_json`` builds the binary variant ONCE per row (vs
    re-parsing the JSON string per extracted path, the
    ``get_json_object`` anti-pattern when several fields are pulled),
    then ``variant_get`` extracts typed values. At 100 TB the win is
    parse-once + binary-encoded storage; the oracle reproduces the
    same typed extraction with DuckDB's native JSON functions."""
    ev = t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("_k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_k").alias("k_min"),
            F.max("_k").alias("k_max"),
        )
    )


@query(
    "recursive_cte_month_spine",
    sql="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '2001-08-01'
    ), per_month AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(10,2))), 2)
                  AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    )
    SELECT months.m AS period_start,
           coalesce(rev, 0.0) AS revenue,
           CAST(round(sum(CAST(coalesce(rev, 0.0) AS DECIMAL(18,4)))
                OVER (PARTITION BY year(months.m) ORDER BY months.m), 2)
             AS DOUBLE) AS ytd_revenue
    FROM months LEFT JOIN per_month ON months.m = per_month.m
    """,
)
def recursive_cte_month_spine(spark, sf_dir):
    """RECURSIVE CTE (Spark 4's newest dialect feature — UNION ALL
    form, which is the only recursion mode Spark supports; the
    spine's monotone month bound guarantees termination): generate
    the calendar spine by recursion instead of ``sequence()``, pair
    it with the pre-aggregated monthly revenue (d1's
    aggregate-then-join shape), and add a year-partitioned running
    (YTD) total. The recursion materializes ~80 single-row steps —
    a dialect-parity demonstration; the ``sequence()`` generator
    (d1_period_pairing) remains the at-scale spine construction."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '2001-08-01'
        ), per_month AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(10,2))), 2)
                      AS DOUBLE) AS rev
          FROM orders GROUP BY 1
        )
        SELECT months.m AS period_start,
               coalesce(rev, 0.0) AS revenue,
               CAST(round(sum(CAST(coalesce(rev, 0.0) AS DECIMAL(18,4)))
                    OVER (PARTITION BY year(months.m) ORDER BY months.m), 2)
                 AS DOUBLE) AS ytd_revenue
        FROM months LEFT JOIN per_month ON months.m = per_month.m
        """,
        ("orders",),
    )


@query(
    "fuzzy_name_pairs_blocked",
    sql="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    t AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def fuzzy_name_pairs_blocked(spark, sf_dir):
    """Approximate-string matching with blocking — the standard
    entity-resolution shape: candidate pairs are generated only
    WITHIN a blocking key (here the head noun of the part name), then
    scored by edit distance. The blocked equi-self-join keeps the
    work Σ(block size)² instead of N² — the same bucket-bounded
    discipline as the MinHash/SimHash dedup family, applied to
    short strings where Levenshtein (a JVM built-in, codegen'd) is
    affordable per candidate. The ``<`` tie-break halves the pair
    space and makes output deterministic; distinct names first so
    duplicate part rows can't multiply candidates."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH names AS (SELECT DISTINCT p_name FROM part),
        t AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM names)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               levenshtein(a.p_name, b.p_name) AS edit_dist
        FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
        """,
        ("part",),
    )


@query(
    "approx_top_k_events",
    sql="""
    SELECT event_type, cnt FROM (
      SELECT event_type, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, event_type) AS rnk
      FROM events GROUP BY event_type
    ) t WHERE rnk <= 3
    """,
)
def approx_top_k_events(spark, sf_dir):
    """Sketch-based heavy hitters: ``approx_top_k`` (Spark 4) tracks
    frequent items in one pass with bounded memory — the streaming-
    friendly alternative to a full group-by when only the head of the
    distribution matters. With far fewer distinct values than the
    sketch capacity (5 ≪ 10000) the sketch is EXACT, so the DuckDB
    exact top-3 is a valid oracle — same pattern as
    approx_vs_exact_distinct. At real cardinalities the sketch keeps
    its fixed memory while the exact plan's hash table grows with
    #groups; counts here are sketch-reported, not re-aggregated."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT t.item AS event_type, t.count AS cnt
        FROM (SELECT approx_top_k(event_type, 3) AS tk FROM events) s
        LATERAL VIEW explode(tk) u AS t
        """,
        ("events",),
    )


@query(
    "udtf_run_length_segments",
    sql="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS brk
      FROM events
    ), g AS (
      SELECT user_id, event_type, ts,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
      FROM e
    )
    SELECT user_id, event_type, min(ts) AS run_start,
           CAST(count(*) AS INT) AS run_len
    FROM g GROUP BY user_id, event_type, grp
    """,
)
def udtf_run_length_segments(spark, sf_dir):
    """Run-length segmentation of each user's event stream through a
    Spark 4 Python UDTF with a partitioned-ordered TABLE argument
    (``functions/udtfs.RunLengthSegments``): per-group stateful
    one-pass expansion registered as a SQL table function — the
    engine's extension surface for streaming-shaped per-group
    algorithms. The DuckDB oracle computes the identical runs with
    the classic gaps-and-islands lag/sum/group-by, so the whole
    UDTF path (registration, TABLE arg, PARTITION BY shuffle,
    in-group ORDER, Arrow row transport, terminate flush) is
    hash-checked end-to-end. One shuffle keyed by user_id — PINNED at
    the session shuffle width via fit_partitioned: UDTF eval is CPU
    per ROW while AQE coalesces by BYTES, so under AQE the few-MB
    post-shuffle stage collapsed to 2 tasks on a 32-core box
    (measured 10.6 s; the explicit repartition(n, user_id) satisfies
    the PARTITION BY distribution, the exchange is elided — the same
    hazard/fix as the DBEST fitting stage, operators/util.py).

    r9 bench settlement: with parallelism fixed, the remaining cost
    was per-row DISPATCH, not task width (8 vs 32 vs 64 partitions
    all measured ~2.6 s at 100k events). Rewriting eval generator-
    free with positional row access (functions/udtfs.py) took the
    bench-conf time 2.57 → 0.66 s (~150k rows/s/core) — the honest
    per-row Python UDTF floor; the gaps-and-islands SQL twin of this
    exact query runs 0.15 s for calibration."""
    from trendengine_spark.functions.udtfs import register_udtfs
    from trendengine_spark.operators.util import fit_partitioned
    from trendengine_spark.queries.base import t as _t

    register_udtfs(spark)
    fit_partitioned(
        _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id"),
        ["user_id"],
    ).createOrReplaceTempView("_rl_events_pinned")
    return spark.sql(
        """
        SELECT * FROM run_length_segments(
          TABLE(SELECT user_id, event_type, ts, event_id FROM _rl_events_pinned)
          PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )


@query(
    "lateral_top_order_per_customer",
    sql="""
    SELECT c_custkey, o.o_orderkey,
           round(o.o_totalprice, 2) AS top_price
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
    """,
)
def lateral_top_order_per_customer(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER/LIMIT — the
    SQL-standard form of "top order per customer". Catalyst
    decorrelates the lateral top-1 into a partitioned window plan
    (rank over o_custkey, filter rank=1, join back) rather than
    re-running the subquery per customer row — same physical shape
    as window_topk_per_group, arrived at from the opposite
    (subquery-first) syntax; both engines agree row-for-row under
    the (price DESC, orderkey) deterministic tie-break. Customers
    with no orders drop (inner lateral)."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT c_custkey, o.o_orderkey,
               round(o.o_totalprice, 2) AS top_price
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        """,
        ("customer", "orders"),
    )


@query(
    "group_by_all_dialect",
    sql="""
    SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS yr,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY ALL
    """,
)
def group_by_all_dialect(spark, sf_dir):
    """GROUP BY ALL — the modern-dialect shorthand (every
    non-aggregate select item becomes a group key) that Spark 4 and
    DuckDB resolve identically; the IDENTICAL text runs on both
    engines, extending the shared-dialect surface
    (sql_api_shared_dialect) to analyzer-level resolution sugar.
    Plan is a plain partial+final hash aggregate on the three
    resolved keys — the sugar desugars before optimization."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS yr,
               count(1) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        GROUP BY ALL
        """,
        ("orders",),
    )


@query(
    "scalar_map_fns",
    sql="""
    WITH m AS (
      SELECT o_custkey,
             map(list(o_orderstatus ORDER BY o_orderkey),
                 list(o_orderkey ORDER BY o_orderkey)) AS status_first
      FROM (SELECT o_custkey, o_orderstatus, min(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderstatus) d
      GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(cardinality(status_first) AS INT) AS n_statuses,
           status_first['F'][1] AS first_f_order,
           array_to_string(map_keys(status_first), ',') AS statuses
    FROM m
    """,
)
def scalar_map_fns(spark, sf_dir):
    """Map-type construction and access: per customer, a map from
    order status → earliest order key, probed with subscript access,
    cardinality and sorted key listing. Map columns never reach the
    output (the driver canonicalizer can't sort them) — probes are
    scalar, keys stringified sorted. Spark builds the map with
    map_from_entries over a sorted collect_list (entry order is made
    deterministic BEFORE map construction; both engines iterate
    insertion order for map_keys)."""
    o = t(spark, sf_dir, "orders")
    d = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.min("o_orderkey").alias("o_orderkey")
    )
    m = d.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderkey", "o_orderstatus")))
        ).alias("_km")
    ).select(
        "o_custkey",
        F.map_from_entries(
            F.transform(
                F.map_entries(F.col("_km")),
                lambda e: F.struct(
                    e["value"].alias("k"), e["key"].alias("v")
                ),
            )
        ).alias("status_first"),
    )
    return m.select(
        "o_custkey",
        F.size("status_first").cast("int").alias("n_statuses"),
        F.col("status_first")["F"].alias("first_f_order"),
        F.concat_ws(",", F.map_keys("status_first")).alias("statuses"),
    )


@query(
    "join_asof_forward_tolerance",
    sql="""
    WITH j AS (
      SELECT p.event_id, p.user_id, p.ts, v.ts AS next_view_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND v.ts >= p.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN next_view_ts IS NOT NULL
                 AND date_diff('second', ts, next_view_ts) <= 7200
                THEN next_view_ts END AS next_view_ts,
           CASE WHEN next_view_ts IS NOT NULL
                 AND date_diff('second', ts, next_view_ts) <= 7200
                THEN CAST(date_diff('second', ts, next_view_ts) AS BIGINT)
           END AS secs_to_view
    FROM j
    """,
)
def join_asof_forward_tolerance(spark, sf_dir):
    """Forward as-of join with a tolerance horizon: each purchase
    matched to the user's NEXT view, nulled when it is more than two
    hours later — the merge_asof(direction='forward', tolerance=...)
    semantics (re-engagement analysis). Engine operator
    ``asof_join(direction='forward', tolerance=7200)``: same
    union + descending-order running-last plan as backward, one
    shuffle on user_id; the oracle reproduces it with DuckDB's native
    ASOF (v.ts >= p.ts) plus the same tolerance CASE."""
    from trendengine_spark.operators.relational import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("next_view_ts")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="next_view_ts",
        direction="forward",
        tolerance=7200.0,
    )
    return joined.select(
        "event_id", "user_id", "ts", "next_view_ts",
        (
            F.unix_timestamp("next_view_ts") - F.unix_timestamp("ts")
        ).alias("secs_to_view"),
    )


@query(
    "window_locf_fill",
    sql="""
    WITH src AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE round(value, 4) END AS v_raw
      FROM events
    )
    SELECT event_id, user_id, ts, v_raw,
           last_value(v_raw IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS v_filled
    FROM src
    """,
)
def window_locf_fill(spark, sf_dir):
    """Last-observation-carried-forward gap fill: error events null
    their reading and inherit the user's latest prior valid value —
    the ``last(..., ignorenulls) OVER`` running frame (the same
    primitive the as-of join builds on), the step-fill complement to
    a2c's linear interpolation. One shuffle keyed by user_id;
    (ts, event_id) order makes the carried value deterministic under
    duplicate timestamps. Leading nulls stay null (nothing to
    carry)."""
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.round("value", 4))
        .alias("v_raw"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return src.withColumn(
        "v_filled", F.last("v_raw", ignorenulls=True).over(w)
    )


@query(
    "daily_value_percentiles",
    sql="""
    SELECT date_trunc('day', ts) AS day, event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def daily_value_percentiles(spark, sf_dir):
    """Exact interpolated daily P50/P90/P99 per event type — the
    latency-band time series every operations dashboard is built on.
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    linear-interpolation definition, so exact quantiles hash-match
    (the approx sketch variants are deliberately rows-only —
    approx_percentiles). One partial+final aggregate keyed by
    (day, type): exact percentiles hold per-group sorted state, fine
    while groups are day-sized; at unbounded group width the sketch
    is the scale path."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )


@query(
    "dq_expectations_events",
    sql="""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             CAST(count(*) FILTER (WHERE value >= 0) AS BIGINT) AS p_nonneg,
             CAST(count(*) FILTER (WHERE event_type IN
               ('view','click','purchase','signup','error')) AS BIGINT)
               AS p_type,
             CAST(count(*) FILTER (WHERE user_id IS NOT NULL) AS BIGINT)
               AS p_user,
             CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-01'
               AND ts < TIMESTAMP '2024-02-01') AS BIGINT) AS p_ts
      FROM events
    )
    SELECT u.rule, agg.n_rows, u.n_pass,
           agg.n_rows - u.n_pass AS n_fail,
           round(u.n_pass / CAST(agg.n_rows AS DOUBLE), 6) AS pass_frac
    FROM agg, LATERAL (VALUES
      ('value_nonnegative', p_nonneg), ('known_event_type', p_type),
      ('user_id_present', p_user), ('ts_in_january', p_ts)
    ) AS u(rule, n_pass)
    """,
)
def dq_expectations_events(spark, sf_dir):
    """Data-quality expectations report over events — the validation
    gate a pipeline runs before anything downstream: four rules
    (non-negative value, known event type, user present, timestamp in
    the expected window), each scored in ONE full-scan aggregate
    (map-side combined counters) and stacked to long form. The
    operator's twin output (the quarantine frame of failing rows with
    their violated-rule list) is exercised in tests — report counts
    and quarantine rows derive from the same expressions and cannot
    disagree."""
    from trendengine_spark.operators.quality import expectations

    ev = t(spark, sf_dir, "events")
    rules = {
        "value_nonnegative": F.col("value") >= 0,
        "known_event_type": F.col("event_type").isin(
            "view", "click", "purchase", "signup", "error"
        ),
        "user_id_present": F.col("user_id").isNotNull(),
        "ts_in_january": (
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        ),
    }
    report, _quarantine = expectations(ev, rules)
    return report


@query(
    "graph_copurchase_2hop",
    sql="""
    WITH edges AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ), seed AS (
      SELECT p_partkey AS k FROM part WHERE p_brand = 'Brand#1'
    ), h1 AS (
      SELECT DISTINCT e.b AS k FROM edges e JOIN seed s ON e.a = s.k
      WHERE e.b NOT IN (SELECT k FROM seed)
    ), h2 AS (
      SELECT DISTINCT e.b AS k FROM edges e JOIN h1 ON e.a = h1.k
      WHERE e.b NOT IN (SELECT k FROM seed)
        AND e.b NOT IN (SELECT k FROM h1)
    )
    SELECT k AS partkey, 1 AS hop FROM h1
    UNION ALL
    SELECT k AS partkey, 2 AS hop FROM h2
    """,
)
def graph_copurchase_2hop(spark, sf_dir):
    """Bounded graph traversal — the BFS complement to the dedup
    family's connected components: parts reachable from the Brand#1
    seed set in exactly one / exactly two co-purchase hops (edge =
    two parts sharing an order). The edge build is an order-keyed
    self-join whose fan-out is bounded by lines-per-order (~4 → ~12
    directed pairs per order — never N²); each hop is one
    semi/anti-joined frontier expansion, the per-level building
    block an iterative k-hop (or the CC pointer-jumping loop)
    repeats. Set semantics make the result order-free and
    engine-exact."""
    from trendengine_spark.operators.graph import khop_frontiers

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.withColumnRenamed("l_partkey", "b")
    edges = (
        li.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("b"))
        .select(F.col("l_partkey").alias("a"), "b")
        .distinct()
    )
    seed = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select(F.col("p_partkey").alias("partkey"))
    )
    return khop_frontiers(edges, seed, k=2, key_col="partkey")


@query(
    "scalar_agg_predicates",
    sql="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def scalar_agg_predicates(spark, sf_dir):
    """Predicate aggregates — count_if / bool_and / bool_or (a.k.a.
    every/any): the boolean roll-up family both engines share
    verbatim. One partial+final aggregate; booleans combine
    associatively so partial combine is exact by construction."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority,
               count_if(o_totalprice > 200000) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderstatus = 'F') AS any_finished
        FROM orders
        GROUP BY o_orderpriority
        """,
        ("orders",),
    )


@query(
    "scalar_bitwise_aggs",
    sql="""
    SELECT o_orderpriority,
           bit_and(o_orderkey) AS k_and,
           bit_or(o_orderkey) AS k_or,
           bit_xor(o_orderkey) AS k_xor
    FROM orders GROUP BY o_orderpriority
    """,
)
def scalar_bitwise_aggs(spark, sf_dir):
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — commutative and
    associative, so partial combine is exact by construction; xor
    aggregation is the classic set-difference fingerprint trick
    (xor of two equal multisets cancels)."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority,
               bit_and(o_orderkey) AS k_and,
               bit_or(o_orderkey) AS k_or,
               bit_xor(o_orderkey) AS k_xor
        FROM orders GROUP BY o_orderpriority
        """,
        ("orders",),
    )


@query(
    "scalar_array_setops",
    sql="""
    WITH s AS (
      SELECT o_custkey,
             list(o_orderkey) FILTER (WHERE o_totalprice > 150000) AS big,
             list(o_orderkey) FILTER (WHERE o_orderpriority = '1-URGENT')
               AS urgent
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(len(list_intersect(coalesce(big, []), coalesce(urgent, [])))
                AS INT) AS n_both,
           CAST(len(list_distinct(list_concat(
             coalesce(big, []), coalesce(urgent, [])))) AS INT) AS n_either,
           coalesce(array_to_string(
             list_sort(list_intersect(coalesce(big, []),
                                      coalesce(urgent, []))), ','), '')
             AS both_keys
    FROM s
    """,
)
def scalar_array_setops(spark, sf_dir):
    """Array set operations (intersect / distinct-union) over grouped
    key lists — per customer, the orders that are BOTH big and urgent
    and the count of either. Set semantics make collect order
    irrelevant; outputs reduce to counts + a sorted stringified list
    so the driver canonicalizer sees scalars only."""
    o = t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.collect_list(
            F.when(F.col("o_totalprice") > 150000, F.col("o_orderkey"))
        ).alias("big"),
        F.collect_list(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_orderkey"))
        ).alias("urgent"),
    )
    inter = F.array_intersect("big", "urgent")
    either = F.array_distinct(F.concat("big", "urgent"))
    return s.select(
        "o_custkey",
        F.size(inter).cast("int").alias("n_both"),
        F.size(either).cast("int").alias("n_either"),
        F.concat_ws(",", F.sort_array(inter)).alias("both_keys"),
    )


@query(
    "profile_user_zscore_outliers",
    sql="""
    WITH m AS (
      SELECT user_id,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(28,10))
                      * CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, round(e.value, 6) AS value,
           round((e.value - m.s1 / m.n)
                 / sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n)), 4)
             AS zscore
    FROM events e JOIN m ON e.user_id = m.user_id
    WHERE m.n >= 20
      AND m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n) > 0
      AND abs(e.value - m.s1 / m.n)
          > 2.5 * sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n))
    """,
)
def profile_user_zscore_outliers(spark, sf_dir):
    """Per-user z-score anomaly flags (|z| > 2.5 against the user's
    own distribution) — the per-entity outlier primitive behind fraud
    and sensor-fault screens. Population variance comes from EXACT
    first/second moments (DECIMAL sums, so merge order cannot move
    the threshold — a float stddev_pop would make borderline rows
    engine-dependent); the aggregate collapses to one row per user
    before broadcasting back across the events. Users with <20
    events or zero variance are skipped."""
    ev = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(28,10)")
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    j = ev.join(F.broadcast(m), "user_id").filter(
        (F.col("n") >= 20)
        & (var > 0)
        & (F.abs(F.col("value") - mean) > 2.5 * F.sqrt(var))
    )
    return j.select(
        "user_id", "event_id",
        F.round("value", 6).alias("value"),
        F.round((F.col("value") - mean) / F.sqrt(var), 4).alias("zscore"),
    )


@query(
    "events_dow_hour_heatmap",
    sql="""
    SELECT CAST(isodow(ts) AS INT) AS dow,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,10))), 4) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap — the load-profile
    roll-up behind capacity planning. Dialect trap handled
    explicitly: Spark's ``dayofweek`` is 1=Sunday while DuckDB's
    ``isodow`` is 1=Monday..7=Sunday, so the Spark side converts to
    ISO numbering (((dow+5) % 7) + 1). One partial+final aggregate
    over a bounded 7×24 key grid; decimal-exact value sums."""
    ev = t(spark, sf_dir, "events")
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        ev.groupBy(
            isodow.alias("dow"), F.hour("ts").cast("int").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,10)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )
