"""Round-7 analytics batch: forecasting backtest, robust outliers,
iterative graph ranking, and the pure-range-join scale pattern.

Four shapes a production analytics engine gets asked for that the
registry did not yet cover, each expressed scale-first:

- **seasonal-naive forecast backtest** — the baseline every forecast
  evaluation starts from (predict this week = last week), scored by
  MAE per series. Pure lag windows over integer daily counts; exact
  in both engines by construction.
- **MAD outliers** — median/median-absolute-deviation robust
  anomaly flags (complements the z-score profile: MAD ignores the
  outliers themselves, so one 1000× spike doesn't mask the next).
- **integer fixed-point PageRank** — two unrolled power iterations
  over the co-purchase graph in micro-units (rank·10⁶ as BIGINT,
  integer division): float summation order can flip a hash compare,
  integer arithmetic cannot, so the oracle match is exact — and the
  per-iteration plan (ranks ⋈ edges on src, partial+final sum on
  dst) is the scale shape iterative graph algorithms keep.
- **time-window co-activity counts** — a LARGE × LARGE pure range
  join (no equi key) done the scale-safe way: quantize time into
  tolerance-width buckets, explode each probe row into its 3
  adjacent buckets, equi-join on the bucket, then apply the exact
  |Δt| residual. Candidate volume is Σ per-bucket products, never
  |L|·|R|; the oracle states the same join as the naive theta join
  DuckDB's IEJoin handles at test scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from trendengine_spark.queries.base import query, t
from trendengine_spark.sqltext import sql_over_tables


@query(
    "forecast_seasonal_naive_mae",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT event_type, d, n,
             lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred
      FROM daily
    )
    SELECT event_type,
           CAST(count(pred) AS BIGINT) AS n_scored_days,
           CAST(sum(abs(n - pred)) AS BIGINT) AS abs_err_sum,
           round(CAST(sum(abs(n - pred)) AS BIGINT)
                 / CAST(count(pred) AS DOUBLE), 6) AS mae
    FROM scored
    GROUP BY event_type
    """,
)
def forecast_seasonal_naive_mae(spark, sf_dir):
    """Seasonal-naive backtest (predict day d = observed d−7), MAE
    per series — the canonical forecast baseline and the shape every
    model backtest shares (score = window lag + aggregate). Daily
    counts partial-aggregate map-side; the lag window partitions by
    series (bounded state: one 7-row buffer per series); MAE is a
    ratio of exact integers rounded at the end, so the oracle hash
    is engine-stable. Gaps in the calendar make lag(7) "7 observed
    days back", identical in both engines (same window semantics)."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, count(1) AS n
          FROM events GROUP BY 1, 2
        ), scored AS (
          SELECT event_type, d, n,
                 lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred
          FROM daily
        )
        SELECT event_type,
               CAST(count(pred) AS BIGINT) AS n_scored_days,
               CAST(sum(abs(n - pred)) AS BIGINT) AS abs_err_sum,
               round(CAST(sum(abs(n - pred)) AS BIGINT)
                     / CAST(count(pred) AS DOUBLE), 6) AS mae
        FROM scored
        GROUP BY event_type
        """,
        ("events",),
    )


@query(
    "profile_mad_outliers",
    sql="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type,
           round(a.med, 6) AS med,
           round(a.mad, 6) AS mad,
           CAST(count_if(abs(e.value - a.med) > 3 * a.mad) AS BIGINT)
             AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events e JOIN mad a ON e.event_type = a.event_type
    GROUP BY e.event_type, a.med, a.mad
    """,
)
def profile_mad_outliers(spark, sf_dir):
    """Robust outlier profile: median + median-absolute-deviation per
    series, rows flagged where |v − med| > 3·MAD. The robust
    complement to profile_user_zscore_outliers — mean/stddev move
    with the outliers they are supposed to find (one 1000× spike
    inflates σ and masks the next), median/MAD have a 50% breakdown
    point. Plan: two grouped exact medians (each one shuffle on the
    series key) + a broadcast-back of the per-series (med, mad) pair
    for the flagging pass; medians interpolate identically in both
    engines (the median_exact precedent)."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH med AS (
          SELECT event_type, median(value) AS med
          FROM events GROUP BY event_type
        ), mad AS (
          SELECT e.event_type, m.med,
                 median(abs(e.value - m.med)) AS mad
          FROM events e JOIN med m ON e.event_type = m.event_type
          GROUP BY e.event_type, m.med
        )
        SELECT e.event_type,
               round(a.med, 6) AS med,
               round(a.mad, 6) AS mad,
               CAST(count_if(abs(e.value - a.med) > 3 * a.mad) AS BIGINT)
                 AS n_outliers,
               CAST(count(1) AS BIGINT) AS n_rows
        FROM events e JOIN mad a ON e.event_type = a.event_type
        GROUP BY e.event_type, a.med, a.mad
        """,
        ("events",),
    )


_PR_EDGES_SQL = """
    edges AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ), deg AS (
      SELECT a, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), nodes AS (
      SELECT DISTINCT a AS k FROM edges
    )"""


def _pagerank_sql(div: str, count1: str) -> str:
    """Two unrolled micro-unit power iterations; ``div`` is the
    integer-division operator spelling (`//` DuckDB, `div` Spark)."""
    edges = _PR_EDGES_SQL.replace("count(*)", count1)
    it = """
    , c{i} AS (
      SELECT e.b, CAST(sum(r.rank {div} dg.d) AS BIGINT) AS s
      FROM edges e JOIN deg dg ON e.a = dg.a JOIN r{p} r ON e.a = r.k
      GROUP BY e.b
    ), r{i} AS (
      SELECT n.k,
             CAST(150000 + (85 * COALESCE(c.s, 0)) {div} 100 AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.k = c.b
    )"""
    body = "".join(
        it.format(i=i, p=i - 1, div=div) for i in (1, 2)
    )
    return f"""
    WITH {edges}
    , r0 AS (SELECT k, CAST(1000000 AS BIGINT) AS rank FROM nodes)
    {body}
    SELECT k AS partkey, rank AS pagerank_micro FROM r2
    """


def _copurchase_edges(spark, sf_dir, key):
    """Symmetrized distinct co-purchase edge set (parts sharing an
    order) — the shared input of the iterative graph queries. The
    r14 plan change (guide §2.4; A/B recorded in OPTIMIZATION_r14.md,
    with identical result hashes at sf0.1 AND sf10): **the
    symmetrized table is cached hash-partitioned on the join key
    ``a``** (r15: at an EXPLICIT ``pinned_width`` partition count —
    bench and cluster configs flow through, floored at the core
    count; see the inline note below for why count-less was a trap). Every downstream join/groupBy on
    ``a`` (PageRank's contribution join + degree count, k-hop's
    frontier join, the triangle orientation) reuses the cached
    partitioning instead of re-exchanging the edges per reference.
    The cache carries 2·|E| thin (long, long) rows — the r9
    flip-union of the oriented cache re-shuffled BOTH directions on
    every use, which cost more than the halved memory saved (probe
    min-of-N: 6.43 → 4.12 s at sf0.1, 35.1 → 17.4 s at sf10 from
    this change alone).

    The pair build itself stays the lineitem self-join + distinct
    (oriented a < b so the distinct dedups half the raw stream, the
    r9 finding). An in-row pair-generation build
    (``groupBy(order).collect_set`` + nested-transform explode) was
    measured FASTER at sf0.1 (2.93 vs 3.68 s full-query) and
    DECLINED: at sf10 the group count is the ORDER count (14.7M),
    and the object-hash collect aggregation (non-codegen, sort-based
    fallback past the in-memory threshold) measured 24.6 vs 14.6 s
    — the self-join's sort-merge is the plan whose cost stays a
    constant number of passes over lineitem at every scale."""
    from trendengine_spark.operators.util import owned_cache, pinned_width

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    l2 = li.withColumnRenamed("l_partkey", "b")
    ori = (
        li.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("b"))
        .select(F.col("l_partkey").alias("a"), "b")
        .distinct()
    )
    sym = ori.unionAll(
        ori.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # r15 (VERDICT r14 #2, guide §2.5 "synthetic partitioning"): the
    # r14 shape was repartition(col("a")) with NO partition count —
    # under AQE that lets byte-based coalescing shrink the few-MB edge
    # cache to a handful of partitions, and under the bench conf it
    # inherits shuffle.partitions=8; either way every downstream
    # CPU-bound stage over the cache runs 4x under-parallel on a
    # 32-core box. Interleaved A/B under BOTH confs
    # (OPTIMIZATION_r15.md, hash-identical): explicit width wins
    # or ties everywhere (bench conf: triangles 3.49->2.40, pagerank
    # 3.70->2.99; engine conf: pagerank 4.60->2.93, triangles
    # 4.29->2.86). Width = max(shuffle.partitions, defaultParallelism)
    # — honors the user's shuffle sizing on a cluster (2-3x cores >
    # cores), restores full width locally; nothing scale-pinned.
    return owned_cache(
        sym.repartition(pinned_width(spark), F.col("a")), key=key
    )


@query("graph_pagerank_micro", sql=_pagerank_sql("//", "count(*)"))
def graph_pagerank_micro(spark, sf_dir):
    """PageRank, two power iterations, in INTEGER micro-units — the
    iterative-graph-algorithm shape (CC's sibling) with an exact
    oracle: rank starts at 10⁶, each iteration distributes
    rank÷out-degree (integer division) along co-purchase edges and
    applies damping as 0.15·10⁶ + (85·Σ)÷100, all in BIGINT. Float
    PageRank sums in nondeterministic order and can flip a value
    hash in the last ulp; integer arithmetic is order-free, so
    Spark and DuckDB agree bit-for-bit while the PLAN stays the real
    one — per iteration: ranks ⋈ edges on the source key (one
    shuffle), contributions partial+final-summed on the destination
    key (second shuffle), degrees joined once. At 100 TB the loop
    runs K such rounds with the rank table checkpointed per round
    (the CC pointer-jumping recipe, `operators/graph.py`); edge
    fan-out is bounded by lines-per-order, never N².

    The Spark plan builds in DataFrame form with the EDGE TABLE
    CACHED once (`owned_cache`): Spark inlines deterministic CTEs
    into every reference, so the SQL rendering re-executes the
    edge build + distinct four times (deg, nodes, two contribution
    passes) — measured 6.3 s vs 2.5 s for DuckDB (which
    materializes the CTE) at synthetic sf1. Caching the edges is the
    loop-invariant hoisting every iterative graph algorithm needs;
    the per-iteration math is identical to the oracle SQL.

    r14 iteration-body replan (guide §2.3 "shuffle fewer bytes",
    §2.4; A/B recorded in OPTIMIZATION_r14.md, hash-identical):
    the old body joined the FULL edge table twice per iteration
    (once against ``deg``, once against the rank table). Both are
    per-node tables, so they are pre-joined into one |nodes|-sized
    ``w = (a, rank div d)`` FIRST and the edges are joined exactly
    once per iteration; ``rank div d`` is one integer per source
    node either way, so the summed contributions are bit-identical.
    ``nodes`` is read off ``deg`` (one row per distinct source by
    construction) instead of a separate distinct pass. With the
    edges cached partitioned on ``a`` the degree count and the
    contribution join are exchange-free on the edge side; the tiny
    ``w`` broadcast-joins under AQE and sort-merges against the
    cached layout when it outgrows the threshold — nothing in the
    plan pins a scale constant. Probe (full build+2-iteration job,
    min-of-N, identical hashes): 6.43 → 3.68 s at sf0.1 and
    35.1 → 14.6 s at sf10."""
    edges = _copurchase_edges(spark, sf_dir, f"pagerank_edges:{sf_dir}")
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    nodes = deg.select(F.col("a").alias("k"))
    r = nodes.withColumn("rank", F.lit(1000000).cast("long"))
    for _ in range(2):
        w = r.join(deg, r.k == deg.a).select(
            "a", F.expr("rank div d").alias("c")
        )
        contrib = (
            edges.join(w, "a")
            .groupBy("b")
            .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("s"))
        )
        r = nodes.join(contrib, nodes.k == contrib.b, "left").select(
            "k",
            (
                F.lit(150000)
                + F.expr("(85 * COALESCE(s, 0)) div 100")
            ).cast("long").alias("rank"),
        )
    return r.select(
        F.col("k").alias("partkey"), F.col("rank").alias("pagerank_micro")
    )


@query(
    "join_time_window_counts",
    sql="""
    WITH p AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
      WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id AS u2, epoch_ms(ts) AS ms2 FROM events
    )
    SELECT p.event_id,
           CAST(count(e.u2) AS BIGINT) AS n_nearby
    FROM p LEFT JOIN e
      ON e.u2 <> p.user_id AND abs(p.ms - e.ms2) <= 60000
    GROUP BY p.event_id
    """,
)
def join_time_window_counts(spark, sf_dir):
    """Co-activity: for every purchase, how many events by OTHER
    users landed within ±60 s — a pure range join (no equi key),
    which naively is |L|·|R| and is exactly what a cartesian sweep
    must refuse at scale.

    r13 plan (VERDICT r12 #3 — the r12 bucket-join plan materialized
    the matched PAIRS, ~n²/window rows at 100× event density, and
    died in join state at sf10): the pair table never exists.
    Exact-count decomposition n_nearby = n_total − n_own:

    * **n_total** (events of ANY user within ±60 s) is a RANGE-frame
      window count — probes explode into their 3 adjacent
      tolerance-width buckets (a generator), union with the events
      carrying their single home bucket, and ONE
      ``sum(_is_ev) OVER (PARTITION BY bkt ORDER BY t RANGE BETWEEN
      -60000 AND 60000)`` counts each event exactly once (in its
      home bucket) per probe. Intermediate volume: 3·|probes| +
      |events| rows through one shuffle — linear at ANY activity
      density, where the pair plan was quadratic.
    * **n_own** (the probe user's own events, subtracted out — the
      purchase row itself among them) joins on BOTH keys
      (bkt, user_id): per-user density, never all-users.

    Millisecond integers end-to-end: no float time arithmetic to
    drift. Every non-NULL-user purchase appears (its own event makes
    n_total ≥ 1), so no left-join padding pass is needed there.

    NULL user_id (ADVICE r13): the oracle's ``e.u2 <> p.user_id``
    predicate is NULL-false, so NULL-user EVENTS count toward
    nobody's window and a NULL-user PURCHASE gets n_nearby = 0. The
    decomposition mirrors that explicitly: NULL-user events are
    filtered from the counting side, and NULL-user purchases are
    emitted as literal 0 rows (the n_total − n_own identity needs
    the equi-join to subtract own events, which a NULL key cannot)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    pall = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_millis("ts").alias("ms")
    )
    p = pall.filter(F.col("user_id").isNotNull())
    null_user = pall.filter(F.col("user_id").isNull()).select(
        "event_id", F.lit(0).cast("long").alias("n_nearby")
    )
    e = ev.filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("user_id"),
        F.unix_millis("ts").alias("ms2"),
        (F.unix_millis("ts") / F.lit(60000)).cast("long").alias("bkt"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "ms",
        F.explode(
            F.array(
                (F.col("ms") / 60000).cast("long") - 1,
                (F.col("ms") / 60000).cast("long"),
                (F.col("ms") / 60000).cast("long") + 1,
            )
        ).alias("bkt"),
    )
    u = probes.select(
        "event_id", "bkt", F.col("ms").alias("_t"), F.lit(0).alias("_is_ev")
    ).unionByName(
        e.select(
            F.lit(None).cast(p.schema["event_id"].dataType).alias("event_id"),
            "bkt",
            F.col("ms2").alias("_t"),
            F.lit(1).alias("_is_ev"),
        )
    )
    w = Window.partitionBy("bkt").orderBy("_t").rangeBetween(-60000, 60000)
    totals = (
        u.withColumn("_n", F.sum("_is_ev").over(w))
        .filter(F.col("_is_ev") == 0)
        .groupBy("event_id")
        .agg(F.sum("_n").alias("n_total"))
    )
    own = (
        probes.join(e, ["bkt", "user_id"])
        .filter(F.abs(F.col("ms") - F.col("ms2")) <= 60000)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_own"))
    )
    return totals.join(own, "event_id", "left").select(
        "event_id",
        (F.col("n_total") - F.coalesce("n_own", F.lit(0)))
        .cast("long")
        .alias("n_nearby"),
    ).unionByName(null_user)


@query(
    "text_rarity_profile",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(
        string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), gf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY term
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count_if(g.n <= 2) AS BIGINT) AS n_rare,
           round(CAST(sum(g.n) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
             AS mean_term_df
    FROM tok t JOIN gf g ON t.term = g.term
    GROUP BY t.doc_id
    """,
)
def text_rarity_profile(spark, sf_dir):
    """Per-document rarity signals against the corpus itself: token
    count, number of rare tokens (corpus frequency ≤ 2 — hapax/dis
    legomena, the misspelling/garbage detector), and mean corpus
    term frequency (low = jargon-heavy or noisy, high = boilerplate
    vocabulary). This is the integer-exact rendering of the
    unigram-LM perplexity curation signal: log p sums drift across
    engines in the last ulp, while counts and one final
    integer-ratio round cannot. Plan: one explode, one term-keyed
    global count (partial+final), one term-keyed join back (the
    TF-IDF df-join shape), one doc-keyed aggregate."""
    return sql_over_tables(
        spark,
        sf_dir,
        r"""
        WITH tok AS (
          SELECT doc_id,
                 explode(filter(split(trim(text), '\\s+'), x -> x != ''))
                   AS term
          FROM documents
        ), gf AS (
          SELECT term, CAST(count(1) AS BIGINT) AS n FROM tok GROUP BY term
        )
        SELECT t.doc_id,
               CAST(count(1) AS BIGINT) AS n_tokens,
               CAST(count_if(g.n <= 2) AS BIGINT) AS n_rare,
               round(CAST(sum(g.n) AS BIGINT) / CAST(count(1) AS DOUBLE), 6)
                 AS mean_term_df
        FROM tok t JOIN gf g ON t.term = g.term
        GROUP BY t.doc_id
        """,
        ("documents",),
    )


_REACH_SQL = """
    WITH RECURSIVE {edges},
    reach(k, hop) AS (
      SELECT p_partkey, 0 FROM part WHERE p_brand = 'Brand#1'
      UNION ALL
      SELECT DISTINCT e.b, r.hop + 1
      FROM reach r JOIN edges e ON e.a = r.k
      WHERE r.hop < 2
    )
    SELECT k AS partkey, CAST(min(hop) AS INT) AS hop
    FROM reach GROUP BY k
    """


@query(
    "recursive_cte_reachability",
    sql=_REACH_SQL.format(edges=_PR_EDGES_SQL.strip().rstrip(")") + ")"),
)
def recursive_cte_reachability(spark, sf_dir):
    """JOIN-DRIVEN recursion — the second recursion class after the
    scalar-counter spine (recursive_cte_month_spine): BFS closure
    over the co-purchase graph, seeds at hop 0, each recursive step a
    JOIN of the working set against the edge table, min-hop dedup in
    the final aggregate. Declared per-engine as the SAME `WITH
    RECURSIVE ... UNION ALL` text (Spark 4 and DuckDB both run it
    natively — dialect parity on the newest Spark SQL feature). The
    recursive step SELECTs DISTINCT, so each level is bounded by the
    node count instead of Σ path-count (the raw UNION ALL fan-out
    tripped Spark's 10⁶ recursion-row guard already at sf0.01 —
    seeds·deg² paths; per-level dedup is how a declarative BFS stays
    scale-safe, and min(hop) is unchanged by it). The operator
    rendering of the same traversal
    (`operators/graph.khop_frontiers`, used by graph_copurchase_2hop)
    anti-joins each frontier against the seen set instead — the
    shape to prefer when fan-out revisits nodes heavily; this query
    pins the declarative twin.

    The Spark side (r8, VERDICT r7 task 4) routes through the
    ITERATIVE operator loop (`operators/graph.khop_frontiers` with
    per-level `owned_cache`), the same pattern `graph_pagerank_micro`
    uses for its power iterations: the r7 native `WITH RECURSIVE`
    rendering — even over a cached edge view — re-executed each
    level's step subplan inside Spark's recursion node (12.69 s vs
    DuckDB 4.15 s at synthetic sf3), while the loop runs each level
    exactly once against the cached edges and cached previous
    frontier. The anti-join-vs-visited frontier is set-equivalent to
    the recursive text's per-level DISTINCT + final min(hop): a node
    enters exactly at its first (= minimum) hop. The DuckDB oracle
    still runs the original `WITH RECURSIVE ... UNION ALL` text, so
    the two recursion renderings are cross-checked; Spark's own
    native recursive-SQL support stays pinned by
    `recursive_cte_month_spine` (scalar class) and the dialect-parity
    unit test in tests/test_relational_ops.py (join-driven class)."""
    from trendengine_spark.operators.graph import khop_frontiers
    from trendengine_spark.queries.base import t as _t

    edges = _copurchase_edges(spark, sf_dir, f"reach_edges:{sf_dir}")
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select(F.col("p_partkey").alias("k"))
        .distinct()
    )
    levels = khop_frontiers(
        edges, seeds, 2, cache_key=f"reach_lvl:{sf_dir}"
    )
    return (
        seeds.select("k", F.lit(0).alias("hop"))
        .unionAll(levels)
        .select(
            F.col("k").alias("partkey"), F.col("hop").cast("int").alias("hop")
        )
    )


@query(
    "trend_mann_kendall_stats",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily
    ), pairs AS (
      SELECT a.event_type,
             CAST(sign(b.v - a.v) AS BIGINT) AS sg,
             (b.v - a.v) / CAST(b.i - a.i AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    ), agg AS (
      SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat,
             round(median(slope), 6) AS sens_slope
      FROM pairs GROUP BY event_type
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily
      GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2) g
      GROUP BY event_type
    )
    SELECT nn.event_type, CAST(nn.n AS INT) AS n,
           COALESCE(agg.s_stat, 0) AS s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                AS BIGINT) AS var_s18,
           COALESCE(agg.sens_slope, 0.0) AS sens_slope
    FROM nn LEFT JOIN agg ON nn.event_type = agg.event_type
            JOIN ties ON nn.event_type = ties.event_type
    """,
)
def trend_mann_kendall_stats(spark, sf_dir):
    """Mann–Kendall S statistic, tie-corrected variance numerator
    (18·Var(S) — kept as an exact BIGINT so no float division enters
    the hash) and Sen's slope per daily event-count series — the
    non-parametric trend baseline of the reference's own literature
    (MK/Sen is what PolyTrend-class methods are benchmarked against).

    CROSS-PARADIGM oracle: Spark runs the numpy per-series
    implementation (`functions/mannkendall.py` — vectorized pairwise
    triangle per group); DuckDB states the same math as a relational
    pairwise self-join over the day-indexed series. Two independent
    formulations of S, the tie term and the pairwise-slope median
    must agree exactly (integer series ⇒ identical rationals ⇒
    identical doubles). Series are daily composites, so the O(n²)
    pair set is ~66k rows per group — bounded by the calendar, not
    the event volume."""
    from trendengine_spark.functions.mannkendall import mann_kendall_groups

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    mk = mann_kendall_groups(
        daily, ["event_type"], time_col="d", value_col="v"
    )
    return mk.select(
        "event_type", "n", "s_stat", "var_s18",
        F.round("sens_slope", 6).alias("sens_slope"),
    )


@query(
    "u6_mann_kendall_events",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily
    ), pairs AS (
      SELECT a.event_type,
             CAST(sign(b.v - a.v) AS BIGINT) AS sg,
             (b.v - a.v) / CAST(b.i - a.i AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    ), agg AS (
      SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat,
             round(median(slope), 6) AS sens_slope
      FROM pairs GROUP BY event_type
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily
      GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2) g
      GROUP BY event_type
    ), core AS (
      SELECT nn.event_type, nn.n,
             COALESCE(agg.s_stat, 0) AS s_stat,
             CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                  AS BIGINT) AS var_s18,
             COALESCE(agg.sens_slope, 0.0) AS sens_slope
      FROM nn LEFT JOIN agg ON nn.event_type = agg.event_type
              JOIN ties ON nn.event_type = ties.event_type
    ), zed AS (
      SELECT *,
        CASE WHEN var_s18 <= 0 THEN CAST(0 AS DOUBLE)
             WHEN s_stat > 0 THEN
               CAST(s_stat - 1 AS DOUBLE)
               / sqrt(CAST(var_s18 AS DOUBLE) / CAST(18 AS DOUBLE))
             WHEN s_stat < 0 THEN
               CAST(s_stat + 1 AS DOUBLE)
               / sqrt(CAST(var_s18 AS DOUBLE) / CAST(18 AS DOUBLE))
             ELSE CAST(0 AS DOUBLE) END AS z
      FROM core
    ), erf AS (
      SELECT *,
        (CAST(1 AS DOUBLE)
           / (CAST(1 AS DOUBLE)
              + 3.275911e-1 * (abs(z) / sqrt(CAST(2 AS DOUBLE)))))
          AS tt,
        abs(z) / sqrt(CAST(2 AS DOUBLE)) AS ax
      FROM zed
    ), pv AS (
      SELECT *,
        (tt * (2.54829592e-1
               + tt * (-2.84496736e-1
                       + tt * (1.421413741e0
                               + tt * (-1.453152027e0
                                       + tt * 1.061405429e0)))))
          * exp(-(ax * ax)) AS p_value
      FROM erf
    )
    SELECT event_type, CAST(n AS INT) AS n, s_stat,
           round(z, 6) AS z,
           round(p_value, 6) AS p_value,
           CAST(CASE WHEN p_value < 5e-2 THEN CAST(sign(s_stat) AS INT)
                ELSE 0 END AS INT) AS trend,
           sens_slope
    FROM pv
    """,
)
def u6_mann_kendall_events(spark, sf_dir):
    """The decision-ready MK output (adds z / p_value / trend to the
    oracle-checked integer core): what a TrendEngine user actually
    reads off a trend test. Same per-group numpy path.

    FULL ORACLE since r11 (VERDICT r10 task 6): the normal-
    approximation tail that kept this rows-only is engine-portable
    after all — z is one division of exact integers by one
    IEEE-correctly-rounded sqrt (identical doubles by construction),
    and the two-sided p uses `_erfc` (Abramowitz–Stegun 7.1.26),
    which is FIVE Horner steps and one `exp` of plain doubles: the
    oracle SQL transcribes the exact operation sequence (same
    nesting, exponent-notation double literals), and both the Python
    UDF (math.exp) and DuckDB (std::exp) bind the same platform libm,
    so even the one non-correctly-rounded call agrees bitwise. The
    trend verdict compares the UNROUNDED p against α — exactly the
    numpy decision; z/p round at 6 dp only for display (boundary
    collisions would need a value within 1e-16 of a .xxxxxx5
    half-way point). The n<2 early-return needs no SQL twin: its
    z=0/p=1 outputs coincide with the formula path after rounding
    (_erfc(0) = 0.999999999 rounds to 1.0)."""
    from trendengine_spark.functions.mannkendall import mann_kendall_groups

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    mk = mann_kendall_groups(
        daily, ["event_type"], time_col="d", value_col="v"
    )
    return mk.select(
        "event_type", "n", "s_stat",
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
        "trend",
        F.round("sens_slope", 6).alias("sens_slope"),
    )


@query(
    "agg_trimmed_mean_pandas",
    sql="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_used,
           round(CAST(sum(cents) AS BIGINT) / (100.0 * count(*)), 6)
             AS trimmed_mean
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
)
def agg_trimmed_mean_pandas(spark, sf_dir):
    """10% trimmed mean per series through a GROUPED_AGG pandas UDF —
    the Arrow-vectorized custom-aggregate API surface (a series-in,
    scalar-out numpy reduction registered as an aggregate function),
    exercised here with math that stays hash-exact: values become
    integer cents (SQL ROUND semantics), the trim drops ⌊n/10⌋ from
    each end of the SORTED cents, and the mean is one double division
    of exact integers. The oracle states the identical trim as a
    rank-window filter — two formulations, one multiset (ties at the
    cut interchange equal values only).

    Scale note: a grouped-agg pandas UDF materializes each GROUP in
    executor memory (no partial aggregation) — right for bounded
    category groups like this; for unbounded keys use the window
    rendering (shuffle-partitioned) or an approx-percentile trim."""

    @F.pandas_udf("long")
    def trimmed_sum_cents(v: pd.Series) -> int:
        x = v.to_numpy(dtype=np.float64)
        c = np.sort(
            (np.sign(x) * np.floor(np.abs(x) * 100 + 0.5)).astype(np.int64)
        )
        k = len(c) // 10
        return int(c[k : len(c) - k].sum())

    @F.pandas_udf("long")
    def trimmed_count(v: pd.Series) -> int:
        n = len(v)
        return int(n - 2 * (n // 10))

    ev = t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        trimmed_sum_cents(F.col("value")).alias("s"),
        trimmed_count(F.col("value")).alias("n_used"),
    )
    return g.select(
        "event_type",
        F.col("n_used").cast("long").alias("n_used"),
        F.round(F.col("s") / (100.0 * F.col("n_used")), 6).alias(
            "trimmed_mean"
        ),
    )


@query(
    "window_conditional_running",
    sql="""
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS purchases_so_far,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS errors_so_far
    FROM events
    """,
)
def window_conditional_running(spark, sf_dir):
    """Conditional running aggregates — per-user lifetime counters
    ("how many purchases had this user made at the time of each
    event"), the feature-engineering staple for event models. A
    CASE-gated windowed sum with a deterministic (ts, event_id)
    order; integer counters, user-partitioned window state, ROWS
    frame = one running accumulator per partition (no buffering).
    Two counters share one window spec → one sort, one WindowExec."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT event_id, user_id,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS purchases_so_far,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS errors_so_far
        FROM events
        """,
        ("events",),
    )


@query(
    "trend_seasonal_mann_kendall",
    sql="""
    WITH monthly AS (
      SELECT event_type, year(ts) AS yy, month(ts) AS mm,
             CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2, 3
    ), idx AS (
      SELECT event_type, mm, v,
             row_number() OVER (PARTITION BY event_type, mm ORDER BY yy)
               AS i
      FROM monthly
    ), pairs AS (
      SELECT a.event_type, CAST(sign(b.v - a.v) AS BIGINT) AS sg,
             (b.v - a.v) / CAST(b.i - a.i AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.mm = b.mm AND b.i > a.i
    ), agg AS (
      SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_total,
             round(median(slope), 6) AS seasonal_sen
      FROM pairs GROUP BY 1
    ), counts AS (
      SELECT event_type, mm, CAST(count(*) AS BIGINT) AS n
      FROM monthly GROUP BY 1, 2
    ), ties AS (
      SELECT event_type, mm,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, mm, v, CAST(count(*) AS BIGINT) AS t
            FROM monthly GROUP BY 1, 2, 3) g
      GROUP BY 1, 2
    ), var18 AS (
      SELECT c.event_type,
             CAST(sum(c.n * (c.n - 1) * (2 * c.n + 5) - t.tie_term)
                  AS BIGINT) AS var_s18_total
      FROM counts c JOIN ties t
        ON c.event_type = t.event_type AND c.mm = t.mm
      GROUP BY 1
    )
    SELECT v.event_type,
           CAST(COALESCE(a.s_total, 0) AS BIGINT) AS s_total,
           v.var_s18_total,
           COALESCE(a.seasonal_sen, 0.0) AS seasonal_sen
    FROM var18 v LEFT JOIN agg a ON v.event_type = a.event_type
    """,
)
def trend_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal (Hirsch–Slack) Mann–Kendall over monthly event-count
    series — the trend test the reference's DOMAIN actually calls
    for: NDVI-class series carry a hard annual cycle, and plain MK
    reads the cycle as noise (or worse, trend). The seasonal variant
    tests each month-of-year's across-year series and combines
    S/Var; the seasonal Sen slope pools within-month pairwise
    slopes. Same cross-paradigm oracle as trend_mann_kendall_stats:
    Spark runs the numpy `seasonal_mann_kendall_groups` UDF, DuckDB
    states the combination relationally (month-partitioned pairwise
    self-join + per-month tie terms) — integer-exact S and variance
    numerator, median of identical rationals."""
    from trendengine_spark.functions.mannkendall import (
        seasonal_mann_kendall_groups,
    )

    ev = t(spark, sf_dir, "events")
    monthly = ev.groupBy(
        "event_type",
        F.year("ts").alias("yy"),
        F.month("ts").alias("mm"),
    ).agg(F.count(F.lit(1)).alias("v"))
    smk = seasonal_mann_kendall_groups(
        monthly, ["event_type"], time_col="yy", season_col="mm",
        value_col="v",
    )
    return smk.select(
        "event_type", "s_total", "var_s18_total",
        F.round("seasonal_sen", 6).alias("seasonal_sen"),
    )


@query(
    "u7_bfast_monitor_events",
    sql=None,
    doc="BFAST-monitor-lite MOSUM disturbance detection per event-type "
    "daily series: harmonic+trend fit on the stable history (first "
    "60%), moving sums of scaled residuals over the monitoring "
    "period, alarm on boundary crossing with break date + magnitude. "
    "Rows-only (OLS/MOSUM has no DuckDB twin); the detection contract "
    "is pinned by golden tests (tests/test_bfast.py: planted shifts "
    "found within one window, stable/seasonal/trending series do not "
    "alarm).",
)
def u7_bfast_monitor_events(spark, sf_dir):
    """Near-real-time disturbance monitoring (the streaming-adjacent
    complement to DBEST's offline change detection, re-derived from
    the published BFAST-Monitor method): per series, is the NEWEST
    data still behaving like the stable history? Daily counts per
    event_type with weekly seasonality (freq=7)."""
    from trendengine_spark.functions.bfast import bfast_monitor_groups

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    out = bfast_monitor_groups(
        daily, ["event_type"], time_col="d", value_col="v", freq=7.0
    )
    return out.select(
        "event_type", "break_detected", "break_idx",
        F.round("magnitude", 6).alias("magnitude"),
        F.round("mosum_max", 6).alias("mosum_max"),
        "n_history", "n_monitor",
    )


@query(
    "hier_share_of_parent",
    sql="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, CAST(sum(cents) AS BIGINT) AS region_cents
      FROM nat GROUP BY region
    )
    SELECT nat.region, nat.nation, nat.cents,
           round(nat.cents / CAST(reg.region_cents AS DOUBLE), 6)
             AS share_of_region
    FROM nat JOIN reg ON nat.region = reg.region
    """,
)
def hier_share_of_parent(spark, sf_dir):
    """Share-of-parent over the geography hierarchy (nation revenue /
    its region's revenue) — the drill-down ratio every BI layer
    computes. Plan: ONE grouped aggregate at the leaf level (money in
    integer cents — partial+final exact), then the parent level is
    re-aggregated FROM THE LEAF ROWS (a ≤#nations-row frame), not
    from a second fact scan, and joined back broadcast-small. The
    window alternative (`sum() OVER (PARTITION BY region)`) computes
    the same thing but re-shuffles every leaf row; aggregating the
    aggregate touches #groups rows instead."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        WITH nat AS (
          SELECT r.r_name AS region, n.n_name AS nation,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n   ON c.c_nationkey = n.n_nationkey
          JOIN region r   ON n.n_regionkey = r.r_regionkey
          GROUP BY 1, 2
        ), reg AS (
          SELECT region, CAST(sum(cents) AS BIGINT) AS region_cents
          FROM nat GROUP BY region
        )
        SELECT nat.region, nat.nation, nat.cents,
               round(nat.cents / CAST(reg.region_cents AS DOUBLE), 6)
                 AS share_of_region
        FROM nat JOIN reg ON nat.region = reg.region
        """,
        ("orders", "customer", "nation", "region"),
    )


@query(
    "rollup_grouping_id",
    sql="""
    SELECT
      CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
           ELSE o_orderpriority END AS priority,
      CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
           ELSE o_orderstatus END AS status,
      CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
           AS INT) AS gid,
      CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_grouping_id(spark, sf_dir):
    """GROUPING()/grouping-id dialect parity: subtotal rows in a
    ROLLUP are distinguished from genuine NULL group values by the
    GROUPING() flag (the only correct way — a NULL-check misreads
    data nulls as subtotals), folded here into a composite grouping
    id and a labeled drill path. One expand + one aggregate; the
    flags are plan metadata, free at any scale."""
    return sql_over_tables(
        spark,
        sf_dir,
        """
        SELECT
          CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
               ELSE o_orderpriority END AS priority,
          CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
               ELSE o_orderstatus END AS status,
          CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
               AS INT) AS gid,
          CAST(count(1) AS BIGINT) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        ("orders",),
    )


@query(
    "trend_polyfit_coeffs",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  - 1 AS BIGINT) AS x
      FROM daily
    ), mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m0,
             CAST(sum(x) AS BIGINT) AS m1,
             CAST(sum(x * x) AS BIGINT) AS m2,
             CAST(sum(x * x * x) AS BIGINT) AS m3,
             CAST(sum(x * x * x * x) AS BIGINT) AS m4,
             CAST(sum(y) AS BIGINT) AS s0,
             CAST(sum(x * y) AS BIGINT) AS s1,
             CAST(sum(x * x * y) AS BIGINT) AS s2
      FROM idx GROUP BY event_type
    ), det AS (
      SELECT event_type, m0,
             m0*(m2*m4 - m3*m3) - m1*(m1*m4 - m3*m2)
               + m2*(m1*m3 - m2*m2) AS dd,
             s0*(m2*m4 - m3*m3) - m1*(s1*m4 - m3*s2)
               + m2*(s1*m3 - m2*s2) AS d0,
             m0*(s1*m4 - m3*s2) - s0*(m1*m4 - m3*m2)
               + m2*(m1*s2 - s1*m2) AS d1,
             m0*(m2*s2 - m3*s1) - m1*(m1*s2 - s1*m2)
               + s0*(m1*m3 - m2*m2) AS d2,
             m0*s1 - m1*s0 AS ln_num,
             s0*m2 - m1*s1 AS li_num,
             m0*m2 - m1*m1 AS l_den
      FROM mom
    )
    SELECT event_type, CAST(m0 AS INT) AS n,
           CASE WHEN dd = 0 THEN 0.0
                ELSE CAST(d0 AS DOUBLE) / CAST(dd AS DOUBLE) END AS b0,
           CASE WHEN dd = 0 THEN 0.0
                ELSE CAST(d1 AS DOUBLE) / CAST(dd AS DOUBLE) END AS b1,
           CASE WHEN dd = 0 THEN 0.0
                ELSE CAST(d2 AS DOUBLE) / CAST(dd AS DOUBLE) END AS b2,
           CASE WHEN l_den = 0 THEN 0.0
                ELSE CAST(ln_num AS DOUBLE) / CAST(l_den AS DOUBLE)
                END AS slope_lin,
           CASE WHEN l_den = 0 THEN 0.0
                ELSE CAST(li_num AS DOUBLE) / CAST(l_den AS DOUBLE)
                END AS intercept_lin
    FROM det
    """,
)
def trend_polyfit_coeffs(spark, sf_dir):
    """Quadratic + linear OLS fit per daily event-count series via
    EXACT integer normal equations — the relational-oracle rendering
    of PolyTrend's U4 polynomial fits (reference contract
    `/root/reference/TrendEngine/calculations/polytrend.py:291-312`:
    the classifier cascade is OLS fits of degree 3→2→1 whose
    coefficients feed significance tests; `functions/polytrend.py`
    implements it in numpy). The MK playbook generalized (VERDICT r7
    task 2): for integer series and integer x, every normal-equation
    moment (Σxᵏ, Σxᵏy, k ≤ 4) is an exact BIGINT, Cramer determinants
    of the 3×3 system stay ≪ 2⁵³, and each coefficient is ONE
    correctly-rounded double division of identical exact integers on
    both engines — so the hash compare is exact with no rounding at
    all. `tests/test_polytrend_golden.py` closes the loop by asserting
    these Cramer coefficients equal `stattools.ols_poly` (the
    production U1/U4 fitting path, numpy lstsq) to 1e-8.

    Scale: one narrow shuffle to daily counts (partial+final agg), one
    in-partition window for x, one moment aggregation — the series
    length is calendar-bounded, the aggregation is over series keys."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    xi = daily.select(
        "event_type",
        (F.row_number().over(w) - 1).cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    g = xi.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m0"),
        F.sum(x).alias("m1"),
        F.sum(x * x).alias("m2"),
        F.sum(x * x * x).alias("m3"),
        F.sum(x * x * x * x).alias("m4"),
        F.sum(y).alias("s0"),
        F.sum(x * y).alias("s1"),
        F.sum(x * x * y).alias("s2"),
    )
    m0, m1, m2, m3, m4, s0, s1, s2 = (
        F.col(c) for c in ("m0", "m1", "m2", "m3", "m4", "s0", "s1", "s2")
    )
    dd = (
        m0 * (m2 * m4 - m3 * m3)
        - m1 * (m1 * m4 - m3 * m2)
        + m2 * (m1 * m3 - m2 * m2)
    )
    d0 = (
        s0 * (m2 * m4 - m3 * m3)
        - m1 * (s1 * m4 - m3 * s2)
        + m2 * (s1 * m3 - m2 * s2)
    )
    d1 = (
        m0 * (s1 * m4 - m3 * s2)
        - s0 * (m1 * m4 - m3 * m2)
        + m2 * (m1 * s2 - s1 * m2)
    )
    d2 = (
        m0 * (m2 * s2 - m3 * s1)
        - m1 * (m1 * s2 - s1 * m2)
        + s0 * (m1 * m3 - m2 * m2)
    )
    l_den = m0 * m2 - m1 * m1

    def ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        )

    return g.select(
        "event_type",
        m0.cast("int").alias("n"),
        ratio(d0, dd).alias("b0"),
        ratio(d1, dd).alias("b1"),
        ratio(d2, dd).alias("b2"),
        ratio(m0 * s1 - m1 * s0, l_den).alias("slope_lin"),
        ratio(s0 * m2 - m1 * s1, l_den).alias("intercept_lin"),
    )


@query(
    "u5_decomposition_relational",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
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
    SELECT tt.event_type, CAST(tt.i AS INT) AS i, tt.y,
           CAST(tt.t7 AS DOUBLE) / 7 AS trend,
           CAST(ss.num AS DOUBLE) / (7 * ss.k) AS seasonal,
           (CAST(tt.y AS DOUBLE) - CAST(tt.t7 AS DOUBLE) / 7)
             - CAST(ss.num AS DOUBLE) / (7 * ss.k) AS remainder
    FROM interior tt
    JOIN seas ss ON tt.event_type = ss.event_type AND tt.i % 7 = ss.p
    """,
)
def u5_decomposition_relational(spark, sf_dir):
    """Classical additive decomposition (U5) as plain SQL — the
    relational-oracle twin of `stattools.classical_decompose` (VERDICT
    r7 task 2): trend = period-7 centered moving average (day-of-week
    cycle), seasonal = per-phase mean of the detrended interior,
    remainder = the rest, per daily event-count series (reference
    consumption of the decomposition vectors:
    `/root/reference/TrendEngine/calculations/dbest.py:326-329`).

    Exactness without rounding: the MA numerator t7 = Σ_{±3} y is an
    exact BIGINT window sum; the detrended value scaled by the period
    (7y − t7) is again exact BIGINT, so the phase mean is one double
    division num/(7k) of exact integers, trend is t7/7, and remainder
    is two IEEE subtractions of identical doubles — bit-equal across
    engines, no float aggregation order anywhere (a double-valued
    phase mean would be partial-agg-order-dependent; the ×7 scaling is
    what keeps the whole pipeline in integers). Interior points only
    (|window| = 7); `classical_decompose`'s end extension is a UDF
    concern, cross-checked in tests/test_dbest_golden.py.

    Spark side is the IDENTICAL program in native window/agg ops —
    zero Python: two in-partition windows, one tiny phase aggregate,
    one broadcast-size join back."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.col("y").cast("long").alias("y"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    wr = (
        Window.partitionBy("event_type").orderBy("i").rowsBetween(-3, 3)
    )
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
        "y",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        ((F.col("y").cast("double") - trend) - seasonal).alias("remainder"),
    )


@query(
    "window_rolling_slope",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  - 1 AS BIGINT) AS x
      FROM daily
    ), w AS (
      SELECT event_type, x, y,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(x) OVER win AS BIGINT) AS sx,
             CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
             CAST(sum(y) OVER win AS BIGINT) AS sy,
             CAST(sum(x * y) OVER win AS BIGINT) AS sxy
      FROM idx
      WINDOW win AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(x AS INT) AS i, y, CAST(n AS INT) AS n_window,
           CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
    FROM w
    """,
)
def window_rolling_slope(spark, sf_dir):
    """Rolling 14-day OLS slope per daily event-count series — the
    trend-feature window every forecasting/monitoring pipeline
    computes, rendered EXACTLY: the regression inputs are five
    integer window sums (n, Σx, Σx², Σy, Σxy over ROWS 13 PRECEDING),
    and the slope is one double division of two exact BIGINTs
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the same no-rounding hash
    contract as trend_polyfit_coeffs, now per-row under a moving
    frame. One shuffle to daily counts, one in-partition window pass,
    zero Python. Degenerate frames (n=1, zero variance) emit 0."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    w0 = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        (F.row_number().over(w0) - 1).cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    win = (
        Window.partitionBy("event_type").orderBy("x").rowsBetween(-13, 0)
    )
    x, y = F.col("x"), F.col("y")
    g = idx.select(
        "event_type",
        "x",
        "y",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum(x).over(win).alias("sx"),
        F.sum(x * x).over(win).alias("sxx"),
        F.sum(y).over(win).alias("sy"),
        F.sum(x * y).over(win).alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (
        F.col(c) for c in ("n", "sx", "sxx", "sy", "sxy")
    )
    den = n * sxx - sx * sx
    return g.select(
        "event_type",
        x.cast("int").alias("i"),
        "y",
        n.cast("int").alias("n_window"),
        F.when(den == 0, F.lit(0.0))
        .otherwise((n * sxy - sx * sy).cast("double") / den.cast("double"))
        .alias("slope"),
    )


@query(
    "stats_spearman_pairs",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), joined AS (
      SELECT a.event_type AS ta, b.event_type AS tb, a.d,
             a.y AS ya, b.y AS yb
      FROM daily a JOIN daily b
        ON a.d = b.d AND a.event_type < b.event_type
    ), ranked AS (
      SELECT ta, tb,
             CAST(2 * rank() OVER (PARTITION BY ta, tb ORDER BY ya)
                  + count(*) OVER (PARTITION BY ta, tb, ya) - 1
                  AS BIGINT) AS r2a,
             CAST(2 * rank() OVER (PARTITION BY ta, tb ORDER BY yb)
                  + count(*) OVER (PARTITION BY ta, tb, yb) - 1
                  AS BIGINT) AS r2b
      FROM joined
    ), agg AS (
      SELECT ta, tb, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2a) AS BIGINT) AS sa,
             CAST(sum(r2b) AS BIGINT) AS sb,
             CAST(sum(r2a * r2a) AS BIGINT) AS saa,
             CAST(sum(r2b * r2b) AS BIGINT) AS sbb,
             CAST(sum(r2a * r2b) AS BIGINT) AS sab
      FROM ranked GROUP BY ta, tb
    )
    SELECT ta AS type_a, tb AS type_b, CAST(n AS INT) AS n_days,
           CASE WHEN n < 2 OR n*saa - sa*sa = 0 OR n*sbb - sb*sb = 0
                THEN 0.0
                ELSE CAST(n*sab - sa*sb AS DOUBLE)
                     / sqrt(CAST(n*saa - sa*sa AS DOUBLE)
                            * CAST(n*sbb - sb*sb AS DOUBLE)) END
             AS spearman_rho
    FROM agg
    """,
)
def stats_spearman_pairs(spark, sf_dir):
    """Spearman rank correlation between every pair of daily
    event-count series (the robust complement to stats_aggregates'
    Pearson corr — rank correlation ignores monotone distortions and
    outliers). Hash-exact by the doubled-rank trick: the average rank
    under ties is (2·rank + tie_count − 1)/2, so TWICE the rank is an
    exact BIGINT, and rho is computed as PEARSON OF THE DOUBLED RANKS
    (affine-invariant, so identical to Pearson of average ranks) from
    six exact integer moments — the conventional tie-correct Spearman
    (scipy's definition; the r8 difference-formula rendering
    1 − 6Σd²/(n(n²−1)) is biased under ties, ADVICE r8). The float
    step is one division and one sqrt of exact integers — both
    correctly-rounded IEEE, so the cross-engine hash stays exact.
    Plan: one shuffle to daily counts, one self-join on the date
    (bounded by the calendar), two in-partition rank windows, one
    aggregate — no Python."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    a = daily.select(
        F.col("event_type").alias("ta"), "d", F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("tb"), "d", F.col("y").alias("yb")
    )
    j = a.join(b, "d").filter(F.col("ta") < F.col("tb"))
    wa = Window.partitionBy("ta", "tb").orderBy("ya")
    wb = Window.partitionBy("ta", "tb").orderBy("yb")
    ca = Window.partitionBy("ta", "tb", "ya")
    cb = Window.partitionBy("ta", "tb", "yb")
    ranked = j.select(
        "ta",
        "tb",
        (
            2 * F.rank().over(wa) + F.count(F.lit(1)).over(ca) - 1
        ).cast("long").alias("r2a"),
        (
            2 * F.rank().over(wb) + F.count(F.lit(1)).over(cb) - 1
        ).cast("long").alias("r2b"),
    )
    ra, rb = F.col("r2a"), F.col("r2b")
    agg = ranked.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ra).alias("sa"),
        F.sum(rb).alias("sb"),
        F.sum(ra * ra).alias("saa"),
        F.sum(rb * rb).alias("sbb"),
        F.sum(ra * rb).alias("sab"),
    )
    n, sa, sb, saa, sbb, sab = (
        F.col(c) for c in ("n", "sa", "sb", "saa", "sbb", "sab")
    )
    dx = n * saa - sa * sa
    dy = n * sbb - sb * sb
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        n.cast("int").alias("n_days"),
        F.when((n < 2) | (dx == 0) | (dy == 0), F.lit(0.0))
        .otherwise(
            (n * sab - sa * sb).cast("double")
            / F.sqrt(dx.cast("double") * dy.cast("double"))
        )
        .alias("spearman_rho"),
    )


def approx_user_overlap_pairs(spark, sf_dir):
    """Pairwise audience overlap from ONE pass over the facts: build
    a user-set HLL sketch per event type (mergeable binary state —
    the same register-max algebra the incremental rollup uses), then
    estimate every pair's intersection by inclusion-exclusion
    |A∩B| = |A| + |B| − |A∪B|, where the union is `hll_union` of two
    stored sketches. At 100 TB this is the whole point of sketch
    columns: any-segment-pair overlap becomes a join of kilobyte
    blobs instead of a fact-table self-join; per-pair error
    compounds (two estimates + a union), pinned in tests.

    RETIRED from the registry in r13 (VERDICT r12 #7): its declared
    content duplicated the oracle-backed `approx_user_overlap_kmv`
    (same inclusion-exclusion, deterministic md5-KMV family), while
    the native-DataSketches estimates here are engine-specific and
    cannot carry an oracle. The HLL sketch-algebra surface
    (hll_sketch_agg / hll_union / hll_sketch_estimate) stays
    exercised and accuracy-pinned by
    tests/test_relational_ops.py::test_hll_overlap_estimates_track_exact."""
    ev = t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("nd"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("nd").alias("nd_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("nd").alias("nd_b"),
    )
    j = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est_a = F.hll_sketch_estimate(F.col("sk_a"))
    est_b = F.hll_sketch_estimate(F.col("sk_b"))
    est_u = F.hll_sketch_estimate(
        F.hll_union(F.col("sk_a"), F.col("sk_b"))
    )
    return j.select(
        "type_a",
        "type_b",
        est_a.cast("long").alias("est_a"),
        est_b.cast("long").alias("est_b"),
        est_u.cast("long").alias("est_union"),
        (est_a + est_b - est_u).cast("long").alias("est_overlap"),
    )


_TRI_EDGES_SQL = """
    pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    )"""


@query(
    "graph_triangle_counts",
    sql=f"""
    WITH {_TRI_EDGES_SQL},
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    ), member AS (
      SELECT a AS k FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT k AS partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY k
    """,
)
def graph_triangle_counts(spark, sf_dir):
    """Exact per-node triangle counts over the co-purchase graph —
    the classic distributed-graph kernel (clustering-coefficient
    numerator, community-density signal). The Spark plan uses the
    DEGREE-ordered orientation (Chiba–Nishizeki / the MapReduce
    triangle-count standard): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, so a triangle
    x≺y≺z is found exactly once by the wedge join (x→y)⋈(y→z) on the
    middle node + a semi-join closure on (x→z), and the wedge count
    is Σ_v out-deg≺(v)² with out-deg≺ ≤ O(√m) — O(m^1.5) total,
    immune to hot nodes (the naive id-orientation put a popular
    part's full deg² on one key: measured 12.0 s vs 1.7 s at sf0.1).
    DuckDB's oracle keeps the simple id-oriented text — different
    plan, provably identical result set, integer-exact hash."""
    from trendengine_spark.operators.util import owned_cache

    # r14 (guide §2.3/§2.4; A/B in OPTIMIZATION_r14.md, hash
    # identical, 3.77 → 2.92 s min-of-5 at sf0.1): the oriented pairs
    # and the degree table both read the SHARED co-partitioned
    # symmetrized edge cache (_copurchase_edges — in-row pair
    # generation, no lineitem self-join). und is a filter over the
    # cache; deg is one exchange-free groupBy on the cached
    # partitioning — the old endpoint-union degree pass re-planned
    # the uncached self-join subtree per reference.
    sym = _copurchase_edges(spark, sf_dir, f"tri_edges:{sf_dir}")
    und = sym.filter(F.col("a") < F.col("b"))
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = owned_cache(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias(
                "src"
            ),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias(
                "dst"
            ),
        ),
        key=f"tri_oriented:{sf_dir}",
    )
    # Adjacency-list intersection, not wedge materialization: the
    # naive (edge ⋈ edge on the middle) + closure semi-join streams
    # Σ out-deg≺² wedge rows (49-83M here — measured 12.4 s naive,
    # 4.6 s with broadcast closure + width pin); intersecting the two
    # endpoints' ≺-neighbor ARRAYS per edge does the same membership
    # tests hash-local with NO wedge intermediate — m·O(deg≺) work,
    # measured 0.8 s warm at sf0.1 (DuckDB's id-oriented wedge plan:
    # 1.12 s — Spark wins this one outright). Each triangle x≺y≺z
    # appears exactly once, at its base edge (x,y) with w = z (the
    # other two oriented edges cannot see it: z's out-list excludes
    # y≺z's tail). The adjacency table is #nodes rows × out-deg≺ ≤
    # O(√m) longs — broadcastable far beyond this scale; at lake
    # scale co-partition edges and adjacency on the endpoint instead.
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    tri = (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(F.broadcast(au), "u")
        .join(F.broadcast(av), "v", "left")
        .select(
            "u",
            "v",
            F.explode(
                F.array_intersect("nu", F.coalesce("nv", F.array()))
            ).alias("w"),
        )
    )
    member = tri.select(
        F.explode(F.array("u", "v", "w")).alias("k")
    )
    return member.groupBy(F.col("k").alias("partkey")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


#: HW oracle building blocks (r11 conversion): the level update is
#: repeated VERBATIM inside the trend/season updates (SQL cannot
#: reference a same-SELECT alias) — recomputing the identical
#: expression yields the identical double, so the transcription stays
#: bit-compatible with the numpy step which computes it once.
_HW_LV = (
    "(3e-1 * (ys.y - r.s0)) "
    "+ ((CAST(1 AS DOUBLE) - 3e-1) * (r.lv + r.tr))"
)
_HW_FC = "((f.lv + CAST({h} AS DOUBLE) * f.tr) + f.s{i})"
_HW_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
    ), cal AS (
      SELECT b.event_type, CAST(u.g AS DATE) AS d
      FROM bounds b,
           unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                                  CAST(b.d1 AS TIMESTAMP),
                                  INTERVAL 1 DAY)) AS u(g)
    ), ys AS (
      SELECT c.event_type,
             CAST(row_number() OVER (PARTITION BY c.event_type
                                     ORDER BY c.d) - 1 AS BIGINT) AS t,
             COALESCE(dy.y, CAST(0 AS DOUBLE)) AS y
      FROM cal c LEFT JOIN daily dy
        ON dy.event_type = c.event_type AND dy.d = c.d
    ), ok AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - 7 AS BIGINT) AS nt
      FROM ys GROUP BY 1 HAVING count(*) >= 21
    ), piv AS (
      SELECT ys.event_type,
             {", ".join(f"max(CASE WHEN t = {k} THEN y END) AS y{k}"
                        for k in range(14))}
      FROM ys JOIN ok ON ok.event_type = ys.event_type
      WHERE t < 14 GROUP BY 1
    ), init AS (
      SELECT event_type,
        (y0+y1+y2+y3+y4+y5+y6) / CAST(7 AS DOUBLE) AS lv,
        (((y7+y8+y9+y10+y11+y12+y13) / CAST(7 AS DOUBLE))
         - ((y0+y1+y2+y3+y4+y5+y6) / CAST(7 AS DOUBLE)))
          / CAST(7 AS DOUBLE) AS tr,
        {", ".join(
            f"y{k} - ((y0+y1+y2+y3+y4+y5+y6) / CAST(7 AS DOUBLE)) AS s{k}"
            for k in range(7))}
      FROM piv
    ), rec AS (
      SELECT event_type, CAST(7 AS BIGINT) AS t,
             lv, tr, s0, s1, s2, s3, s4, s5, s6
      FROM init
      UNION ALL
      SELECT r.event_type, r.t + 1,
        {_HW_LV} AS lv,
        (1e-1 * (({_HW_LV}) - r.lv))
          + ((CAST(1 AS DOUBLE) - 1e-1) * r.tr) AS tr,
        r.s1, r.s2, r.s3, r.s4, r.s5, r.s6,
        (2e-1 * (ys.y - ({_HW_LV})))
          + ((CAST(1 AS DOUBLE) - 2e-1) * r.s0) AS s6
      FROM rec r
      JOIN ys ON ys.event_type = r.event_type AND ys.t = r.t
      JOIN ok ON ok.event_type = r.event_type
      WHERE r.t < ok.nt
    ), fin AS (
      SELECT r.* FROM rec r JOIN ok ON ok.event_type = r.event_type
      WHERE r.t = ok.nt
    ), hold AS (
      SELECT ys.event_type,
             {", ".join(
                f"max(CASE WHEN ys.t = ok.nt + {h} THEN ys.y END) AS h{h}"
                for h in range(7))},
             {", ".join(
                f"max(CASE WHEN ys.t = ok.nt - 7 + {h} THEN ys.y END)"
                f" AS nv{h}" for h in range(7))}
      FROM ys JOIN ok ON ok.event_type = ys.event_type
      GROUP BY 1
    )
    SELECT f.event_type,
      CAST(ok.nt AS INT) AS n_train, CAST(7 AS INT) AS n_test,
      round(({" + ".join(
          f"abs({_HW_FC.format(h=h + 1, i=h)} - h.h{h})"
          for h in range(7))})
        / CAST(7 AS DOUBLE), 6) AS mae_hw,
      round(({" + ".join(f"abs(h.nv{h} - h.h{h})" for h in range(7))})
        / CAST(7 AS DOUBLE), 6) AS mae_naive,
      (({" + ".join(
          f"abs({_HW_FC.format(h=h + 1, i=h)} - h.h{h})"
          for h in range(7))})
        / CAST(7 AS DOUBLE))
      < (({" + ".join(f"abs(h.nv{h} - h.h{h})" for h in range(7))})
        / CAST(7 AS DOUBLE)) AS hw_beats_naive
    FROM fin f
    JOIN ok ON ok.event_type = f.event_type
    JOIN hold h ON h.event_type = f.event_type
    """


@query("forecast_holt_winters_mae", sql=_HW_SQL)
def forecast_holt_winters_mae(spark, sf_dir):
    """Per-series (event_type) Holt-Winters vs seasonal-naive MAE on
    a 7-day holdout of the daily event-count series (calendar gaps
    filled as 0 events). Plan: one partial+final daily aggregate,
    one shuffle keyed by series into a grouped Arrow pass whose
    recursion is vectorized across every series in the batch —
    10^6 series cost the same per-step work as one.

    FULL ORACLE since r11 (VERDICT r10 task 6): "sequential smoothing
    is not SQL-expressible" was true of plain SQL but not of a
    RECURSIVE CTE — the oracle steps the (level, trend, 7-slot
    seasonal ring) state day by day carrying 9 doubles per series,
    joining each day's observation by index. Every update transcribes
    the numpy step's exact operation order (plain +/−/× of doubles,
    no libm), the init means and the 7-term MAE sums are written as
    explicit left-associated chains (numpy's sequential reduction
    order for <8 elements), and the hw-beats-naive verdict compares
    the UNROUNDED maes exactly as the kernel does — so after 16
    recursion steps the state is still bit-identical and the hash
    needs no tolerance. The recursion is O(n) per series with O(m)
    state — fine at oracle scale, while Spark's vectorized batch pass
    remains the 10⁶-series path.

    Expected output on THIS data: the synthetic event stream has no
    real weekly structure, so the naive baseline usually wins — the
    honest backtest verdict (don't deploy the fancier model here).
    The planted-structure goldens in tests/test_holtwinters.py show
    HW winning decisively wherever trend+seasonality exist."""
    from pyspark.sql import functions as F

    from trendengine_spark.functions.holtwinters import hw_backtest_groups
    from trendengine_spark.queries.base import t as _t

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    return hw_backtest_groups(
        daily, ["event_type"], "d", "n", m=7, horizon=7
    ).orderBy("event_type")


@query(
    "window_time_weighted_avg",
    sql="""
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             epoch_us(ts) AS t_us,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), w AS (
      SELECT user_id, d, v100, t_us,
             lead(t_us) OVER (PARTITION BY user_id, d
                              ORDER BY t_us, v100) AS nxt
      FROM e
    ), agg AS (
      SELECT user_id, d,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(v100 * (nxt - t_us)) AS BIGINT) AS num,
             CAST(sum(nxt - t_us) AS BIGINT) AS den
      FROM w WHERE nxt IS NOT NULL
      GROUP BY user_id, d
    )
    SELECT user_id, d, n_events,
           CAST(num AS DOUBLE) / (100.0 * CAST(den AS DOUBLE)) AS twap
    FROM agg WHERE den > 0
    """,
)
def window_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per (user, day) over IRREGULARLY
    sampled events — the sensor/finance aggregate a plain AVG gets
    wrong (a reading that held for an hour must weigh 3600× one that
    held a second). Each reading is weighted by its holding interval
    (lead(ts) − ts within the user-day; the day's last reading has no
    interval and drops out, the standard left-Riemann convention).

    Exact-arithmetic oracle: values are 2-dp decimals → ×100 makes
    them integers, timestamps are exact µs longs, so numerator and
    denominator are exact BIGINTs on both engines and the single
    float division is identical — hash matches with NO rounding.
    Plan: one in-partition window (lead over the user-day key) + one
    partial+final aggregate; the window's frame is one row of
    lookahead, bounded state."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    w = Window.partitionBy("user_id", "d").orderBy("t_us", "v100")
    lead = e.withColumn("nxt", F.lead("t_us").over(w))
    agg = (
        lead.filter(F.col("nxt").isNotNull())
        .groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.col("v100") * (F.col("nxt") - F.col("t_us"))
            ).alias("num"),
            F.sum(F.col("nxt") - F.col("t_us")).alias("den"),
        )
    )
    return agg.filter(F.col("den") > 0).select(
        "user_id",
        "d",
        "n_events",
        (
            F.col("num").cast("double")
            / (F.lit(100.0) * F.col("den").cast("double"))
        ).alias("twap"),
    )


def _lpa_sql(iters: int) -> str:
    """Unrolled synchronous LPA rounds + exact-integer modularity —
    the relational-oracle twin of ``operators/graph.py`` (the
    ``graph_pagerank_micro`` playbook applied to community
    detection). Each round is three CTEs: neighbor+self votes, the
    per-node max count, and the argmax with min-label tie-break —
    EXACTLY the operator's ``min(struct(-n, label))`` semantics.
    Modularity uses the r9 identity Q = (4·m·intra − Σd_c²)/(4m²):
    every term an exact integer, one correctly-rounded double
    division at the end."""
    rounds = "".join(
        f"""
    , v{i} AS MATERIALIZED (
      SELECT u.a AS node, l.label, CAST(count(*) AS BIGINT) AS n
      FROM und u JOIN l{i - 1} l ON u.b = l.node
      GROUP BY u.a, l.label
    ), m{i} AS MATERIALIZED (
      SELECT node, max(n) AS mx FROM v{i} GROUP BY node
    ), l{i} AS MATERIALIZED (
      SELECT v.node, min(v.label) AS label
      FROM v{i} v JOIN m{i} m ON v.node = m.node AND v.n = m.mx
      GROUP BY v.node
    )"""
        for i in range(1, iters + 1)
    )
    return f"""
    WITH raw AS (
      SELECT l1.l_partkey AS src, l2.l_partkey AS dst
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey
      WHERE l1.l_partkey < l2.l_partkey
    ), e AS MATERIALIZED (
      SELECT src, dst FROM raw GROUP BY src, dst HAVING count(*) >= 2
    ), und0 AS (
      SELECT src AS a, dst AS b FROM e
      UNION SELECT dst, src FROM e
    ), nodes AS (SELECT DISTINCT a FROM und0
    ), und AS MATERIALIZED (
      SELECT a, b FROM und0 UNION SELECT a, a FROM nodes
    ), l0 AS MATERIALIZED (SELECT a AS node, a AS label FROM nodes)
    {rounds}
    , comm AS (
      SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
      FROM l{iters} GROUP BY label
    ), mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e
    ), intra AS (
      SELECT CAST(count(*) AS HUGEINT) AS i_cnt
      FROM e JOIN l{iters} x ON e.src = x.node
             JOIN l{iters} y ON e.dst = y.node
      WHERE x.label = y.label
    ), degs AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      ) GROUP BY node
    ), d2 AS (
      SELECT CAST(sum(CAST(dc AS HUGEINT) * CAST(dc AS HUGEINT))
                  AS HUGEINT) AS sd2
      FROM (
        SELECT x.label, CAST(sum(d) AS BIGINT) AS dc
        FROM degs JOIN l{iters} x ON degs.node = x.node
        GROUP BY x.label
      )
    )
    SELECT c.community, c.n_members,
           CAST(4 * mm.m * intra.i_cnt - d2.sd2 AS DOUBLE)
             / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
    FROM comm c, mm, intra, d2
    ORDER BY n_members DESC, community
    LIMIT 20
    """


@query("graph_communities_lpa", sql=_lpa_sql(5))
def graph_communities_lpa(spark, sf_dir):
    """Top-20 communities by size after 5 synchronous LPA rounds on
    the distinct co-purchase edge set (parts sharing an order).
    Output: (community, n_members, modularity) ordered by size desc,
    community asc. Per round: one edge join + one partial+final vote
    count + a windowless min(struct) argmax — hub nodes
    partial-aggregate map-side.

    ORACLE-BACKED since r9 (was rows-only): LPA's synchronous rounds
    with deterministic min-label tie-break unroll into per-round SQL
    CTEs (the `graph_pagerank_micro` discipline — the oracle runs
    the unrolled relational text while Spark runs the REAL iterative
    operator with per-round localCheckpoint), and the modularity
    column is exact on both engines through the integer identity
    Q = (4·m·intra − Σd_c²)/(4m²) — vote counts, member counts, and
    every modularity term are exact integers, so the cross-engine
    hash has no tolerance anywhere."""
    from pyspark.sql import functions as F

    from trendengine_spark.operators.graph import label_propagation
    from trendengine_spark.queries.base import t as _t

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst"))
    # tie strength >= 2 shared orders: on the raw co-purchase graph
    # (every pair sharing ANY order) LPA exhibits its documented
    # epidemic collapse to one giant community — measured here: 1
    # community at sf0.01. Repeat co-purchase is the analytically
    # meaningful tie, and the sparser graph keeps real structure.
    #
    # r14: the build KEEPS the self-join (an in-row
    # collect_list + pair-explode build measured faster at sf0.1,
    # 5.50 vs 6.09 s, but was DECLINED for the same reason as
    # _copurchase_edges: at sf10 the per-ORDER group count is 14.7M
    # and the object-hash collect aggregation loses to the
    # sort-merge self-join — OPTIMIZATION_r14.md).
    edges = (
        a.join(b, "o")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    from trendengine_spark.operators.util import owned_cache

    edges = owned_cache(edges, "graph.lpa.edges")  # LPA + modularity
    labels = owned_cache(
        label_propagation(edges, iters=5),
        "graph.lpa.labels",
    )
    from trendengine_spark.operators.graph import modularity

    q = modularity(edges, labels)
    return (
        labels.groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
        .withColumn("modularity", F.lit(float(q)))
    )


#: shared KMV-sketch constants (r9): k smallest md5-derived 60-bit
#: hashes per set. 63·2⁶⁰ is exactly representable in double, so the
#: estimator (k−1)·M/h₍ₖ₎ is one identical float expression on both
#: engines. k = 64 exercises the |D| ≤ k exact branch at sf0.001 and
#: the sketch branch at sf0.01+.
_KMV_K = 64
_KMV_SCALE = "63.0 * CAST(1152921504606846976 AS DOUBLE)"


@query(
    "approx_distinct_kmv",
    sql=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ), r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM h
    )
    SELECT event_type,
           CAST(max(n_exact) AS BIGINT) AS n_exact,
           CASE WHEN max(n_exact) <= {_KMV_K} THEN 'exact' ELSE 'kmv' END
             AS mode,
           CASE WHEN max(n_exact) <= {_KMV_K}
                THEN CAST(max(n_exact) AS DOUBLE)
                ELSE round({_KMV_SCALE}
                     / CAST(max(CASE WHEN rn = {_KMV_K} THEN h END)
                            AS DOUBLE), 3) END AS est_distinct
    FROM r GROUP BY event_type
    """,
)
def approx_distinct_kmv(spark, sf_dir):
    """K-minimum-values distinct-count sketch (Bar-Yossef 2002 —
    public method, own implementation): hash every key to a uniform
    60-bit integer, keep the k smallest per group; the estimator
    (k−1)·2⁶⁰/h₍ₖ₎ inverts the expected spacing of uniform order
    statistics. The sketch is MERGEABLE (union = k smallest of the
    concatenation — `approx_user_overlap_kmv` exploits this for set
    algebra) and, unlike engine-native HLL
    (`approx_vs_exact_distinct`), ENGINE-PORTABLE: the md5 hash
    family makes the estimate a deterministic function of the data,
    so this approximate sketch is fully ORACLE-BACKED — DuckDB
    computes the identical kth hash and the identical estimate,
    including the |D| ≤ k degenerate branch where the sketch holds
    the whole set and the estimate is exact (exercised at sf0.001).
    Scale: the shuffle carries distinct (group, hash) pairs and the
    window keeps k rows per group; at production cardinalities the
    per-partition top-k partial (sort-limit pushdown) bounds map
    output at k rows per partition."""
    return sql_over_tables(
        spark,
        sf_dir,
        f"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),
                           16, 10) AS BIGINT) AS h
          FROM events
        ), r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n_exact
          FROM h
        )
        SELECT event_type,
               CAST(max(n_exact) AS BIGINT) AS n_exact,
               CASE WHEN max(n_exact) <= {_KMV_K} THEN 'exact'
                    ELSE 'kmv' END AS mode,
               CASE WHEN max(n_exact) <= {_KMV_K}
                    THEN CAST(max(n_exact) AS DOUBLE)
                    ELSE round({_KMV_SCALE}
                         / CAST(max(CASE WHEN rn = {_KMV_K} THEN h END)
                                AS DOUBLE), 3) END AS est_distinct
        FROM r GROUP BY event_type
        """,
        ("events",),
    )


@query(
    "approx_user_overlap_kmv",
    sql=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ), types AS (SELECT DISTINCT event_type FROM h),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ), u AS (
      SELECT p.ta, p.tb, h.h,
             max(CASE WHEN h.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN h.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN h ON h.event_type IN (p.ta, p.tb)
      GROUP BY p.ta, p.tb, h.h
    ), r AS (
      SELECT ta, tb, h, in_a, in_b,
             row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY ta, tb) AS union_exact,
             sum(in_a * in_b) OVER (PARTITION BY ta, tb) AS inter_exact
      FROM u
    )
    SELECT ta AS type_a, tb AS type_b,
           CAST(max(union_exact) AS BIGINT) AS union_exact,
           CAST(max(inter_exact) AS BIGINT) AS inter_exact,
           CASE WHEN max(union_exact) <= {_KMV_K}
                THEN CAST(max(inter_exact) AS DOUBLE)
                       / CAST(max(union_exact) AS DOUBLE)
                ELSE CAST(sum(CASE WHEN rn <= {_KMV_K}
                                   THEN in_a * in_b ELSE 0 END) AS DOUBLE)
                       / {_KMV_K}.0 END AS jaccard_kmv,
           round(CAST(max(inter_exact) AS DOUBLE)
                 / CAST(max(union_exact) AS DOUBLE), 6) AS jaccard_exact
    FROM r GROUP BY ta, tb
    """,
)
def approx_user_overlap_kmv(spark, sf_dir):
    """Audience overlap by KMV sketch ALGEBRA — the oracle-backed
    twin of the HLL inclusion–exclusion query
    (`approx_user_overlap_pairs`, rows-only because HLL blobs are
    engine-specific): the union sketch of two sets is the k smallest
    of their combined hashes, and the fraction of that sketch
    present in BOTH sets estimates Jaccard directly (m/k with k a
    power of two — exactly representable, no float tolerance).
    Exact union/intersection ride along so the estimate's accuracy
    is visible in the output itself. |union| ≤ k degenerates to
    exact (sf0.001 exercises it). The pair join touches distinct
    (type, hash) rows only — sketch-algebra cost is independent of
    the fact-table row count."""
    return sql_over_tables(
        spark,
        sf_dir,
        f"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),
                           16, 10) AS BIGINT) AS h
          FROM events
        ), types AS (SELECT DISTINCT event_type FROM h),
        pairs AS (
          SELECT a.event_type AS ta, b.event_type AS tb
          FROM types a JOIN types b ON a.event_type < b.event_type
        ), u AS (
          SELECT p.ta, p.tb, h.h,
                 max(CASE WHEN h.event_type = p.ta THEN 1 ELSE 0 END)
                   AS in_a,
                 max(CASE WHEN h.event_type = p.tb THEN 1 ELSE 0 END)
                   AS in_b
          FROM pairs p JOIN h ON h.event_type IN (p.ta, p.tb)
          GROUP BY p.ta, p.tb, h.h
        ), r AS (
          SELECT ta, tb, h, in_a, in_b,
                 row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
                 count(*) OVER (PARTITION BY ta, tb) AS union_exact,
                 sum(in_a * in_b) OVER (PARTITION BY ta, tb)
                   AS inter_exact
          FROM u
        )
        SELECT ta AS type_a, tb AS type_b,
               CAST(max(union_exact) AS BIGINT) AS union_exact,
               CAST(max(inter_exact) AS BIGINT) AS inter_exact,
               CASE WHEN max(union_exact) <= {_KMV_K}
                    THEN CAST(max(inter_exact) AS DOUBLE)
                           / CAST(max(union_exact) AS DOUBLE)
                    ELSE CAST(sum(CASE WHEN rn <= {_KMV_K}
                                       THEN in_a * in_b ELSE 0 END)
                              AS DOUBLE) / {_KMV_K}.0 END AS jaccard_kmv,
               round(CAST(max(inter_exact) AS DOUBLE)
                     / CAST(max(union_exact) AS DOUBLE), 6)
                 AS jaccard_exact
        FROM r GROUP BY ta, tb
        """,
        ("events",),
    )


def _u1_cascade_sql(tc3: str, tc2: str, tc1: str) -> str:
    """Shared SQL body for the PolyTrend classification cascade —
    instantiated for BOTH engines from one template so every double
    operation (each a product/quotient of exact int64 moments, fixed
    parenthesization) evaluates in the identical IEEE order; only the
    critical-value lookup syntax differs per dialect."""
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             CAST(2 * (row_number() OVER (PARTITION BY event_type ORDER BY d)
                       - 1)
                  - (count(*) OVER (PARTITION BY event_type) - 1)
                  AS BIGINT) AS t
      FROM daily
    ), mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m0,
             CAST(sum(t*t) AS BIGINT) AS m2,
             CAST(sum(t*t*t*t) AS BIGINT) AS m4,
             CAST(sum(t*t*t*t*t*t) AS BIGINT) AS m6,
             CAST(sum(y) AS BIGINT) AS s0,
             CAST(sum(t*y) AS BIGINT) AS s1,
             CAST(sum(t*t*y) AS BIGINT) AS s2,
             CAST(sum(t*t*t*y) AS BIGINT) AS s3,
             CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(min(y) AS BIGINT) AS ymin,
             CAST(max(y) AS BIGINT) AS ymax
      FROM idx GROUP BY event_type
    ), fit AS (
      SELECT *,
             m0*m4 - m2*m2 AS dev,
             m2*m6 - m4*m4 AS dod,
             CASE WHEN m0*m4 - m2*m2 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(m4*s0 - m2*s2 AS DOUBLE)
                       / CAST(m0*m4 - m2*m2 AS DOUBLE) END AS a0,
             CASE WHEN m0*m4 - m2*m2 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(m0*s2 - m2*s0 AS DOUBLE)
                       / CAST(m0*m4 - m2*m2 AS DOUBLE) END AS a2,
             CASE WHEN m2*m6 - m4*m4 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(m6*s1 - m4*s3 AS DOUBLE)
                       / CAST(m2*m6 - m4*m4 AS DOUBLE) END AS a1c,
             CASE WHEN m2*m6 - m4*m4 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(m2*s3 - m4*s1 AS DOUBLE)
                       / CAST(m2*m6 - m4*m4 AS DOUBLE) END AS a3,
             CASE WHEN m2 = 0 THEN CAST(0 AS DOUBLE)
                  ELSE CAST(s1 AS DOUBLE) / CAST(m2 AS DOUBLE) END AS a1,
             CAST(s0 AS DOUBLE) / CAST(m0 AS DOUBLE) AS ybar
      FROM mom
    ), rss AS (
      SELECT *,
        greatest(CAST(syy AS DOUBLE)
                 - (a0*CAST(s0 AS DOUBLE) + a1c*CAST(s1 AS DOUBLE)
                    + a2*CAST(s2 AS DOUBLE) + a3*CAST(s3 AS DOUBLE)),
                 CAST(0 AS DOUBLE)) AS rss3,
        greatest(CAST(syy AS DOUBLE)
                 - (a0*CAST(s0 AS DOUBLE) + a1*CAST(s1 AS DOUBLE)
                    + a2*CAST(s2 AS DOUBLE)),
                 CAST(0 AS DOUBLE)) AS rss2,
        greatest(CAST(syy AS DOUBLE)
                 - (ybar*CAST(s0 AS DOUBLE) + a1*CAST(s1 AS DOUBLE)),
                 CAST(0 AS DOUBLE)) AS rss1
      FROM fit
    ), sig AS (
      SELECT *,
        CASE WHEN rss3 = CAST(0 AS DOUBLE)
             THEN (CASE WHEN a3 = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                        ELSE CAST('Infinity' AS DOUBLE) END)
             ELSE ((a3*a3) * CAST(dod AS DOUBLE) * CAST(m0 - 4 AS DOUBLE))
                  / (rss3 * CAST(m2 AS DOUBLE)) END AS t3sq,
        CASE WHEN rss2 = CAST(0 AS DOUBLE)
             THEN (CASE WHEN a2 = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                        ELSE CAST('Infinity' AS DOUBLE) END)
             ELSE ((a2*a2) * CAST(dev AS DOUBLE) * CAST(m0 - 3 AS DOUBLE))
                  / (rss2 * CAST(m0 AS DOUBLE)) END AS t2sq,
        CASE WHEN rss1 = CAST(0 AS DOUBLE)
             THEN (CASE WHEN a1 = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                        ELSE CAST('Infinity' AS DOUBLE) END)
             ELSE ((a1*a1) * CAST(m2 AS DOUBLE) * CAST(m0 - 2 AS DOUBLE))
                  / rss1 END AS t1sq,
        {tc3} AS tc3, {tc2} AS tc2, {tc1} AS tc1,
        CAST(4 AS DOUBLE)*(a2*a2) - CAST(12 AS DOUBLE)*(a3*a1c) AS disc3
      FROM rss
    ), cls AS (
      SELECT *,
        (m0 >= 5 AND t3sq > tc3*tc3
           AND CASE WHEN a3 = CAST(0 AS DOUBLE)
                      OR disc3 < CAST(0 AS DOUBLE) THEN FALSE
                ELSE abs(((CAST(0 AS DOUBLE) - CAST(2 AS DOUBLE)*a2)
                          + sqrt(disc3))
                         / (CAST(6 AS DOUBLE)*a3)) <= CAST(m0 - 1 AS DOUBLE)
                 AND abs(((CAST(0 AS DOUBLE) - CAST(2 AS DOUBLE)*a2)
                          - sqrt(disc3))
                         / (CAST(6 AS DOUBLE)*a3)) <= CAST(m0 - 1 AS DOUBLE)
                END)
          AS cubic_shape,
        (t2sq > tc2*tc2
           AND CASE WHEN a2 = CAST(0 AS DOUBLE) THEN FALSE
                ELSE abs((CAST(0 AS DOUBLE) - a1) / (CAST(2 AS DOUBLE)*a2))
                     <= CAST(m0 - 1 AS DOUBLE) END) AS quad_shape,
        t1sq > tc1*tc1 AS lin_sig,
        (m0 < 4 OR ymin = ymax) AS degen
      FROM sig
    )
    SELECT event_type, CAST(m0 AS INT) AS n,
      CAST(CASE WHEN degen THEN 0
           WHEN cubic_shape THEN (CASE WHEN lin_sig THEN 3 ELSE -1 END)
           WHEN quad_shape  THEN (CASE WHEN lin_sig THEN 2 ELSE -1 END)
           WHEN lin_sig THEN 1 ELSE 0 END AS INT) AS trend_type,
      CASE WHEN degen THEN CAST(0 AS DOUBLE)
           ELSE CAST(2*s1 AS DOUBLE) / CAST(m2 AS DOUBLE) END AS slope,
      CAST(CASE WHEN degen THEN 1
           WHEN CAST(2*s1 AS DOUBLE) / CAST(m2 AS DOUBLE)
                >= CAST(0 AS DOUBLE) THEN 1
           ELSE -1 END AS INT) AS direction,
      CAST(CASE WHEN degen THEN -1
           WHEN cubic_shape OR quad_shape
             THEN (CASE WHEN lin_sig THEN 1 ELSE -1 END)
           WHEN lin_sig THEN 1 ELSE -1 END AS INT) AS significance,
      CAST(CASE WHEN degen THEN 0 WHEN cubic_shape THEN 3
           WHEN quad_shape THEN 2 ELSE 1 END AS INT) AS degree
    FROM cls
    ORDER BY event_type
    """


def _tcrit_lookup(df_expr: str, dialect: str) -> str:
    """Critical-value lookup `t_crit(0.05, df)` as a dialect literal:
    a 120-entry array of exponent-notation double literals (exponent
    form keeps both parsers in DOUBLE — a bare decimal literal is
    DECIMAL in both Spark and DuckDB, and decimal arithmetic would
    diverge from the numpy path). Index clamped to >= 1 so the
    expression is evaluable even on branches the cascade never takes
    (m0 < 4 rows exit via `degen` but columns evaluate eagerly);
    beyond df=120 the asymptotic normal quantile stands in
    (documented in :data:`TCRIT_975`)."""
    from trendengine_spark.functions.stattools import TCRIT_975

    lits = ", ".join(f"{v!r}e0" for v in TCRIT_975)
    idx = f"CAST(greatest({df_expr}, 1) AS INT)"
    if dialect == "spark":
        arr = f"element_at(array({lits}), {idx})"
    else:
        arr = f"([{lits}])[{idx}]"
    return (
        f"CASE WHEN {df_expr} <= 120 THEN {arr} "
        f"ELSE 1.959963984540054e0 END"
    )


_U1_SQL_DUCK = _u1_cascade_sql(
    _tcrit_lookup("m0 - 4", "duck"),
    _tcrit_lookup("m0 - 3", "duck"),
    _tcrit_lookup("m0 - 2", "duck"),
)
_U1_SQL_SPARK = _u1_cascade_sql(
    _tcrit_lookup("m0 - 4", "spark"),
    _tcrit_lookup("m0 - 3", "spark"),
    _tcrit_lookup("m0 - 2", "spark"),
)


@query("u1_polytrend_relational", sql=_U1_SQL_DUCK)
def u1_polytrend_relational(spark, sf_dir):
    """U1 PolyTrend's FULL classification cascade as engine-portable
    SQL — the r11 critical-value re-anchoring (VERDICT r10 task 1)
    that upgrades the engine's core analytical operator from
    golden-tested to oracle-proven. Reference contract:
    `/root/reference/TrendEngine/calculations/polytrend.py:285-365`
    (cascade deg 3→2→1, concealed-trend branch, slope/direction from
    the net-change line); numpy path: `functions/polytrend.py:
    polytrend_classify`, whose semantics this query restates
    relationally over the daily event-count series:

    * **Exact-integer fits on the symmetric grid.** x is re-centered
      to t = 2x−(n−1) — symmetric integers, so every odd moment
      Σt^odd is EXACTLY zero and the quartic normal-equation system
      splits into two 2×2 blocks (even {{1,t²}}, odd {{t,t³}}) whose
      Cramer determinants stay far inside int64 (t ≤ ±(n−1), m2·m6 ≈
      1e14 at n=30). Each coefficient is ONE double division of
      identical exact integers on both engines — the
      `trend_polyfit_coeffs` playbook extended to degree 3.
    * **t-test via critical values, not p-values.** At fixed α the
      test p < α is exactly |t| > t_crit(df) (strict on both sides;
      the boundary has measure zero), so the cascade's only special
      function disappears into :data:`~trendengine_spark.functions.
      stattools.TCRIT_975` — a 120-entry literal array BOTH engines
      carry, generated by inverting the engine's own betainc to the
      last ulp. Compared as t² > t_crit² (no sqrt on the data side).
    * **Shape tests in t-space.** The cubic's critical points (roots
      of a1c + 2·a2·t + 3·a3·t²) are real-and-in-window iff
      disc ≥ 0 and |(−2a2 ± √disc)/(6a3)| ≤ n−1 — the affine map
      x = (t+n−1)/2 makes this EXACTLY the reference's in-window
      test on [0, n−1]. Quadratic vertex test identically.
    * **Degenerate guards.** n < 4 or zero range (integer counts:
      min = max, exactly numpy's ptp-tolerance guard for any series
      with |y₀| < 1e12) → (no-trend, degree 0), as in the numpy
      path.

    Both sides run the SAME SQL text (template above) so every
    floating operation — products/quotients of exact int64 moments
    with fixed parenthesization, IEEE-correctly-rounded sqrt — lands
    on identical doubles; the output (class codes + the exact-ratio
    slope) hash-compares with no tolerance. Parity with the numpy
    classifier is pinned by `tests/test_polytrend_golden.py`.

    Scale: one narrow shuffle to daily counts, one in-partition
    window pass for t, one moment aggregation per series — state is
    O(series), never O(points), and the classification is pure
    codegen expression work on the aggregated row."""
    return sql_over_tables(spark, sf_dir, _U1_SQL_SPARK, ("events",))


# --------------------------------------------------------------------- U2
# DBEST change detection, relational twin (r12 — VERDICT r11 task 1).
# The non-cyclical path of functions/dbest.dbest_change_detection
# (reference contract /root/reference/TrendEngine/calculations/
# dbest.py:64-200; the reference's own non-cyclical branch NameErrors
# at dbest.py:94-95,148-149 — SURVEY §4.4.6) restated over the daily
# event-count series so BOTH engines compute bit-identical doubles:
#
# * The series is INTEGER daily counts (order-free aggregation), the
#   analysis window is the first _U2_NMAX observations per series —
#   which bounds the split recursion depth at _U2_NMAX - 2 levels, the
#   unroll budget of the DuckDB chained-CTE head (the BPE playbook:
#   a driver-steered loop transcribes as chained MATERIALIZED CTEs).
# * Every floating value is ONE fixed-parenthesization expression over
#   exact int64 quantities (chord deviation, window means, the slope
#   N/D, t² = N²·dof/(Syy_m·D − N²)), shared VERBATIM between the
#   DuckDB statement and the Spark loop via the snippet constants
#   below — IEEE ops on identical integers land on identical doubles,
#   so the hash needs no tolerance (the u1-cascade discipline).
# * p < α ⟺ t² > t_crit²(df) via the same TCRIT_975 literal table u1
#   uses (stattools betainc inverted to the last ulp).

_U2_NMAX = 30          # analysis window → unroll depth _U2_NMAX - 2
_U2_KEEP = 6           # segment_breakpoints keeps 2 × breakpoints_no
_U2_REPORT = 3         # breakpoints_no: top-k segments by |change|
_U2_DUR = 5            # sustained-step window (duration knob)
_U2_FLS = "5e-2"       # first_level_shift = 5e-2 · range (scale-free)
_U2_SLS = "1e-1"       # second_level_shift = 1e-1 · range

#: chord deviation |y − (y0 + (y1−y0)(x−i0)/(i1−i0))| — the integer
#: product is exact int64, the division and sum are the same two
#: correctly-rounded IEEE ops numpy's _chord_deviations performs
_U2_DEV = (
    "abs(CAST(p.y AS DOUBLE) - (CAST(g.y0 AS DOUBLE)"
    " + CAST((g.y1 - g.y0) * (p.x - g.i0) AS DOUBLE)"
    " / CAST(g.i1 - g.i0 AS DOUBLE)))"
)


def _u2_pts_sql(events: str = "events") -> str:
    """Series CTE body: dense 0-based index over OBSERVED days,
    integer counts, clipped to the analysis window."""
    return f"""
    SELECT event_type, y, x FROM (
      SELECT event_type, CAST(count(*) AS BIGINT) AS y,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY CAST(ts AS DATE)) - 1
                  AS BIGINT) AS x
      FROM {events}
      GROUP BY event_type, CAST(ts AS DATE)) q
    WHERE x < {_U2_NMAX}
    """


def _u2_ser_sql(pts: str) -> str:
    """Per-series gate + default distance threshold. Non-cyclical
    remainder is exactly zero, so default_distance_threshold reduces
    to max(0.01·range, 1e-12) — exact integers into one double
    product (numpy computes the same 1e-2 · float(range))."""
    return f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(max(y) - min(y) AS BIGINT) AS rng,
           greatest(1e-2 * CAST(max(y) - min(y) AS DOUBLE), 1e-12) AS thr
    FROM {pts} GROUP BY event_type HAVING count(*) >= 6
    """


def _u2_seg0_sql(ser: str, pts: str) -> str:
    return f"""
    SELECT s.event_type, CAST(0 AS BIGINT) AS i0, p0.y AS y0,
           s.n - 1 AS i1, p1.y AS y1, s.thr
    FROM {ser} s
    JOIN {pts} p0 ON p0.event_type = s.event_type AND p0.x = 0
    JOIN {pts} p1 ON p1.event_type = s.event_type AND p1.x = s.n - 1
    """


def _u2_level_sql(seg: str, pts: str) -> str:
    """One split level: per open segment, the interior point of max
    chord deviation (first-index tie-break = numpy argmax), kept when
    it exceeds the threshold (strict, as segment_breakpoints)."""
    return f"""
    SELECT event_type, i0, y0, i1, y1, thr, x AS bp, y AS yb, dev
    FROM (SELECT *, row_number() OVER (
            PARTITION BY event_type, i0, i1
            ORDER BY dev DESC, x ASC) AS rn
          FROM (SELECT g.event_type, g.i0, g.y0, g.i1, g.y1, g.thr,
                       p.x, p.y, {_U2_DEV} AS dev
                FROM {seg} g JOIN {pts} p
                  ON p.event_type = g.event_type
                 AND p.x > g.i0 AND p.x < g.i1) d) q
    WHERE rn = 1 AND dev > thr
    """


def _u2_children_sql(c: str) -> str:
    return f"""
    SELECT event_type, i0, y0, bp AS i1, yb AS y1, thr FROM {c}
    UNION ALL
    SELECT event_type, bp AS i0, yb AS y0, i1, y1, thr FROM {c}
    """


def _u2_tail_sql(tc: str, pts: str, ser: str, candall: str) -> str:
    """Everything after candidate collection, shared verbatim by both
    engines (``tc`` is the per-dialect critical-value lookup): keep
    the top ``_U2_KEEP`` candidates by (dev DESC, bp DESC) — python's
    reverse tuple sort — bound the segments, aggregate exact integer
    moments per segment, test the sustained-step rule on the GLOBAL
    series (windows clamp at the ends exactly like the numpy slice),
    and classify each segment's slope via t² against t_crit²."""
    n2 = "s.m * s.sxy - s.sx * s.sy"     # m·Sxy (exact int64)
    d2 = "s.m * s.sxx - s.sx * s.sx"     # m·Sxx (exact int64, > 0)
    syy2 = "s.m * s.syy - s.sy * s.sy"   # m·Syy (exact int64)
    rssn = (
        f"(CAST({syy2} AS DOUBLE) * CAST({d2} AS DOUBLE)"
        f" - CAST({n2} AS DOUBLE) * CAST({n2} AS DOUBLE))"
    )
    tsq = (
        f"((CAST({n2} AS DOUBLE) * CAST({n2} AS DOUBLE)"
        f" * CAST(s.m - 2 AS DOUBLE)) / {rssn})"
    )
    return f"""cand AS (
  SELECT event_type, bp FROM (
    SELECT event_type, bp, row_number() OVER (
      PARTITION BY event_type ORDER BY dev DESC, bp DESC) AS rn
    FROM {candall} ca) r
  WHERE rn <= {_U2_KEEP}
), nk AS (
  SELECT s.event_type, s.n, s.rng, CAST(count(c.bp) AS BIGINT) AS n_kept
  FROM {ser} s LEFT JOIN cand c ON c.event_type = s.event_type
  GROUP BY s.event_type, s.n, s.rng
), bnd AS (
  SELECT event_type, bp FROM cand
  UNION ALL SELECT event_type, CAST(0 AS BIGINT) AS bp FROM nk
  UNION ALL SELECT event_type, n - 1 AS bp FROM nk
), segf AS (
  SELECT event_type, a, b FROM (
    SELECT event_type, bp AS a,
           lead(bp) OVER (PARTITION BY event_type ORDER BY bp) AS b
    FROM bnd) q
  WHERE b IS NOT NULL
), mom AS (
  SELECT f.event_type, f.a, f.b,
    CAST(count(*) AS BIGINT) AS m,
    CAST(sum(p.x) AS BIGINT) AS sx, CAST(sum(p.y) AS BIGINT) AS sy,
    CAST(sum(p.x * p.x) AS BIGINT) AS sxx,
    CAST(sum(p.x * p.y) AS BIGINT) AS sxy,
    CAST(sum(p.y * p.y) AS BIGINT) AS syy
  FROM segf f JOIN {pts} p ON p.event_type = f.event_type
    AND p.x >= f.a AND p.x <= f.b
  GROUP BY f.event_type, f.a, f.b
), hits AS (
  SELECT q.event_type, q.k
  FROM (
    SELECT event_type, x AS k, y,
      lead(y) OVER (PARTITION BY event_type ORDER BY x) AS y_next,
      CAST(sum(y) OVER (PARTITION BY event_type ORDER BY x
           ROWS BETWEEN {_U2_DUR - 1} PRECEDING AND CURRENT ROW)
           AS BIGINT) AS pre_s,
      CAST(count(*) OVER (PARTITION BY event_type ORDER BY x
           ROWS BETWEEN {_U2_DUR - 1} PRECEDING AND CURRENT ROW)
           AS BIGINT) AS pre_c,
      CAST(sum(y) OVER (PARTITION BY event_type ORDER BY x
           ROWS BETWEEN 1 FOLLOWING AND {_U2_DUR} FOLLOWING)
           AS BIGINT) AS post_s,
      CAST(count(*) OVER (PARTITION BY event_type ORDER BY x
           ROWS BETWEEN 1 FOLLOWING AND {_U2_DUR} FOLLOWING)
           AS BIGINT) AS post_c
    FROM {pts}) q
  JOIN nk ON nk.event_type = q.event_type
  WHERE q.y_next IS NOT NULL
    AND CAST(abs(q.y_next - q.y) AS DOUBLE)
        >= {_U2_FLS} * CAST(nk.rng AS DOUBLE)
    AND abs(CAST(q.post_s AS DOUBLE) / CAST(q.post_c AS DOUBLE)
          - CAST(q.pre_s AS DOUBLE) / CAST(q.pre_c AS DOUBLE))
        >= {_U2_SLS} * CAST(nk.rng AS DOUBLE)
), segc AS (
  SELECT m.event_type, m.a, m.b, m.m, m.sx, m.sy, m.sxx, m.sxy, m.syy,
         CAST(max(CASE WHEN h.k IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS ctype
  FROM mom m LEFT JOIN hits h
    ON h.event_type = m.event_type AND h.k >= m.a AND h.k < m.b
  GROUP BY m.event_type, m.a, m.b, m.m, m.sx, m.sy, m.sxx, m.sxy, m.syy
), fin AS (
  SELECT s.event_type, s.a, s.b, s.ctype,
    (CAST({n2} AS DOUBLE) / CAST({d2} AS DOUBLE))
      * CAST(s.b - s.a AS DOUBLE) AS change,
    CASE WHEN s.m - 2 <= 0 THEN 0
         WHEN {rssn} <= CAST(0 AS DOUBLE)
           THEN (CASE WHEN {n2} = 0 THEN 0 ELSE 1 END)
         WHEN {tsq} > ({tc}) * ({tc}) THEN 1 ELSE 0 END AS sig
  FROM segc s
), rk AS (
  SELECT f.event_type, f.a, f.b, f.ctype, f.change, f.sig, nk.n_kept,
    row_number() OVER (PARTITION BY f.event_type
                       ORDER BY abs(f.change) DESC, f.a ASC) AS rnk,
    CAST(count(*) OVER (PARTITION BY f.event_type) AS INT) AS segment_no
  FROM fin f JOIN nk ON nk.event_type = f.event_type
)
SELECT event_type,
  CAST(least(n_kept, {_U2_REPORT}) AS INT) AS breakpoint_no,
  segment_no,
  CAST(rnk AS INT) AS chg_rank,
  CAST(a + 1 AS INT) AS seg_start,
  CAST(b - a + 1 AS INT) AS seg_duration,
  CAST(b + 1 AS INT) AS seg_end,
  change,
  CAST(ctype AS INT) AS change_type,
  CAST(sig AS INT) AS significance
FROM rk WHERE rnk <= {_U2_REPORT}
ORDER BY event_type, chg_rank
"""


def _u2_duck_sql() -> str:
    """The whole computation as ONE DuckDB statement: the split loop
    unrolled as _U2_NMAX − 2 chained MATERIALIZED CTE levels (depth
    bound: each level peels at least one point off every still-open
    segment, so a window of n points splits at most n − 2 deep;
    exhausted levels propagate empty sets for free). MATERIALIZED
    keeps the chain from inlining quadratically."""
    parts = [
        f"WITH daily AS MATERIALIZED ({_u2_pts_sql('events')}"
        f"), ser AS MATERIALIZED ({_u2_ser_sql('daily')}"
        f"), seg0 AS MATERIALIZED ({_u2_seg0_sql('ser', 'daily')})"
    ]
    levels = _U2_NMAX - 2
    for k in range(levels):
        parts.append(
            f", c{k} AS MATERIALIZED ({_u2_level_sql(f'seg{k}', 'daily')}"
            f"), seg{k + 1} AS MATERIALIZED ("
            f"{_u2_children_sql(f'c{k}')})"
        )
    allc = "\n  UNION ALL ".join(
        f"SELECT event_type, bp, dev FROM c{k}" for k in range(levels)
    )
    parts.append(f", candall AS MATERIALIZED (\n  {allc}\n), ")
    parts.append(
        _u2_tail_sql(
            _tcrit_lookup("s.m - 2", "duck"), "daily", "ser", "candall"
        )
    )
    return "".join(parts)


_U2_SQL_DUCK = _u2_duck_sql()

#: schema of an empty candidate set (series with no splits anywhere)
_U2_CAND_SCHEMA = "event_type string, bp bigint, dev double"


def _u2_spark_candidates(spark, pts):
    """Shared Spark head of the U2/U3 twins: run the split recursion
    as a LOCKSTEP loop — all series advance one level per iteration,
    each level one narrow join + window ``spark.sql`` statement over
    the SAME level text the DuckDB heads unroll — with the level
    output ``localCheckpoint``-ed (tiny: ≤ one row per open segment)
    so the lineage stays O(1) per level, the iterative-algorithm
    recipe the CC/PageRank operators document. The loop exits as soon
    as a level splits nothing (the numpy stack's emptiness), bounded
    by the same _U2_NMAX − 2 worst case the oracles unroll. At 10⁶
    series the shape is unchanged: ≤ 28 jobs, state O(open segments),
    the per-series work never leaves its hash partition, and nothing
    ever collects to the driver. Registers the ``te_u2_pts`` /
    ``te_u2_ser`` / ``te_u2_candall`` temp views the tails consume."""
    from functools import reduce

    from trendengine_spark.operators.util import owned_cache

    pts = owned_cache(pts, "u2.pts")
    pts.createOrReplaceTempView("te_u2_pts")
    ser = spark.sql(_u2_ser_sql("te_u2_pts"))
    ser.createOrReplaceTempView("te_u2_ser")
    seg = spark.sql(_u2_seg0_sql("te_u2_ser", "te_u2_pts"))
    cands = []
    for _ in range(_U2_NMAX - 2):
        seg.createOrReplaceTempView("te_u2_seg")
        c = spark.sql(
            _u2_level_sql("te_u2_seg", "te_u2_pts")
        ).localCheckpoint()
        if c.isEmpty():
            break
        cands.append(c.select("event_type", "bp", "dev"))
        c.createOrReplaceTempView("te_u2_c")
        # children are a pure column shuffle of the CHECKPOINTED level
        # output — safe to leave lazy across the view rebind
        seg = spark.sql(_u2_children_sql("te_u2_c"))
    candall = (
        reduce(lambda a, b: a.unionAll(b), cands)
        if cands
        else spark.createDataFrame([], _U2_CAND_SCHEMA)
    )
    candall.createOrReplaceTempView("te_u2_candall")


def u2_relational_changes(spark, pts):
    """Spark side of the U2 twin over a prepared ``(event_type, x,
    y)`` points DataFrame (exposed separately so tests can feed
    planted series): the shared lockstep head, then the shared tail
    text."""
    _u2_spark_candidates(spark, pts)
    return spark.sql(
        "WITH "
        + _u2_tail_sql(
            _tcrit_lookup("s.m - 2", "spark"),
            "te_u2_pts",
            "te_u2_ser",
            "te_u2_candall",
        )
    )


@query("u2_dbest_relational", sql=_U2_SQL_DUCK)
def u2_dbest_relational(spark, sf_dir):
    """U2 DBEST change detection as an engine-portable relational
    program — the r12 conversion that gives the LAST golden-only core
    operator an oracle twin (VERDICT r11 task 1). Semantics: the
    non-cyclical path of :func:`~trendengine_spark.functions.dbest.
    dbest_change_detection` (the path the reference app crashes on,
    `/root/reference/TrendEngine/calculations/dbest.py:94-95,148-149`)
    over the daily event-count series, scale-free knobs
    (first/second level shift = 5%/10% of the series range,
    duration 5, breakpoints_no 3, default distance threshold):

    * **Top-down chord-split segmentation** — numpy's stack recursion
      is traversal-order-independent (each segment's best split is a
      deterministic argmax), so it transcribes as LEVELS of
      simultaneous splits: chained MATERIALIZED CTEs on the DuckDB
      side, a lockstep checkpointed loop on the Spark side, both
      executing the IDENTICAL level SQL text. Candidate ranking
      (dev DESC, bp DESC) is python's reverse tuple sort.
    * **Exact-integer everything** — counts are int64; chord
      deviations, window means, slope = N/D, and t² = N²·dof /
      (Syy_m·D − N²) are fixed-parenthesization IEEE expressions over
      exact int64 moments, identical on both engines; RSS ≤ 0 and
      dof ≤ 0 degeneracies take the numpy exits (perfect fit ⇒
      significant iff slope ≠ 0; too short ⇒ not significant).
    * **Sustained-step change_type** — jump ≥ fls with the
      duration-window means differing ≥ sls, windows clamped at the
      series ends exactly like the numpy slices; evaluated on the
      GLOBAL series then EXISTS-joined per segment.

    Parity with the numpy path is pinned by
    ``tests/test_dbest_golden.py`` (real series at sf0.001 + planted
    branch-coverage series); numpy's lstsq-vs-Cramer ulp noise can
    permute EXACT |change| ties in rank order, so the parity test
    compares the segment set and tie-grouped ranking, while the
    cross-engine hash needs no tolerance at all."""
    pts = sql_over_tables(spark, sf_dir, _u2_pts_sql("events"), ("events",))
    return u2_relational_changes(spark, pts)


# --------------------------------------------------------------------- U3
# DBEST trend generalization, relational twin (r12 — VERDICT r11
# task 6): the same split recursion as U2 but UNCAPPED (the paper's
# generalization keeps every split under the distance threshold,
# max_breakpoints = n), then per-segment least-squares lines
# (`_quick_line`) and the (rmse, mad) fit-quality contract of
# reference `/root/reference/TrendEngine/calculations/dbest.py:385-395`.
# The one order-dependent float aggregation — Σ residual² — is
# quantized to int64 per point (floor(r²·2²⁰), the logistic-gate
# discipline), so both engines compute the identical rmse double;
# mad = max |residual| is order-free on identical doubles.

#: per-point residual against the OWNING segment's line (a boundary
#: point belongs to the segment STARTING there — numpy's fit array is
#: written segment-by-segment, later segments overwrite the shared
#: boundary — except the final point, owned by the last segment)
_U3_RESID = (
    "(CAST(p.y AS DOUBLE)"
    " - (f.itc + (f.slp * CAST(p.x AS DOUBLE))))"
)


def _u3_tail_sql(pts: str, ser: str, candall: str) -> str:
    slp = (
        "(CAST(m.m * m.sxy - m.sx * m.sy AS DOUBLE)"
        " / CAST(m.m * m.sxx - m.sx * m.sx AS DOUBLE))"
    )
    return f"""cand AS (
  SELECT event_type, bp FROM {candall} ca
), bnd AS (
  SELECT event_type, bp FROM cand
  UNION ALL SELECT event_type, CAST(0 AS BIGINT) AS bp FROM {ser}
  UNION ALL SELECT event_type, n - 1 AS bp FROM {ser}
), segf AS (
  SELECT event_type, a, b FROM (
    SELECT event_type, bp AS a,
           lead(bp) OVER (PARTITION BY event_type ORDER BY bp) AS b
    FROM bnd) q
  WHERE b IS NOT NULL
), mom AS (
  SELECT f.event_type, f.a, f.b,
    CAST(count(*) AS BIGINT) AS m,
    CAST(sum(p.x) AS BIGINT) AS sx, CAST(sum(p.y) AS BIGINT) AS sy,
    CAST(sum(p.x * p.x) AS BIGINT) AS sxx,
    CAST(sum(p.x * p.y) AS BIGINT) AS sxy
  FROM segf f JOIN {pts} p ON p.event_type = f.event_type
    AND p.x >= f.a AND p.x <= f.b
  GROUP BY f.event_type, f.a, f.b
), lines AS (
  SELECT m.event_type, m.a, m.b, {slp} AS slp,
    ((CAST(m.sy AS DOUBLE) / CAST(m.m AS DOUBLE))
     - ({slp} * (CAST(m.sx AS DOUBLE) / CAST(m.m AS DOUBLE)))) AS itc
  FROM mom m
), resid AS (
  SELECT f.event_type, f.a,
    CAST(floor((({_U3_RESID}) * ({_U3_RESID})) * 1048576e0) AS BIGINT)
      AS q_r2,
    abs({_U3_RESID}) AS abs_r
  FROM lines f
  JOIN {ser} nk ON nk.event_type = f.event_type
  JOIN {pts} p ON p.event_type = f.event_type
    AND p.x >= f.a
    AND (p.x < f.b OR f.b = nk.n - 1)
)
SELECT r.event_type,
  CAST(count(DISTINCT r.a) AS INT) AS segment_no,
  sqrt((CAST(CAST(sum(r.q_r2) AS BIGINT) AS DOUBLE) / 1048576e0)
       / CAST(max(nk.n) AS DOUBLE)) AS rmse,
  max(r.abs_r) AS mad
FROM resid r JOIN {ser} nk ON nk.event_type = r.event_type
GROUP BY r.event_type
ORDER BY r.event_type
"""


def _u3_duck_sql() -> str:
    """Head identical to :func:`_u2_duck_sql` (same threshold, same
    levels — the generalization explores the same split tree and the
    cap is applied only at selection, which U3 doesn't apply), then
    the U3 fit-quality tail."""
    parts = [
        f"WITH daily AS MATERIALIZED ({_u2_pts_sql('events')}"
        f"), ser AS MATERIALIZED ({_u2_ser_sql('daily')}"
        f"), seg0 AS MATERIALIZED ({_u2_seg0_sql('ser', 'daily')})"
    ]
    levels = _U2_NMAX - 2
    for k in range(levels):
        parts.append(
            f", c{k} AS MATERIALIZED ({_u2_level_sql(f'seg{k}', 'daily')}"
            f"), seg{k + 1} AS MATERIALIZED ("
            f"{_u2_children_sql(f'c{k}')})"
        )
    allc = "\n  UNION ALL ".join(
        f"SELECT event_type, bp, dev FROM c{k}" for k in range(levels)
    )
    parts.append(f", candall AS MATERIALIZED (\n  {allc}\n), ")
    parts.append(_u3_tail_sql("daily", "ser", "candall"))
    return "".join(parts)


def u3_relational_generalize(spark, pts):
    """Spark side of the U3 twin (exposed for planted-series tests):
    shared lockstep head, U3 tail."""
    _u2_spark_candidates(spark, pts)
    return spark.sql(
        "WITH "
        + _u3_tail_sql("te_u2_pts", "te_u2_ser", "te_u2_candall")
    )


@query("u3_generalize_events", sql=_u3_duck_sql())
def u3_generalize_events(spark, sf_dir):
    """U3 DBEST trend generalization — FULL ORACLE since r12 (VERDICT
    r11 task 6; previously rows-only): simplify each series to the
    piecewise-linear segments whose chord deviation stays under the
    default distance threshold and report the fit quality the
    reference consumes — (segment_no, rmse, mad), contract
    `/root/reference/TrendEngine/calculations/dbest.py:385-395`.

    The declared query runs the NON-CYCLICAL generalization over the
    integer daily event-count series (the engine-portable twin of
    :func:`~trendengine_spark.functions.dbest.dbest_generalization`,
    transcribed with the U2 machinery: same uncapped split recursion,
    `_quick_line` per segment as one exact-integer slope division,
    Σresidual² quantized to int64 so the rmse double is
    order-independent, mad as an order-free max). The STL-seasonal
    path the reference's cyclical mode uses remains first-class and
    exercised — the engine facade's decompose flow and the
    `tests/test_dbest_golden.py` goldens cover it; numpy↔SQL
    parity for THIS query is pinned by the planted + real-series
    tests there.

    Scale: identical to the U2 twin — ≤ _U2_NMAX−2 lockstep level
    jobs with O(open segments) state, then two narrow joins; nothing
    collects to the driver."""
    pts = sql_over_tables(spark, sf_dir, _u2_pts_sql("events"), ("events",))
    return u3_relational_generalize(spark, pts)


# --------------------------------------------------------------------- U7
# BFAST-monitor MOSUM, relational twin (r12). The numpy path
# (functions/bfast.bfast_monitor — the lite re-derivation of
# Verbesselt et al. 2012 that SURVEY §2 row U7+ documents) restated
# as ONE SQL text both engines run, the u1/u2 discipline:
#
# * The harmonic+trend design is QUANTIZED: cos/sin(2πp/7) at scale
#   2¹⁵ as integer literals indexed by phase p = x mod 7 (exact
#   periodicity — the numpy path evaluates cos(2πt/7) at unreduced t,
#   a ≤1e-15 deviation absorbed by the parity tolerance). Design,
#   counts and all Gram moments are exact int64 sums — order-free.
# * The 4-parameter OLS solves by Cramer on the 4×4 integer Gram with
#   cofactor expansion IN DOUBLE: every float op is one fixed-
#   parenthesization expression over identical exact integers, so
#   both engines land on identical doubles (no FMA in either).
#   Singular history (det = 0) yields β = 0 — a documented deviation
#   from numpy's min-norm lstsq, unreachable on real series (gated
#   test only).
# * Residuals quantize at 2¹² for every cross-row SUM: σ̂² as a
#   SPLIT-ACCUMULATOR (Σ z div 2³⁰ / Σ z mod 2³⁰ — headroom to
#   |residual| < 7·10⁵ per day at ANY series length), MOSUM as exact
#   rolling int sums via cumulative-sum differencing with a
#   PER-SERIES window h (= ceil(0.25·m), a join on mi = mi−h — frame
#   bounds cannot vary per partition, the csum-difference form can).
#   Raw double residuals feed the magnitude median (explicit
#   order-stat positions, the median_exact discipline).
# * No output rounding anywhere: the doubles are bit-identical.

_U7_HS = 32768  # 2^15 harmonic quantization
_U7_ESS = "4096e0"  # 2^12 residual quantization (string: stays DOUBLE)


def _u7_phase_case(col: str, vals: list[int]) -> str:
    """CASE lookup of a 7-entry integer literal table by x mod 7 —
    shared dialect (array indexing differs between engines; CASE
    doesn't)."""
    arms = " ".join(
        f"WHEN {col} % 7 = {p} THEN {v}" for p, v in enumerate(vals)
    )
    return f"(CASE {arms} END)"


def _u7_det3(m) -> str:
    return (
        f"({m[0][0]}*(({m[1][1]}*{m[2][2]})-({m[1][2]}*{m[2][1]}))"
        f" - {m[0][1]}*(({m[1][0]}*{m[2][2]})-({m[1][2]}*{m[2][0]}))"
        f" + {m[0][2]}*(({m[1][0]}*{m[2][1]})-({m[1][1]}*{m[2][0]})))"
    )


def _u7_det4(m) -> str:
    """4×4 determinant by first-row cofactor expansion — one shared
    fixed-parenthesization double expression."""
    def minor(k):
        return [[m[r][c] for c in range(4) if c != k] for r in (1, 2, 3)]

    t0 = f"{m[0][0]}*{_u7_det3(minor(0))}"
    t1 = f"{m[0][1]}*{_u7_det3(minor(1))}"
    t2 = f"{m[0][2]}*{_u7_det3(minor(2))}"
    t3 = f"{m[0][3]}*{_u7_det3(minor(3))}"
    return f"({t0} - {t1} + {t2} - {t3})"


def _u7_sql(pts_body: str, div: str) -> str:
    """The full monitor as one statement. ``pts_body`` supplies the
    (event_type, x, y) series CTE body (daily counts in production;
    planted frames in tests); ``div`` is the integer-division token
    (' DIV ' Spark / ' // ' DuckDB) — the only dialect difference."""
    import math as _m

    cosl = [
        _m.floor(_m.cos(2.0 * _m.pi * p / 7.0) * _U7_HS + 0.5)
        for p in range(7)
    ]
    sinl = [
        _m.floor(_m.sin(2.0 * _m.pi * p / 7.0) * _U7_HS + 0.5)
        for p in range(7)
    ]
    cc = _u7_phase_case("x", cosl)
    ss = _u7_phase_case("x", sinl)
    # the symmetric scaled Gram (doubles) and its Cramer solutions
    g = [[f"g{min(i, j)}{max(i, j)}" for j in range(4)] for i in range(4)]
    b = ["b0", "b1", "b2", "b3"]

    def col_replaced(k):
        return [
            [b[r] if c == k else g[r][c] for c in range(4)]
            for r in range(4)
        ]

    det = _u7_det4(g)
    dets = [_u7_det4(col_replaced(k)) for k in range(4)]
    beta = ", ".join(
        f"CASE WHEN {det} = 0e0 THEN 0e0 ELSE {dk} / {det} END AS bb{k}"
        for k, dk in enumerate(dets)
    )
    resid = (
        "(CAST(d.y AS DOUBLE) - (f.bb0 + (f.bb1 * CAST(d.x AS DOUBLE))"
        " + (f.bb2 * CAST(d.c AS DOUBLE)) + (f.bb3 * CAST(d.s AS DOUBLE))))"
    )
    return f"""
pts AS ({pts_body}),
ser AS (
  SELECT event_type, n,
         greatest(CAST(floor(CAST(n AS DOUBLE) * 6e-1) AS BIGINT), 4) AS m
  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM pts GROUP BY event_type) q
),
serh AS (
  SELECT event_type, n, m,
         greatest(CAST(ceil(25e-2 * CAST(m AS DOUBLE)) AS BIGINT), 1) AS h
  FROM ser WHERE m >= 4 AND n - m >= 1
),
des AS (
  SELECT p.event_type, p.x, p.y, {cc} AS c, {ss} AS s, k.n, k.m, k.h
  FROM pts p JOIN serh k ON k.event_type = p.event_type
),
gram AS (
  SELECT event_type, max(m) AS mm,
    CAST(max(m) AS BIGINT) AS g00,
    CAST(sum(x) AS BIGINT) AS g01, CAST(sum(c) AS BIGINT) AS g02,
    CAST(sum(s) AS BIGINT) AS g03, CAST(sum(x * x) AS BIGINT) AS g11,
    CAST(sum(x * c) AS BIGINT) AS g12, CAST(sum(x * s) AS BIGINT) AS g13,
    CAST(sum(c * c) AS BIGINT) AS g22, CAST(sum(c * s) AS BIGINT) AS g23,
    CAST(sum(s * s) AS BIGINT) AS g33,
    CAST(sum(y) AS BIGINT) AS b0, CAST(sum(x * y) AS BIGINT) AS b1,
    CAST(sum(c * y) AS BIGINT) AS b2, CAST(sum(s * y) AS BIGINT) AS b3
  FROM des WHERE x < m GROUP BY event_type
),
gd AS (
  SELECT event_type,
    CAST(g00 AS DOUBLE) g00, CAST(g01 AS DOUBLE) g01,
    CAST(g02 AS DOUBLE) g02, CAST(g03 AS DOUBLE) g03,
    CAST(g11 AS DOUBLE) g11, CAST(g12 AS DOUBLE) g12,
    CAST(g13 AS DOUBLE) g13, CAST(g22 AS DOUBLE) g22,
    CAST(g23 AS DOUBLE) g23, CAST(g33 AS DOUBLE) g33,
    CAST(b0 AS DOUBLE) b0, CAST(b1 AS DOUBLE) b1,
    CAST(b2 AS DOUBLE) b2, CAST(b3 AS DOUBLE) b3
  FROM gram
),
beta AS (SELECT event_type, {beta} FROM gd),
resid AS (
  SELECT d.event_type, d.x, d.m, d.h, d.n, {resid} AS e,
         CAST(floor(({resid} * {_U7_ESS}) + 5e-1) AS BIGINT) AS eq
  FROM des d JOIN beta f ON f.event_type = d.event_type
),
sig AS (
  SELECT r.event_type,
    sqrt(((CAST(sum((r.eq * r.eq){div}1073741824) AS DOUBLE) * 1073741824e0
           + CAST(sum((r.eq * r.eq) % 1073741824) AS DOUBLE))
          / 16777216e0)
         / CAST(greatest(max(r.m) - 4, 1) AS DOUBLE)) AS sigma
  FROM resid r WHERE r.x < r.m GROUP BY r.event_type
),
mon AS (
  SELECT r.event_type, r.x - r.m AS mi, r.e, r.eq, r.m, r.h, r.n,
         CAST(sum(r.eq) OVER (PARTITION BY r.event_type ORDER BY r.x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cs
  FROM resid r WHERE r.x >= r.m
),
mos AS (
  SELECT a.event_type, a.mi, a.e, a.m, a.n,
    ((CAST(a.cs - COALESCE(p.cs, 0) AS DOUBLE) / {_U7_ESS})
     / ((CASE WHEN g.sigma > 0e0 THEN g.sigma ELSE 1e-12 END)
        * sqrt(CAST(a.m AS DOUBLE)))) AS mosum
  FROM mon a
  JOIN sig g ON g.event_type = a.event_type
  LEFT JOIN mon p ON p.event_type = a.event_type AND p.mi = a.mi - a.h
),
firsts AS (
  SELECT event_type, min(mi) AS fi FROM mos
  WHERE abs(mosum) > 4e0 GROUP BY event_type
),
mmax AS (
  SELECT event_type, max(abs(mosum)) AS mosum_max FROM mos
  GROUP BY event_type
),
ranked AS (
  SELECT o.event_type, o.e,
         row_number() OVER (PARTITION BY o.event_type ORDER BY o.e) AS rn,
         count(*) OVER (PARTITION BY o.event_type) AS k
  FROM mos o JOIN firsts f
    ON f.event_type = o.event_type AND o.mi >= f.fi
),
med AS (
  SELECT event_type,
    (sum(CASE WHEN rn = (k + 1){div}2 THEN e ELSE 0e0 END)
     + sum(CASE WHEN rn = (k{div}2) + 1 THEN e ELSE 0e0 END)) / 2e0
      AS magnitude
  FROM ranked GROUP BY event_type
)
SELECT k.event_type,
  (f.fi IS NOT NULL) AS break_detected,
  CAST(COALESCE(k.m + f.fi, -1) AS INT) AS break_idx,
  COALESCE(d.magnitude, 0e0) AS magnitude,
  COALESCE(x.mosum_max, 0e0) AS mosum_max,
  CAST(k.m AS INT) AS n_history,
  CAST(k.n - k.m AS INT) AS n_monitor
FROM serh k
LEFT JOIN firsts f ON f.event_type = k.event_type
LEFT JOIN mmax x ON x.event_type = k.event_type
LEFT JOIN med d ON d.event_type = k.event_type
ORDER BY k.event_type
"""


def _u7_pts_body(events: str) -> str:
    """Daily event-count series — the production pts head (same
    derivation as the U1/U2 twins, unclipped)."""
    return f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS y,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY CAST(ts AS DATE)) - 1
                AS BIGINT) AS x
    FROM {events}
    GROUP BY event_type, CAST(ts AS DATE)
    """


_U7_SQL_DUCK = "WITH " + _u7_sql(_u7_pts_body("events"), " // ")
_U7_SQL_SPARK = "WITH " + _u7_sql(_u7_pts_body("events"), " DIV ")


@query("u7_bfast_relational", sql=_U7_SQL_DUCK)
def u7_bfast_relational(spark, sf_dir):
    """U7 BFAST-monitor disturbance detection as an engine-portable
    relational program — the r12 twin that completes the analytical
    core's oracle coverage (U1/U2/U3/U5/U6/U8 all carry one; U7 was
    the last golden-only U-row). Same contract as
    `u7_bfast_monitor_events` (numpy path
    `functions/bfast.bfast_monitor`, published method, SURVEY §2
    U7+): harmonic+trend fit on the stable history (first 60%),
    MOSUM of scaled residuals over the monitoring period, alarm on
    |MOSUM| > 4 with break date, median-residual magnitude, and the
    max excursion. Numpy↔SQL parity (quantization deviations
    documented in the block comment above) is pinned by
    tests/test_bfast.py.

    Scale: one narrow shuffle to daily counts, one 14-sum moment
    aggregation per series (state O(series)), the 4×4 solve as pure
    codegen expressions on the aggregated row, one in-partition
    window pass for the MOSUM cumsum, and broadcast-size joins for
    the per-series scalars — no Python anywhere."""
    return sql_over_tables(spark, sf_dir, _U7_SQL_SPARK, ("events",))
