"""Behavioral analytics over the ``events`` table: funnel, retention,
transition matrix.

The reference serves aggregated per-area documents (reference
``src/api/routes.py:10-141``); these queries add the standard event-analytics
surface every warehouse engine ships — ordered-step funnels, cohort
retention, and Markov transition counts — expressed as plain DataFrame
joins/windows so Catalyst plans them as exchanges on ``user_id`` that AQE
can coalesce. All outputs are integer-exact (counts and day offsets), so the
DuckDB oracles must match value-for-value with no float tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.cache import SESSION_CACHE
from nyc_open_data_pipeline_spark.plans.common import t
from nyc_open_data_pipeline_spark.plans.registry import register
from nyc_open_data_pipeline_spark.session import retire_local_checkpoint


@register(
    "f1_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step_no, 'view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    )
    """,
    survey_ref="extension: ordered-step funnel (view -> click -> purchase), "
    "strictly-after semantics per step — the standard product-analytics "
    "query the reference's serving layer has no counterpart for.",
)
def f1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching step k did step k strictly after their
    earliest completion of step k-1. Each stage is a filter + partial-agg
    groupBy(user_id) followed by a join back on user_id — every exchange in
    the chain hashes the SAME key, so Catalyst reuses the partitioning
    instead of reshuffling, and each stage's input shrinks monotonically
    (funnel property). At 100 TB the per-step state is one row per
    surviving user, never the raw event log."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(step: str, prev: DataFrame | None, prev_t: str, out_t: str) -> DataFrame:
        s = ev.filter(F.col("event_type") == step)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return s.groupBy("user_id").agg(F.min("ts").alias(out_t))

    s1 = first_after("view", None, "", "t1")
    s2 = first_after("click", s1, "t1", "t2")
    s3 = first_after("purchase", s2, "t2", "t3")

    def level(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("step_no"),
            F.lit(name).alias("step"),
            F.count("*").cast("long").alias("n_users"),
        )

    return (
        level(1, "view", s1)
        .unionAll(level(2, "click", s2))
        .unionAll(level(3, "purchase", s3))
    )


@register(
    "f2_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           date_diff('day', f.cohort_day, a.active_day) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    survey_ref="extension: cohort retention — users grouped by first-seen "
    "day, activity counted per day offset (the classic retention triangle).",
)
def f2_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: cohort = first active day, one row per
    (cohort_day, day_offset) with the distinct-user count. Both the
    first-seen aggregate and the distinct-activity set partition on
    user_id — one exchange feeds both sides of the join, then a small
    reaggregation on ~|days|^2/2 cells. At 100 TB the join operands are
    |users| and |users x active-days| rows (already deduplicated), not raw
    events."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("active_day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("active_day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("active_day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "f3_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="extension: per-user event-transition (Markov) matrix via "
    "lag() — the sequence-analysis primitive behind session-flow reports.",
)
def f3_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition matrix: consecutive event pairs per user (ties broken by
    event_id so the sequence — and therefore the counts — is deterministic),
    reduced to |event_type|^2 cells. One hash exchange on user_id for the
    window sort, then a partial-agg groupBy over 25 cells; the window state
    is one preceding row (lag-1), so executors stream it without
    materializing a user's history."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


_SESSION_GAP_MIN = 30
_TOP_PATHS = 20


@register(
    "f4_session_paths",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_SESSION_GAP_MIN} MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ),
    paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, session_no
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_TOP_PATHS}
    """,
    survey_ref="extension: session-path analysis — gaps-and-islands "
    "sessionization (30-min inactivity gap) + ordered event-type paths + "
    "top-k path frequencies; the navigation-flow report built on e3's "
    "session semantics.",
)
def f4_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: sessions cut at 30-min inactivity gaps (lag +
    running flag-sum — the gaps-and-islands idiom), each session reduced to
    its '>'-joined event-type sequence, then a path-frequency top-k.

    Plan: one exchange on user_id serves BOTH windows (lag and running sum
    share the same partitioning and ordering), the per-session reduce
    reuses it, and the final top-k is a TakeOrdered over |distinct paths|
    partial aggregates. Ties broken by path text so the limit is
    deterministic cross-engine. At 100 TB nothing materializes a user's
    history beyond the window frame."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        <= _SESSION_GAP_MIN * 60
    )
    marked = ev.withColumn(
        "new_sess", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1))
    )
    sess = marked.withColumn(
        "session_no", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_TOP_PATHS)
    )


_WAU_DAYS = 7


@register(
    "f5_active_users",
    oracle=f"""
    WITH activity AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM activity),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM activity GROUP BY day
    ),
    contrib AS (
      SELECT a.user_id, a.day + CAST(x.x AS INTEGER) AS day
      FROM activity a, (SELECT unnest(generate_series(0, {_WAU_DAYS - 1})) AS x) x
    ),
    wau AS (
      SELECT c.day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM contrib c WHERE c.day IN (SELECT day FROM days)
      GROUP BY c.day
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, w.wau,
           d.dau / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
    survey_ref="extension: DAU/WAU/stickiness — rolling 7-day distinct "
    "actives computed by CONTRIBUTION EXPANSION (each active day feeds the "
    "7 windows it belongs to), not an inequality self-join.",
)
def f5_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily/weekly active users and the DAU/WAU stickiness ratio.

    The rolling-distinct is the part that goes wrong at scale: a naive
    `a.day BETWEEN d.day-6 AND d.day` join plans as a nested loop. Instead
    each (user, day) row is exploded to the 7 window-end days it
    contributes to (map-side, x7), then a single hash aggregate counts
    distinct users per window end — the same interval-to-equi-join rewrite
    rj1 uses, here with the window as the bin. Output days are restricted
    to observed days via a broadcast semi join on the tiny day spine."""
    ev = t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    activity = ev.distinct()
    days = activity.select("day").distinct()
    dau = activity.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    contrib = activity.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))).alias("x"),
        F.col("day").alias("day0"),
    ).select("user_id", F.expr("date_add(day0, x)").alias("day"))
    wau = (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
        )
    )


@register(
    "f6_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT user_id, last_ts, n_events, total_value,
             CAST(ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT) AS r_q,
             CAST(ntile(4) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS f_q,
             CAST(ntile(4) OVER (ORDER BY total_value DESC, user_id) AS BIGINT) AS m_q
      FROM rfm
    )
    SELECT user_id, last_ts, n_events, total_value, r_q, f_q, m_q,
           concat('R', CAST(r_q AS VARCHAR), 'F', CAST(f_q AS VARCHAR),
                  'M', CAST(m_q AS VARCHAR)) AS segment
    FROM q
    """,
    survey_ref="extension: RFM user segmentation — recency/frequency/monetary "
    "quartiles + composite segment label, the standard lifecycle-marketing "
    "report built on A2's latest-per-key and A4's conditional-agg idioms.",
)
def f6_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: one groupBy(user_id) reduces events to a per-user
    (last_ts, n_events, total_value) triple (decimal sum -> order-independent
    double), then three quartile ntiles with user_id tiebreaks make the
    assignment deterministic cross-engine.

    Scale note: the ntile windows are global (Exchange SinglePartition) over
    the REDUCED per-user frame — fine up to ~10^7 users; beyond that swap in
    operators/ranks.distribution_ranks (w6), which computes the same
    quartiles with range partitioning and no single-partition stage.
    """
    from nyc_open_data_pipeline_spark.plans.common import dec

    ev = t(spark, sf_dir, "events")
    rfm = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_events"),
        F.sum(dec("value", 28, 4)).cast("double").alias("total_value"),
    )
    wr = Window.orderBy(F.col("last_ts").desc(), "user_id")
    wf = Window.orderBy(F.col("n_events").desc(), "user_id")
    wm = Window.orderBy(F.col("total_value").desc(), "user_id")
    q = rfm.select(
        "user_id",
        "last_ts",
        "n_events",
        "total_value",
        F.ntile(4).over(wr).cast("long").alias("r_q"),
        F.ntile(4).over(wf).cast("long").alias("f_q"),
        F.ntile(4).over(wm).cast("long").alias("m_q"),
    )
    return q.withColumn(
        "segment",
        F.concat(
            F.lit("R"), F.col("r_q").cast("string"),
            F.lit("F"), F.col("f_q").cast("string"),
            F.lit("M"), F.col("m_q").cast("string"),
        ),
    )


from nyc_open_data_pipeline_spark.operators.zorder import sql_zvalue2  # noqa: E402

_Z1_SQL_Z = sql_zvalue2("l_partkey", "l_suppkey")


@register(
    "z1_zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT ({_Z1_SQL_Z} >> 16) AS zbucket, l_partkey, l_suppkey
      FROM lineitem
    )
    SELECT zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS p_min,
           CAST(MAX(l_partkey) AS BIGINT) AS p_max,
           CAST(MIN(l_suppkey) AS BIGINT) AS s_min,
           CAST(MAX(l_suppkey) AS BIGINT) AS s_max
    FROM z GROUP BY zbucket
    """,
    survey_ref="extension: Z-order (Morton) clustering diagnostic — the "
    "multi-column data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER BY) "
    "expressed as plain Spark bit math; per-z-bucket min/max of BOTH keys "
    "shows each bucket holds a small hyper-rectangle of the key space, the "
    "property parquet footer stats prune on. Companion to the bucketed-join "
    "layout (operators/bucketing.py) for the filtering axis.",
)
def z1_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve clustering stats over lineitem (l_partkey, l_suppkey):
    interleave the low 16 bits of both keys (operators/zorder.zvalue2 —
    four masked doubling steps per dimension, pure JVM integer ops), bucket
    by the high z bits, and report per-bucket row counts plus min/max of
    EACH dimension. Narrow per-bucket ranges on both axes are exactly what
    makes a z-ordered file layout prunable by either predicate; the
    write-side counterpart (repartitionByRange on z + within-partition
    sort) lives in operators/zorder.write_zordered and is proven to bound
    per-file footer stats in tests/test_ops.py. Quantization here is a
    16-bit mask for cross-engine determinism; at production scale quantize
    by range-rank before interleaving. Plan: one projection + one groupBy
    shuffle on zbucket — a scan-speed diagnostic."""
    from nyc_open_data_pipeline_spark.operators.zorder import zvalue2

    li = t(spark, sf_dir, "lineitem")
    z = zvalue2(F.col("l_partkey"), F.col("l_suppkey"))
    return (
        li.select(F.shiftright(z, 16).alias("zbucket"), "l_partkey", "l_suppkey")
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
    )


# --- gr1: PageRank over the customer<->supplier purchase graph ----------
#
# Iterative graph analytics beyond d7's connected components: a damped
# random walk on the bipartite multigraph whose edges are (customer,
# supplier) pairs weighted by how many lineitems link them. All rank
# arithmetic is BIGINT micro-units (SCALE = 1e12), so every per-iteration
# sum is exact and order-independent — the iterative-float-drift problem
# that forces rounding in cosine pipelines simply does not arise, and the
# DuckDB oracle replays the identical 10 integer iterations bit-for-bit.
_PR_SCALE = 1_000_000_000_000  # 1e12 micro-units of rank mass
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio
_PR_ITERS = 10
_PR_CKPT_ROUND = 5  # the one eager checkpoint, after this round
_PR_TOP = 20


def _purchase_graph(spark: SparkSession, sf_dir: str):
    """``(frame, n_c, n_s)`` for the customer<->supplier purchase graph,
    built once per session and corpus and shared by gr1 and gr2.

    ``frame`` is the single-direction pair table over raw keys,
    ``(s, c, w, s_c, s_s)``: w = lineitems linking customer c to supplier
    s, s_c / s_s = the customer's / supplier's total out-weight; eagerly
    localCheckpoint'd. ``n_c`` / ``n_s`` are the distinct customer and
    supplier counts, taken in one aggregate job. The session cache
    rebuilds it when the corpus under ``sf_dir`` changes and retires the
    superseded checkpoint's blocks."""

    def build():
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        pair = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .agg(F.count("*").cast("long").alias("w"))
        )
        outc = pair.groupBy("c").agg(F.sum("w").cast("long").alias("s_c"))
        outs = pair.groupBy("s").agg(F.sum("w").cast("long").alias("s_s"))
        g = pair.join(outc, "c").join(outs, "s").localCheckpoint(eager=True)
        n_c, n_s = g.agg(F.countDistinct("c"), F.countDistinct("s")).first()
        return g, n_c, n_s

    return SESSION_CACHE.get(
        ("purchase_graph", spark.sparkContext.applicationId, sf_dir),
        build,
        sf_dir=sf_dir,
        release=lambda v: retire_local_checkpoint(v[0]),
        label="purchase_graph",
    )


def _gr1_oracle() -> str:
    head = f"""WITH pair AS (
      SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT c AS src, s AS dst, w FROM pair
      UNION ALL
      SELECT s AS src, c AS dst, w FROM pair
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS s_u FROM edges GROUP BY src),
    e2 AS (SELECT e.src, e.dst, e.w, o.s_u FROM edges e JOIN outw o USING (src)),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    -- GREATEST guards the empty-corpus divisions (r0/base are then never
    -- read: `nodes` is empty, matching the Spark path's early return)
    nn AS (SELECT GREATEST(COUNT(*), 1) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS r
      FROM nodes
    )"""
    iters = []
    for k in range(1, _PR_ITERS + 1):
        iters.append(f""",
    r{k} AS (
      SELECT n.node,
             CAST(({_PR_DAMP_DEN - _PR_DAMP_NUM} * {_PR_SCALE}) // ({_PR_DAMP_DEN} * (SELECT n FROM nn))
               + ({_PR_DAMP_NUM} * COALESCE(i.inflow, 0)) // {_PR_DAMP_DEN}
               AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM((r.r * e.w) // e.s_u) AS BIGINT) AS inflow
        FROM e2 e JOIN r{k - 1} r ON e.src = r.node
        GROUP BY 1
      ) i USING (node)
    )""")
    return (
        head
        + "".join(iters)
        + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS entity,
           CAST(node // 2 AS BIGINT) AS entity_id,
           r AS rank_micro
    FROM r{_PR_ITERS}
    ORDER BY r DESC, node
    LIMIT {_PR_TOP}
    """
    )


@register(
    "gr1_pagerank",
    oracle=_gr1_oracle(),
    survey_ref="extension: iterative graph analytics — damped PageRank "
    "(d=0.85, 10 rounds) over the bipartite customer<->supplier purchase "
    "graph in exact BIGINT micro-units; the join-agg-per-round iterative "
    "pattern next to d7's label propagation, oracled by an unrolled "
    "10-CTE chain replaying the identical integer arithmetic",
)
def gr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most central entities of the purchase graph by PageRank.

    Graph: node ids encode entity type in the low bit (customer = 2k,
    supplier = 2k+1); each (customer, supplier) pair that shares at least
    one lineitem contributes a symmetric weighted edge (w = lineitem
    count), so every node has out-weight >= 1 and the walk has no dangling
    mass to redistribute. Rank lives in BIGINT micro-units (1e12 = total
    mass 1.0): per-edge contribution (r*w) div s_u, damping as the exact
    ratio 85/100, so iteration k is a pure integer function of iteration
    k-1 — exact, associative, order-independent, and bit-reproducible in
    any engine (overflow-safe while r * max edge weight < 2^63; here
    r <= 1e12 and w is a per-pair lineitem count).

    Scale shape: the purchase graph is built once per session and corpus
    (``_purchase_graph``, shared with gr2): the single-direction pair table
    carrying BOTH directional out-weights, checkpointed once; the
    bidirectional edge frame the rounds consume is two lazy projections of
    it (~60% of the naive both-directions frame's stored bytes, which
    matters on offset-key corpora where the pair table is fact-scale).
    Each round is one join of ranks on src plus one groupBy(dst) over a
    (node, r) frame two BIGINTs wide; round 1 needs no join at all. One
    eager localCheckpoint after round _PR_CKPT_ROUND bounds the lazy plan
    at _PR_CKPT_ROUND rounds instead of a 10-join lineage."""
    g, n_c, n_s = _purchase_graph(spark, sf_dir)
    n_nodes = n_c + n_s  # customers are even ids, suppliers odd: disjoint
    if n_nodes == 0:
        return spark.createDataFrame(
            [], "entity string, entity_id long, rank_micro long"
        )
    e2 = g.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"), "w",
        F.col("s_c").alias("s_u"),
    ).unionByName(
        g.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"),
            "w", F.col("s_s").alias("s_u"),
        )
    )
    base = ((_PR_DAMP_DEN - _PR_DAMP_NUM) * _PR_SCALE) // (_PR_DAMP_DEN * n_nodes)

    def step(contrib: str, edges: DataFrame) -> DataFrame:
        # Every edge has its mirror, so every node is the dst of at least
        # one edge: the groupBy(dst) covers exactly the node set, and the
        # oracle's `nodes LEFT JOIN inflow` adds no row and no NULL inflow.
        return (
            edges.groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr(contrib)).cast("long").alias("inflow"))
            .select(
                "node",
                F.expr(f"{base} + ({_PR_DAMP_NUM} * inflow) div {_PR_DAMP_DEN}")
                .cast("long")
                .alias("r"),
            )
        )

    # round 1: every starting rank is the constant SCALE div n
    ranks = step(f"({_PR_SCALE // n_nodes} * w) div s_u", e2)
    for k in range(2, _PR_ITERS + 1):
        ranks = step("(r * w) div s_u", e2.join(ranks, e2.src == ranks.node))
        if k == _PR_CKPT_ROUND:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_PR_TOP)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("long").alias("entity_id"),
            F.col("r").alias("rank_micro"),
        )
    )


# --- gr2: SALSA hubs & authorities on the same purchase graph -----------
_SALSA_ROUNDS = 5  # double-steps (hub -> authority -> hub)
_SALSA_TOP = 10  # per side


def _gr2_oracle() -> str:
    head = f"""WITH pair AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    outc AS (SELECT c, CAST(SUM(w) AS BIGINT) AS s_c FROM pair GROUP BY 1),
    outs AS (SELECT s, CAST(SUM(w) AS BIGINT) AS s_s FROM pair GROUP BY 1),
    e AS (
      SELECT p.c, p.s, p.w, oc.s_c, os.s_s
      FROM pair p JOIN outc oc USING (c) JOIN outs os USING (s)
    ),
    custs AS (SELECT DISTINCT c FROM pair),
    h0 AS (
      SELECT c, CAST({_PR_SCALE} // GREATEST((SELECT COUNT(*) FROM custs), 1)
                 AS BIGINT) AS h
      FROM custs
    )"""
    steps = []
    for k in range(_SALSA_ROUNDS):
        steps.append(f""",
    a{k} AS (
      SELECT e.s, CAST(SUM((h.h * e.w) // e.s_c) AS BIGINT) AS a
      FROM e JOIN h{k} h USING (c) GROUP BY 1
    ),
    h{k + 1} AS (
      SELECT e.c, CAST(SUM((a.a * e.w) // e.s_s) AS BIGINT) AS h
      FROM e JOIN a{k} a USING (s) GROUP BY 1
    )""")
    last = _SALSA_ROUNDS - 1
    return (
        head
        + "".join(steps)
        + f"""
    SELECT * FROM (
      (SELECT 'authority' AS side, s AS entity_id, a AS score_micro
       FROM a{last} ORDER BY a DESC, s LIMIT {_SALSA_TOP})
      UNION ALL
      (SELECT 'hub' AS side, c AS entity_id, h AS score_micro
       FROM h{_SALSA_ROUNDS} ORDER BY h DESC, c LIMIT {_SALSA_TOP})
    ) ORDER BY side, score_micro DESC, entity_id
    """
    )


@register(
    "gr2_salsa",
    oracle=_gr2_oracle(),
    survey_ref="extension: SALSA hubs/authorities (Lempel & Moran) — "
    "bipartite alternating mass-distribution walk over the customer<->"
    "supplier purchase graph; the who-to-recommend primitive next to "
    "gr1's PageRank, same exact-BIGINT iterative discipline, unrolled-"
    "CTE oracle",
)
def gr2_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top hubs (customers) and authorities (suppliers) by SALSA: hub mass
    distributes over each customer's lineitems to suppliers, authority
    mass distributes back, alternating for _SALSA_ROUNDS double-steps.
    Mass-conserving by construction (each side's scores sum to ~SCALE
    minus floor losses), so no per-round renormalization is needed and
    every quantity stays inside BIGINT: (score * w) // out_weight <=
    score. Exact integer arithmetic -> order-independent sums ->
    bit-reproducible cross-engine, like gr1.

    Scale shape: the single-direction pair table with both out-weights is
    gr1's purchase graph, built once per session and corpus
    (``_purchase_graph``); each half-step is one join + one groupBy on a
    two-column score frame. Ten half-steps = ten bounded exchanges;
    per-half-step eager localCheckpoint keeps the plan shallow."""
    e, n_c, _ = _purchase_graph(spark, sf_dir)
    if n_c == 0:
        return spark.createDataFrame(
            [], "side string, entity_id long, score_micro long"
        )
    custs = e.select("c").distinct()
    h = custs.select("c", F.lit(_PR_SCALE // n_c).cast("long").alias("h"))
    a = None
    for _ in range(_SALSA_ROUNDS):
        a = (
            e.join(h, "c")
            .select("s", F.expr("(h * w) div s_c").alias("m"))
            .groupBy("s")
            .agg(F.sum("m").cast("long").alias("a"))
            .localCheckpoint(eager=True)
        )
        h = (
            e.join(a, "s")
            .select("c", F.expr("(a * w) div s_s").alias("m"))
            .groupBy("c")
            .agg(F.sum("m").cast("long").alias("h"))
            .localCheckpoint(eager=True)
        )
    auth = (
        a.orderBy(F.desc("a"), F.asc("s"))
        .limit(_SALSA_TOP)
        .select(
            F.lit("authority").alias("side"),
            F.col("s").alias("entity_id"),
            F.col("a").alias("score_micro"),
        )
    )
    hubs = (
        h.orderBy(F.desc("h"), F.asc("c"))
        .limit(_SALSA_TOP)
        .select(
            F.lit("hub").alias("side"),
            F.col("c").alias("entity_id"),
            F.col("h").alias("score_micro"),
        )
    )
    return auth.unionByName(hubs).orderBy(
        "side", F.desc("score_micro"), "entity_id"
    )


# gr3: connected components via ALTERNATING STAR CONTRACTION (Kiveris et
# al. 2014) — the diameter-independent scale path for the CC role d7's
# min-label propagation fills on tiny near-dup clusters. The fixture
# graph is chosen to be exactly the shape label propagation CANNOT
# finish: each user's events chained consecutively by time, so component
# diameter == events-per-user (66 at every driver fixture scale — already
# 3x past d7's default 20-round budget; in the wild it grows with user
# history length, unbounded by corpus sharding; star contraction
# converges in O(log^2) alternations at any diameter). The oracle never runs a graph algorithm: the chain structure
# makes the answer closed-form (component = the user's events, id = the
# min event_id), so parity checks the distributed contraction against
# ground truth that cannot itself be wrong.


@register(
    "gr3_components_star",
    oracle="""
    SELECT MIN(event_id) AS component_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM events GROUP BY user_id
    """,
    survey_ref="extension: connected components via alternating "
    "large-star/small-star contraction (Kiveris et al. 2014, 'Connected "
    "Components in MapReduce and Beyond') — O(log^2 n) rounds independent "
    "of graph diameter, vs d7's O(diameter) label propagation; fixture "
    "graph = per-user consecutive-event chains (diameter 66, past label "
    "propagation's default round budget at every fixture scale).",
)
def gr3_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components of the consecutive-event chain graph, summarized as
    (component_id = min event_id, n_nodes). Scale shape (round 9): the
    edge build is one window over user_id (the exchange every session
    operator already pays); each star alternation is ONE window-min
    exchange per phase (min-over-partition attaches the star center in
    the same shuffle that grouped the rows — no groupBy + join-back) plus
    the small-star terminal distinct, ~4E shuffled rows per round vs the
    original ~10E; per-round localCheckpoint with eager retirement of the
    superseded round's blocks, and the exceptAll fixpoint check is gated
    behind a multiset fingerprint so it runs once, not every round
    (operators/dedup.star_components; measured 979.9 -> 570.0 s at sf100).
    At 100 TB the round count stays ~log(corpus) while the per-round
    shuffle is linear in edges — the Kiveris et al. result this query
    exists to demonstrate; a diameter-bound algorithm has no such bound."""
    from nyc_open_data_pipeline_spark.operators.dedup import star_components

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("nxt", F.lead("event_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("event_id").alias("id_a"), F.col("nxt").alias("id_b"))
    )
    nodes = ev.select(F.col("event_id").alias("id"))
    comp = star_components(nodes, edges)
    return comp.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_nodes")
    ).select(F.col("cluster_id").alias("component_id"), "n_nodes")
