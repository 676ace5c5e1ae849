"""Physical-plan regression tests: the scale properties SCALE.md claims
(pushdown, pruning, broadcast, partial aggregation, top-k) must survive
refactors — assert them on the executed plan text.
"""

from __future__ import annotations

import pytest

from nyc_open_data_pipeline_spark.plans import all_queries

QUERIES = all_queries()


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 6 of 16 lineitem columns read — column pruning reached the scan
    assert "l_comment" not in plan
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2


def test_j2_broadcasts_the_dimension_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j2_inner_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_j1_left_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j1_left_join_dim")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_o5_top_k_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "o5_top_k")
    assert "TakeOrderedAndProject" in plan


def test_d3_minhash_is_narrow(spark, sf_dir):
    """Signatures compute without any shuffle: at most the fan-out
    repartition exchange from catalog.load_table, never a key exchange."""
    plan = plan_of(spark, sf_dir, "d3_minhash_signatures")
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_w6_has_no_single_partition_stage(spark, sf_dir):
    """w6 is the production form of w5: distribution ranks with every
    exchange keeping cluster parallelism. w5's serial window (the oracle
    cross-check) is exactly what w6 must NOT contain."""
    assert "SinglePartition" in plan_of(spark, sf_dir, "w5_ntile_percent_rank")
    assert "SinglePartition" not in plan_of(spark, sf_dir, "w6_distributed_ranks")


def test_w6_matches_w5_exactly(spark, sf_dir):
    w5 = QUERIES["w5_ntile_percent_rank"].fn(spark, sf_dir)
    w6 = QUERIES["w6_distributed_ranks"].fn(spark, sf_dir)
    assert sorted(map(tuple, w5.collect())) == sorted(map(tuple, w6.collect()))


def test_no_python_udf_in_relational_core(spark, sf_dir):
    """The relational/dedup/text hot paths stay JVM-side (geo queries use
    dimension-table UDFs by design; everything else must not)."""
    for name in [
        "q1_pricing_summary",
        "j2_inner_join_broadcast",
        "d1_exact_dedup",
        "d5_simhash",
        "tx2_quality_score",
        "w4_range_frame",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_as1_asof_is_one_pass_no_join(spark, sf_dir):
    """The AS-OF join must plan as union -> one shuffle -> one window pass:
    no join operator of any kind (the naive formulation degenerates to
    BroadcastNestedLoopJoin, which is the 100 TB failure mode)."""
    plan = plan_of(spark, sf_dir, "as1_asof_join")
    assert "Join" not in plan
    assert plan.count("Window") == 1  # all three carried columns share one pass


def test_rj1_range_join_is_equi_join(spark, sf_dir):
    """The range join must plan as a hash equi-join on (user_id, bin) with
    the interval predicate as a post-filter - never a nested-loop join."""
    plan = plan_of(spark, sf_dir, "rj1_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # broadcast at test scale, shuffled-hash at 100 TB


def test_rj2_interval_join_is_equi_join(spark, sf_dir):
    """The KEYLESS interval join (no natural equi-key at all) must still
    plan as a hash equi-join on the manufactured bin key - the raw
    ts-between-bounds predicate alone would be a BroadcastNestedLoopJoin."""
    plan = plan_of(spark, sf_dir, "rj2_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan
    # the interval side is built by top-k, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_smp3_is_takeordered_not_global_sort(spark, sf_dir):
    """A-Res weighted sampling selects its k survivors with per-partition
    heaps (TakeOrderedAndProject), never a full corpus sort; the only
    full-width Sort allowed is the bounded k-row ranking window."""
    plan = plan_of(spark, sf_dir, "smp3_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort of the corpus


def test_d25_prefix_filter_is_complete(spark, sf_dir):
    """The prefix-filter theorem promises ZERO recall loss: d25's output
    must equal the brute-force all-pairs Jaccard join (computed in DuckDB
    over the same shingle recipe) exactly — pairs, intersection sizes and
    all."""
    import duckdb

    from nyc_open_data_pipeline_spark.plans import all_queries
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        _sql_shingles,
        SQL_TOKENS,
    )

    got = {
        (r["id_a"], r["id_b"], r["inter_sz"])
        for r in all_queries()["d25_setsim_join_prefix"].fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    brute = con.sql(f"""
        WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
        shl AS (SELECT doc_id, {_sql_shingles('tk')} AS sh FROM toks),
        sh AS (SELECT doc_id, unnest(sh) AS tok FROM shl),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id ia, b.doc_id ib, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT ia, ib, i FROM pairs
        JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
        WHERE 5 * i >= 3 * (sa.n + sb.n - i)
    """).fetchall()
    assert got == {(r[0], r[1], r[2]) for r in brute}


def test_seq1_has_no_single_partition_stage(spark, sf_dir):
    """Sequence packing's running sum must be the two-pass range-partitioned
    form - a serial Window.orderBy would show Exchange SinglePartition.
    Since the boundary-stability fix, the range exchange runs inside the
    pinned localCheckpoint materialization, so downstream the two-pass
    structure is visible as a Scan ExistingRDD carrying the __pid column
    (the checkpointed range-partitioned frame) rather than as a
    rangepartitioning node."""
    plan = plan_of(spark, sf_dir, "seq1_pack_sequences")
    assert "SinglePartition" not in plan
    assert "existingrdd" in plan.lower() and "__pid" in plan


def test_tx9_repetition_is_narrow_no_explode(spark, sf_dir):
    """Repetition stats must stay a scan-project pipeline: the run-length
    aggregates run inside JVM higher-order functions, never via
    explode+groupBy (which would shuffle |tokens| rows) or Python."""
    plan = plan_of(spark, sf_dir, "tx9_repetition_stats")
    assert "Generate" not in plan        # no explode
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # only the local single-row-group loader repartition may exchange
    assert plan.count("Exchange") <= 1


def test_mix2_broadcasts_the_rate_table(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "mix2_cap_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injection(spark, tmp_path):
    """With runtime bloom filters on (session default from Spark 3.5), a
    selective dim filter joined sort-merge into a fact injects a
    BloomFilterMightContain probe on the fact scan — the runtime
    semi-join-reduction that cuts fact shuffle volume at 100 TB. Thresholds
    are lowered here because local fixtures are far below the production
    creation/application size gates."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
        spark.range(100_000).selectExpr("id", "id % 1000 AS k").write.parquet(fact_p)
        spark.range(1000).selectExpr("id AS k", "id % 7 AS attr").write.parquet(dim_p)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter("attr = 3")
        j = fact.join(dim, "k")
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloomfilter" in plan or "might_contain" in plan
        # and the join still answers correctly
        assert j.count() == fact.join(dim.hint("broadcast"), "k").count()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q3_broadcasts_customer_and_heap_topk(spark, sf_dir):
    """Q3's segment-filtered customer side must broadcast (the fact side
    never shuffles for that join), the date filters must reach the scans,
    and the top-10 must be a per-partition heap, not a global sort."""
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """The six-way join must resolve region/nation/supplier as broadcasts —
    at most the two fact-side joins (orders x customer, lineitem x orders)
    may shuffle, and nothing may plan as a nested loop."""
    plan = plan_of(spark, sf_dir, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_d13_shuffles_only_hashes(spark, sf_dir):
    """The dup-fraction join keys are 64-bit shingle hashes — the plan must
    never carry text through an exchange (column pruning drops it after
    hashing) and must keep partial aggregation before each shuffle."""
    plan = plan_of(spark, sf_dir, "d13_ngram_dup_fraction")
    assert plan.count("HashAggregate") >= 2  # map-side combine present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_s8_broadcasts_centroids(spark, sf_dir):
    """Label centroids (|labels| rows) join back to the vectors as a
    broadcast — the embedding side must not shuffle for the cohesion pass."""
    plan = plan_of(spark, sf_dir, "s8_label_centroids")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q14_pushes_date_window_and_broadcasts_part(spark, sf_dir):
    """Q14's one-month window must prune the lineitem scan and the 2-column
    part projection must broadcast; both sums share one partial aggregate."""
    plan = plan_of(spark, sf_dir, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2


def test_q13_outer_join_survives_to_zero_bucket(spark, sf_dir):
    """Q13's priority predicate must ride the join condition (an outer
    join), never collapse to inner — the c_count=0 bucket is the point."""
    plan = plan_of(spark, sf_dir, "q13_custdist")
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan
    # outer-join invariant: every customer lands in exactly one bucket
    # (an inner-join collapse would drop zero-order customers and break it)
    rows = QUERIES["q13_custdist"].fn(spark, sf_dir).collect()
    from nyc_open_data_pipeline_spark.catalog import load_table

    assert sum(r["custdist"] for r in rows) == load_table(spark, sf_dir, "customer").count()


def test_q16_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """The NOT IN subquery must become Catalyst's single-column null-aware
    anti join (BroadcastHashJoin LeftAnti with the NAAJ flag), not a
    nested-loop or a plain anti join with silently-different NULL
    semantics."""
    plan = plan_of(spark, sf_dir, "q16_supplier_cnt")
    # Anchor on the BroadcastHashJoin line carrying LeftAnti + the NAAJ
    # marker rather than the exact positional-arg rendering
    # ("LeftAnti, BuildRight, true"), which is a toString implementation
    # detail of BroadcastHashJoinExec (string shape pinned against Spark
    # 4.1: isNullAware prints as a trailing bare "true").
    import re

    naaj_line = re.search(
        r"BroadcastHashJoin[^\n]*LeftAnti[^\n]*\btrue\b", plan
    )
    assert naaj_line, f"no null-aware LeftAnti BroadcastHashJoin in plan:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_scalar_rewrites_to_agg_join(spark, sf_dir):
    """The correlated MIN subquery must rewrite to a grouped aggregate
    joined back on the correlation key — per-row subquery execution can't
    exist in the plan, and neither may nested loops or cartesians."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "Subquery" not in plan  # fully decorrelated
    assert plan.count("HashAggregate") >= 2  # ps agg + correlated-min agg
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_plans_semi_join(spark, sf_dir):
    """Q4's EXISTS must be a LeftSemi hash join (one output row per probe
    row — no expansion) with the date window pushed to the orders scan."""
    plan = plan_of(spark, sf_dir, "q4_priority_check")
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_correlated_avg_decorrelates(spark, sf_dir):
    """Q17's per-part mean over the fact table must aggregate once and
    join back on partkey with the 0.2 threshold as a residual — never
    execute per outer row."""
    plan = plan_of(spark, sf_dir, "q17_small_quantity_revenue")
    assert "Subquery" not in plan  # fully decorrelated
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q19_disjunction_stays_hash_join_with_pushdown(spark, sf_dir):
    """Q19's OR of brand/size/quantity conjunctions must keep the partkey
    hash join (no nested loop over the disjunction) and push the derived
    quantity-range union into the lineitem scan."""
    plan = plan_of(spark, sf_dir, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the OR-derived quantity bound reached the scan as a data filter
    assert "GreaterThanOrEqual(l_quantity,1" in plan


def test_q22_scalar_threshold_pushes_to_scan(spark, sf_dir):
    """Q22's scalar AVG threshold must reach the customer scan as a pushed
    filter (computed once, reused as a literal) and the NOT EXISTS must be
    a hash anti join — the two subquery rewrites composed in one plan."""
    plan = plan_of(spark, sf_dir, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan
    assert "GreaterThan(c_acctbal,ScalarSubquery" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_nested_subqueries_fully_decorrelate(spark, sf_dir):
    """Q20's outer IN must plan as a LeftSemi join, the inner partkey IN
    as a second semi join, and the correlated scalar SUM as a grouped
    aggregate joined back on (partkey, suppkey) — no Subquery node may
    survive, and the composition may not fall back to nested loops or a
    cartesian."""
    plan = plan_of(spark, sf_dir, "q20_part_promotion_suppliers")
    assert "Subquery" not in plan  # fully decorrelated
    assert plan.count("LeftSemi") >= 2  # outer suppkey IN + inner partkey IN
    assert plan.count("HashAggregate") >= 2  # ps agg + correlated-sum agg
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q15_scans_lineitem_once(spark, sf_dir):
    """Q15's revenue view feeds both the candidate rows and the global
    MAX; the lazy localCheckpoint must pin it so the FINAL plan contains
    no lineitem scan at all (both consumers read the materialized
    |suppliers|-row aggregate) — without it the fact table is scanned
    twice (ReuseExchange does not fire across the broadcast boundary).
    The MAX-equality filter must stay a hash join, not a nested loop."""
    df = QUERIES["q15_top_supplier"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_s11_broadcasts_codebook_and_lut(spark, sf_dir):
    """IVF-PQ ADC must broadcast the codebook, LUT, and rerank candidate
    set (the BroadcastHashJoins below) — the only nested-loop is the
    allowlisted k-centroid assign/probe stage, and nothing may plan a
    cartesian product. The candidate scan must move codes, not vectors."""
    plan = plan_of(spark, sf_dir, "s11_ivfpq_adc")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # codes x lut, rerank joins
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q21_exists_rewrites_to_semi_and_anti(spark, sf_dir):
    """The correlated EXISTS / NOT EXISTS must rewrite to equi-keyed
    LeftSemi / LeftAnti hash joins carrying the suppkey<>suppkey residual —
    never nested loops (the residual is a post-condition, not the key)."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Engine-wide plan hygiene. Every non-streaming query's executed plan is
# scanned for the three 100 TB anti-patterns; the allowlists are the
# DOCUMENTED exceptions (broadcast-small-side scalar/centroid cross joins;
# shapely UDFs on dimension-scale geo tables — SURVEY §2.11). A new query
# that introduces a nested-loop join, cartesian product, or row-wise Python
# outside these lists fails here by name.
BNLJ_ALLOWED = {
    # broadcast of a 1-row scalar or a <=k-row query/centroid relation
    "s12_mips_topk",           # 5 broadcast query vectors x corpus scan (s1's shape)
    "s13_mips_ann",            # exact-audit arm: 5 broadcast queries x corpus scan
    "sk1_kmv_distinct",        # k-th minimum hash (1 row)
    "sk4_hll_distinct",        # 1-row register aggregate x 1-row exact count
    "mix3_temperature_sampling",  # mix normalizer (1 row)
    "mix4_epoch_repeat",       # epoch-plan normalizer (1 row)
    "mix5_unimax_budget",      # water-level theta (1 row)
    "mix6_dsir_importance",    # bucket-count totals (1 row)
    "a14_quality_dup_calibration",  # decile boundary row (1 row)
    "bm1_bm25_topk",           # corpus stats (1 row)
    "bm2_hybrid_rrf",          # corpus stats (1 row) + 3 query vectors
    "q11_important_stock",     # grand-total threshold (1 row)
    "d20_multiprobe_recall",   # 16 query vectors + 1-row x 1-row aggregates
    "d24_multiprobe_recall_hi",  # d20 shape at the production threshold
    "c4_training_manifest",    # epoch-plan normalizer (1 row, mix4 shape)
    "tx10_token_surprisal",    # corpus token total (1 row)
    "s1_cosine_topk",          # 5 query vectors
    "s4_ivf_ann",              # k centroids / probe cells
    "s7_ann_recall",           # 5 query vectors (s1-shape, twice)
    "s9_nprobe_sweep",         # k centroids x 3 probe widths (s4-shape, swept)
    "s11_ivfpq_adc",           # k centroids (s4-shape assign/probe stage)
    "v8_referential_integrity",  # 1-row count x 1-row orphan count per edge
    "v9_distribution_drift",   # 1-row totals + 1-row psi_total broadcasts
    "sk5_quantile_sketch",     # 3-row (q, rank) targets broadcast
}
# round 9: empty — the geo converters moved to Arrow-batched pandas UDFs
# (ArrowEvalPython), so NO query may evaluate row-at-a-time Python anymore
PY_ROW_ALLOWED: set[str] = set()


def test_geo_converters_are_arrow_batched(spark, sf_dir):
    """The geo UDFs must evaluate as Arrow batches (ArrowEvalPython), not
    row-at-a-time Python (BatchEvalPython) — round-9 close of the last
    per-row UDF in the engine (functions/geo.py)."""
    for name in ("g1_geojson_to_wkt", "g3_promote_multipolygon",
                 "g4_wkt_to_geojson"):
        plan = plan_of(spark, sf_dir, name)
        assert "ArrowEvalPython" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_every_query_plan_is_hygienic(spark, sf_dir):
    """No cartesian products anywhere; nested-loop joins and row-wise Python
    only on the documented allowlists. Streaming queries are audited
    separately (test_streaming_micro_batch_plans_are_hygienic) — their fn()
    executes a stream, so the plan must be captured from the run."""
    offenders = {}
    for name, spec in QUERIES.items():
        if name.startswith("st"):
            continue
        plan = plan_of(spark, sf_dir, name)
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            flags.append("nested-loop join")
        if "BatchEvalPython" in plan and name not in PY_ROW_ALLOWED:
            flags.append("row-wise Python")
        if flags:
            offenders[name] = flags
    assert not offenders, f"plan anti-patterns: {offenders}"


def test_streaming_micro_batch_plans_are_hygienic(spark, sf_dir):
    """Run every st* query and audit the plans it ACTUALLY executed:
    run_to_memory records the finished query's explainInternal (the
    micro-batch physical plan, incl. stateful operators) and the
    foreachBatch sinks record each batch DataFrame's executedPlan. A query
    that records no plan fails — capture failure cannot exempt it."""
    from nyc_open_data_pipeline_spark.streaming.windows import drain_stream_plans

    offenders = {}
    for name, spec in QUERIES.items():
        if not name.startswith("st"):
            continue
        drain_stream_plans()  # discard any plans from earlier tests
        spec.fn(spark, sf_dir).count()
        recorded = drain_stream_plans()
        if not recorded:
            offenders[name] = ["no executed plan recorded"]
            continue
        flags = []
        for pname, plan in recorded:
            if "CartesianProduct" in plan:
                flags.append(f"cartesian ({pname})")
            if "BroadcastNestedLoopJoin" in plan:
                flags.append(f"nested-loop join ({pname})")
            if "BatchEvalPython" in plan:
                flags.append(f"row-wise Python ({pname})")
        if flags:
            offenders[name] = flags
    assert not offenders, f"streaming plan anti-patterns: {offenders}"


def test_seq3_has_no_single_partition_stage(spark, sf_dir):
    """Curriculum ordering must be the two-pass range-partitioned global
    row_number — never a serial ORDER-BY-everything window. The range
    exchange lives inside the pinned localCheckpoint (see seq1's test);
    downstream it reads as Scan ExistingRDD with the __pid column."""
    plan = plan_of(spark, sf_dir, "seq3_curriculum_order")
    assert "SinglePartition" not in plan
    assert "existingrdd" in plan.lower() and "__pid" in plan


def test_q18_broadcasts_the_qualifying_key_set(spark, sf_dir):
    """The HAVING-filtered order-key set and the customer projection must
    both ride broadcasts — only the lineitem/orders aggregations shuffle."""
    plan = plan_of(spark, sf_dir, "q18_large_orders")
    assert plan.count("BroadcastHashJoin") >= 2


def test_d15_line_dedup_has_two_exchanges(spark, sf_dir):
    """Chunking is array math in the scan stage: the only exchanges are the
    keeper window (chunk_text) and the per-doc rebuild. A third exchange
    means somebody re-introduced an explode-groupBy chunker."""
    plan = plan_of(spark, sf_dir, "d15_line_dedup")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ts1_grid_derives_from_the_aggregate(spark, sf_dir):
    """Gap-fill grid must come from the aggregated frame: the facts are
    scanned once (into the checkpointed aggregate); the final plan must not
    contain a second parquet pass feeding spans/grid."""
    plan = plan_of(spark, sf_dir, "ts1_resample_gapfill")
    assert plan.count("events.parquet") <= 1


def test_fz1_blocking_is_an_equi_join(spark, sf_dir):
    """The block key must plan as a hash equi-join (Levenshtein runs as a
    post-join filter inside the block) — a nested-loop over all name pairs
    is the quadratic failure mode blocking exists to prevent."""
    plan = plan_of(spark, sf_dir, "fz1_fuzzy_match")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower()


def test_bench_headline_names_resolve():
    """A typo'd bench HEADLINE name silently drops the query from every
    future BENCH artifact; same for a renamed query leaving a stale entry
    behind. Pin: every headline name resolves, and the frozen cross-round
    subtotals are subsets of the headline."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert bench.CORE30 <= set(bench.HEADLINE)


def test_all_queries_registration_order_and_unique_short_names():
    """``all_queries()`` lists queries in registration order, and a call
    after the first is a registry copy: no per-call work over the
    queries' sources. The bench's ``query_secs`` and perfbench's specs key
    queries by short name (the prefix before the first ``_``), so a shared
    prefix would silently switch which query a short key names."""
    import time

    from nyc_open_data_pipeline_spark.plans import registry

    t0 = time.process_time()
    listed = all_queries()
    assert time.process_time() - t0 < 0.5
    assert list(listed) == list(registry._REGISTRY)
    shorts = [name.split("_", 1)[0] for name in QUERIES]
    assert len(set(shorts)) == len(shorts), sorted(
        s for s in set(shorts) if shorts.count(s) > 1
    )


def test_c5_cleanroom_v2_single_plan_composition(spark, sf_dir):
    """c5 must compose d21 -> tx14 -> exact dedup -> d19 drop -> d9 split
    into ONE Catalyst plan with no cartesian/nested-loop fallback, and the
    stage signatures must all be present: the boilerplate chunk-df join,
    the classifier's doc_id hash-aggregate, the keep-first window, and the
    near-dup left-anti join."""
    plan = plan_of(spark, sf_dir, "c5_cleanroom_v2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RowNumber" in plan or "row_number" in plan  # keep-first dedup
    assert "LeftAnti" in plan  # near-dup drop
    assert plan.count("Generate") >= 2  # chunk explode + n-gram explode


def test_relational_core_ansi_dual_run(spark, sf_dir, monkeypatch):
    """The engine pins ansi=false for T1's pandas-coercion parity; this
    dual-run proves the relational core is not silently DEPENDENT on
    non-ANSI semantics: q1/j2/a2/o3 must run and produce identical rows
    with ansi=true (no hidden invalid-cast-to-NULL, no overflow leniency
    in the aggregates). T1-family coercion queries are exempt by design —
    they document exactly the sites that need errors='coerce'."""
    from nyc_open_data_pipeline_spark import session
    from nyc_open_data_pipeline_spark.plans import all_queries
    from nyc_open_data_pipeline_spark.session import ensure_semantic_confs

    names = [
        "q1_pricing_summary",
        "j2_inner_join_broadcast",
        "a2_latest_per_key",
        "o3_dedup_keep_last",
    ]
    qs = all_queries()
    base = {
        n: sorted(tuple(r) for r in qs[n].fn(spark, sf_dir).collect())
        for n in names
    }
    monkeypatch.setitem(session.SEMANTIC_CONFS, "spark.sql.ansi.enabled", "true")
    try:
        for n in names:
            got = sorted(tuple(r) for r in qs[n].fn(spark, sf_dir).collect())
            assert spark.conf.get("spark.sql.ansi.enabled") == "true"
            assert got == base[n], f"{n} differs under ansi=true"
    finally:
        monkeypatch.undo()
        ensure_semantic_confs(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"


def test_smp2_kcenter_greedy_property(spark, sf_dir):
    """Farthest-point-first: each pick's covering radius is <= the previous
    pick's (greedy k-center's defining monotonicity), picks are distinct,
    and rank 1's radius equals the TRUE max distance to the seed."""
    from nyc_open_data_pipeline_spark.plans import all_queries

    rows = sorted(
        all_queries()["smp2_kcenter_sample"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.rnk for r in rows] == list(range(len(rows)))
    assert len({r.vec_id for r in rows}) == len(rows)
    assert rows[0].radius is None
    radii = [r.radius for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii


def test_seq4_epoch_shuffle_manifest_accounts_for_all_docs(spark, sf_dir):
    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.plans import all_queries

    out = all_queries()["seq4_epoch_shuffle"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in out) == docs.count()
    assert all(0 <= r.shard < 16 for r in out)
    # determinism: a second invocation reproduces every manifest fingerprint
    again = {
        r.shard: r.manifest_md5
        for r in all_queries()["seq4_epoch_shuffle"].fn(spark, sf_dir).collect()
    }
    assert {r.shard: r.manifest_md5 for r in out} == again


def test_v8_no_orphans_on_wellformed_corpus(spark, sf_dir):
    from nyc_open_data_pipeline_spark.plans import all_queries

    rows = all_queries()["v8_referential_integrity"].fn(spark, sf_dir).collect()
    assert len(rows) == 7
    assert all(r.n_orphans == 0 for r in rows), rows
    assert all(r.n_child > 0 for r in rows)


def test_d22_split_discriminates(spark, sf_dir):
    """The derived incoming/existing split must yield a NON-EMPTY survivor
    set on the fixture (round-6 ADVICE: the hardcoded 2500 split sat past
    max doc_id, so both engines returned 0 rows and the parity check
    discriminated nothing)."""
    from nyc_open_data_pipeline_spark.plans import all_queries

    assert all_queries()["d22_incremental_neardup"].fn(spark, sf_dir).count() > 0


def test_package_reads_only_deployment_env_vars():
    """No environment variable selects a plan or a table layout: the
    package reads only the four deployment settings (local width, master,
    UI, driver memory), so each query has one code path. Finds the
    string-literal keys of os.environ.get(...), os.environ[...] and
    os.getenv(...)."""
    import ast
    import pathlib

    import nyc_open_data_pipeline_spark as pkg

    def is_os(node) -> bool:
        return isinstance(node, ast.Name) and node.id == "os"

    def is_environ(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and is_os(node.value)
        )

    keys = set()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            key = None
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                f = node.func
                if (f.attr == "get" and is_environ(f.value)) or (
                    f.attr == "getenv" and is_os(f.value)
                ):
                    key = node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and is_environ(node.value):
                key = node.slice
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                keys.add(key.value)
    assert keys == {
        "SPARK_GRAFT_CPUS",
        "SPARK_MASTER",
        "SPARK_UI",
        "SPARK_DRIVER_MEMORY",
    }


def test_d26_substring_spans_match_bruteforce(spark, sf_dir):
    """d26's hashed-gram + gaps-and-islands pipeline must equal the
    definitionally brute-force computation — gram STRINGS (no hash),
    duplicate marking and run assembly in plain Python — span for span.
    Also certifies the md5-prefix gram keys introduce no collisions on
    the fixture."""
    from collections import defaultdict

    import duckdb

    from nyc_open_data_pipeline_spark.plans import all_queries
    from nyc_open_data_pipeline_spark.plans.llmdata import _D26_N, SQL_TOKENS

    got = {
        (r["doc_id"], r["start_pos"], r["end_pos"], r["span_len"])
        for r in all_queries()["d26_substring_dedup"].fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.sql(f"""
        SELECT doc_id, i AS p,
               array_to_string(list_slice(tk, i, i + {_D26_N - 1}), ' ') AS gram
        FROM (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
             UNNEST(generate_series(1, len(tk) - {_D26_N} + 1)) AS t(i)
        WHERE len(tk) >= {_D26_N}
    """).fetchall()
    docs_by_gram: dict = defaultdict(set)
    for d, _p, g in rows:
        docs_by_gram[g].add(d)
    dup_pos: dict = defaultdict(list)
    for d, p, g in rows:
        if len(docs_by_gram[g]) >= 2:
            dup_pos[d].append(p)
    expected = set()
    for d, ps in dup_pos.items():
        ps.sort()
        start = prev = ps[0]
        for p in ps[1:]:
            if p == prev + 1:
                prev = p
                continue
            expected.add((d, start, prev + _D26_N - 1, prev - start + _D26_N))
            start = prev = p
        expected.add((d, start, prev + _D26_N - 1, prev - start + _D26_N))
    assert got == expected


def test_d4_survivors_first_guard(spark, sf_dir):
    """survivors_first=True (round-10 verdict #6: the copy-heavy-corpus
    guard) must equal the raw d4 output restricted to pairs whose BOTH
    endpoints are exact-dedup keepers — same banding, same verify, minus
    the Θ(copies²) bulk that exact copies contribute."""
    from nyc_open_data_pipeline_spark.operators import dedup as DD
    from nyc_open_data_pipeline_spark.plans import llmdata

    raw = llmdata.d4_lsh_jaccard_pairs(spark, sf_dir).collect()
    surv = llmdata.d4_lsh_jaccard_pairs(
        spark, sf_dir, survivors_first=True
    ).collect()
    keep = {
        r["keep_id"]
        for r in DD.exact_dup_groups(
            llmdata.t(spark, sf_dir, "documents")
        ).collect()
    }
    raw_kk = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in raw
        if r["id_a"] in keep and r["id_b"] in keep
    }
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in surv}
    assert got == raw_kk
    assert len(surv) <= len(raw)


def test_smp2_declares_smp4_cutover_at_production_k():
    """Round-12 verdict #7: smp2 is the exact-order k-center variant with
    an O(k) driver loop — a user must not scale it by accident, so both
    its registry surface and its docstring must point at smp4 with the
    measured crossover."""
    spec = QUERIES["smp2_kcenter_sample"]
    assert "smp4" in spec.survey_ref, "registry surface must name the cutover"
    doc = spec.fn.__doc__ or ""
    assert "smp4" in doc and "CUTOVER" in doc.upper(), (
        "smp2 docstring must carry the measured cutover note"
    )


def test_q6_all_predicates_push_to_scan(spark, sf_dir):
    """Q6 is the pushdown audit query: date range, discount band, and
    quantity cap must ALL reach the parquet scan, with a 2-ish column
    read schema and a map-side partial before the 1-row exchange.
    The 5-predicate PushedFilters list overflows the default 100-char
    metadata truncation, so widen it for this assertion."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "PushedFilters: [" in plan
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, f"predicate not pushed: {frag}\n{plan}"
    assert "l_orderkey" not in plan  # column pruning reached the scan
    assert plan.count("HashAggregate") >= 2


def test_q8_broadcasts_all_dims_single_fact_exchange(spark, sf_dir):
    """Q8's five dimension attaches (part, supplier, nation x2, region)
    broadcast; lineitem><orders is the only shuffle join; the order-date
    window pushes into the orders scan."""
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q9_like_prunes_part_before_broadcast(spark, sf_dir):
    """Q9's LIKE filter evaluates in the part scan stage (StringContains
    pushed) so only matching parts broadcast; dims broadcast, one
    fact-fact exchange."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert "StringContains(p_name,bolt)" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q12_ship_window_pushes_and_one_exchange(spark, sf_dir):
    """Q12's one-year ship window prunes the lineitem scan; the cross-table
    lateness predicate evaluates post-join without breaking the single
    orderkey exchange; the CASE pivot shares one partial aggregate."""
    plan = plan_of(spark, sf_dir, "q12_shipmode_priority")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert plan.count("HashAggregate") >= 2


def test_smp4_is_takeordered_fixed_passes(spark, sf_dir):
    """smp4's scale contract: per-round candidate selection is
    TakeOrderedAndProject (per-partition heaps, no global corpus sort),
    centers ride as literals (no join operator anywhere), and the whole
    run costs exactly _KC4_ROUNDS collect passes regardless of k."""
    from nyc_open_data_pipeline_spark.plans.llmdata import (
        _KC4_L,
        _KC4_ROUNDS,
    )

    rows = QUERIES["smp4_kcenter_oversample"].fn(spark, sf_dir).collect()
    assert len(rows) == 1 + _KC4_ROUNDS * _KC4_L
    # seed has NULL radius; all selected radii are positive and, within a
    # round, were computed against the SAME center set (non-increasing
    # across rounds is the oversampling invariant)
    by_rnd: dict[int, list[float]] = {}
    for r in rows:
        if r["rnd"] > 0:
            by_rnd.setdefault(r["rnd"], []).append(r["radius"])
    maxes = [max(by_rnd[r]) for r in sorted(by_rnd)]
    assert maxes == sorted(maxes, reverse=True)


def test_load_table_two_roles_self_join_resolves(spark, sf_dir):
    """Round-13 regression pin for the schema-probe cache: two load_table
    calls for the same table must return relations whose attribute ids
    are distinct, so a two-role self-join (q8's nation x nation shape)
    still analyzes. A DataFrame-instance cache broke exactly this."""
    from nyc_open_data_pipeline_spark.catalog import load_table

    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation")
    joined = n1.join(n2, n1["n_regionkey"] == n2["n_nationkey"])
    assert joined.count() == n1.count()  # every region key is a nation key


def test_cache_build_accounting(spark, sf_dir):
    """The bench's cache_build_sec (round-14, VERDICT r13 #2) reports
    the cost of building session-shared intermediates that min-of-N would
    otherwise amortize into invisibility. Pin the accounting contract:
    a cold _hv_get build records seconds under its label, a warm hit
    records nothing, and drain empties the accumulator."""
    from nyc_open_data_pipeline_spark.cache import SESSION_CACHE
    from nyc_open_data_pipeline_spark.plans import llmdata as L
    from nyc_open_data_pipeline_spark.plans.common import drain_cache_build_secs

    drain_cache_build_secs()  # isolate from any prior builds in the session
    key_label = "ut_cache_build"
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("x").persist()

    df = L._hv_get(spark, sf_dir, key_label, build)
    assert df.count() == 5
    rec = drain_cache_build_secs()
    assert key_label in rec and rec[key_label] >= 0.0
    assert calls == [1]
    # warm hit: no rebuild, no new recording
    L._hv_get(spark, sf_dir, key_label, build)
    assert calls == [1]
    assert drain_cache_build_secs() == {}
    # drain is destructive; manual records accumulate per label
    SESSION_CACHE.record_build("ut_x", 0.5)
    SESSION_CACHE.record_build("ut_x", 0.25)
    assert drain_cache_build_secs() == {"ut_x": 0.75}
    df.unpersist()
    SESSION_CACHE.invalidate(
        ("_hv_get", spark.sparkContext.applicationId, sf_dir, key_label)
    )


def test_hv_get_concurrent_getters_build_once(spark, sf_dir):
    """Two threads asking for one key while its build runs must share one
    build and get the same object; without the cache lock both built, and
    the first built value was overwritten without being released."""
    import threading
    import time

    from nyc_open_data_pipeline_spark.cache import SESSION_CACHE
    from nyc_open_data_pipeline_spark.plans import llmdata as L

    label = "ut_concurrent_build"
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.3)
        return object()

    got = []
    threads = [
        threading.Thread(target=lambda: got.append(L._hv_get(spark, sf_dir, label, build)))
        for _ in range(2)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
    assert not any(th.is_alive() for th in threads)
    assert calls == [1]
    assert len(got) == 2 and got[0] is got[1]
    SESSION_CACHE.invalidate(
        ("_hv_get", spark.sparkContext.applicationId, sf_dir, label)
    )


def test_hv_get_concurrent_builds_record_each_label(spark, sf_dir):
    """Build-time accounting is per thread: a build on one thread that ends
    while another thread's build is running is still recorded (a
    process-wide nesting depth counted it as nested and lost it)."""
    import threading
    import time

    from nyc_open_data_pipeline_spark.cache import SESSION_CACHE
    from nyc_open_data_pipeline_spark.plans import llmdata as L
    from nyc_open_data_pipeline_spark.plans.common import drain_cache_build_secs

    drain_cache_build_secs()

    def getter(label, secs):
        def build():
            time.sleep(secs)
            return label

        return lambda: L._hv_get(spark, sf_dir, label, build)

    a = threading.Thread(target=getter("ut_thread_a", 0.3))
    b = threading.Thread(target=getter("ut_thread_b", 0.1))
    a.start()
    time.sleep(0.05)  # B starts while A's build is running
    b.start()
    for th in (a, b):
        th.join(timeout=10)
    assert not a.is_alive() and not b.is_alive()
    rec = drain_cache_build_secs()
    assert rec["ut_thread_a"] >= 0.3
    assert rec["ut_thread_b"] >= 0.1
    for label in ("ut_thread_a", "ut_thread_b"):
        SESSION_CACHE.invalidate(
            ("_hv_get", spark.sparkContext.applicationId, sf_dir, label)
        )


def test_session_cache_stale_entry_released_once(tmp_path):
    """Touching a file under sf_dir changes the corpus fingerprint: the next
    get rebuilds and runs the stale entry's release exactly once."""
    import os
    import time

    from nyc_open_data_pipeline_spark.cache import SessionCache

    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "t.parquet"
    f.write_bytes(b"x")
    cache = SessionCache()
    built, released = [], []

    def build():
        built.append(object())
        return built[-1]

    v1 = cache.get("k", build, sf_dir=str(sf), release=released.append)
    assert cache.get("k", build, sf_dir=str(sf), release=released.append) is v1
    assert released == []
    later = time.time() + 5  # past the filesystem's mtime resolution
    os.utime(f, (later, later))
    v2 = cache.get("k", build, sf_dir=str(sf), release=released.append)
    assert v2 is not v1 and len(built) == 2
    assert released == [v1]
    assert cache.get("k", build, sf_dir=str(sf), release=released.append) is v2
    assert released == [v1]
    cache.clear()
    assert released == [v1, v2]


def test_session_cache_threads_stress():
    """More threads than cores hammer a few keys under a short switch
    interval: each key builds once, and no recorded build second is lost."""
    import sys
    import threading
    import time

    from nyc_open_data_pipeline_spark.cache import SessionCache

    cache = SessionCache()
    built = []

    def build(k):
        built.append(k)
        time.sleep(0.01)  # let other threads reach the same key mid-build
        return k

    def worker():
        for i in range(200):
            k = i % 5
            assert cache.get(k, lambda: build(k), label=f"k{k}") == k
        for _ in range(2000):
            cache.record_build("manual", 1.0)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert sorted(built) == [0, 1, 2, 3, 4]
    secs = cache.drain_build_secs()
    assert secs["manual"] == 16 * 2000
    assert set(secs) == {"manual", "k0", "k1", "k2", "k3", "k4"}
