"""Physical-plan assertions: the scale properties we claim must be
visible in the actual plan (SURVEY.md §4; the .explain-and-iterate
discipline). These tests parse explain() output — they catch silent
regressions like a filter that stops pushing down or a dimension join
that stops broadcasting.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.plans import QUERIES
from tests.conftest import SF_CORRECT


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_push_into_scan(spark):
    plan = plan_of(QUERIES["filter_project_pushdown"](spark, SF_CORRECT))
    assert "PushedFilters:" in plan
    # Both range predicates and the quantity predicate reach the reader.
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    # Column pruning: the scan must read only the needed columns — the
    # wide ones (l_comment-style) must be absent from ReadSchema.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q3_broadcasts_customer(spark):
    plan = plan_of(QUERIES["q3_shipping_priority"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(QUERIES["q5_local_supplier_volume"](spark, SF_CORRECT))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_topk_is_take_ordered(spark):
    plan = plan_of(QUERIES["topk_orders"](spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan
    # i.e. NOT a global sort followed by limit
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_q1_partial_aggregation(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_CORRECT)
    df.collect()  # AQE: codegen ids only appear in the final plan
    plan = plan_of(df)
    # Two-phase agg: map-side partial + final after exchange.
    assert plan.count("HashAggregate") >= 2
    # Spark 4 formatted explain marks whole-stage-codegen membership as
    # "[codegen id : N]" per node — the agg pipeline must be codegen'd.
    assert "codegen id" in plan


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(QUERIES["range_join_order_buckets"](spark, SF_CORRECT))
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_and_anti_join_physical(spark):
    semi = plan_of(QUERIES["semi_join_open_customers"](spark, SF_CORRECT))
    anti = plan_of(QUERIES["anti_join_customers"](spark, SF_CORRECT))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_q6_filters_reach_scan(spark):
    plan = plan_of(QUERIES["q6_revenue_filter"](spark, SF_CORRECT))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 4-column projection: the scan must not read the rest of lineitem.
    assert "l_returnflag" not in read_schema
    assert "l_discount" in read_schema


def test_scalar_subquery_broadcasts_single_row(spark):
    """The global-mean subquery must join as a broadcast (one-row side),
    never a shuffle of part against itself."""
    plan = plan_of(QUERIES["scalar_subquery_above_avg"](spark, SF_CORRECT))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_full_outer_pre_aggregates(spark):
    """Both daily series must aggregate before the full outer join — the
    join's inputs are HashAggregates, not raw scans."""
    plan = plan_of(QUERIES["full_outer_daily_activity"](spark, SF_CORRECT))
    assert "FullOuter" in plan
    join_pos = plan.index("SortMergeJoin") if "SortMergeJoin" in plan else plan.index("Join")
    assert plan[:join_pos].count("HashAggregate") == 0 or plan.count("HashAggregate") >= 4


def test_media_meta_prunes_to_payload_columns(spark):
    plan = plan_of(QUERIES["multimodal_media_meta"](spark, SF_CORRECT))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The shuffle key for exact dedup must be the 64-char sha2, and the
    full text column must not survive past the scan projection."""
    plan = plan_of(QUERIES["dedup_exact_docs"](spark, SF_CORRECT))
    assert "sha2" in plan
    # partial agg before the exchange: text never shuffles
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange]


def test_salted_join_matches_plain_join(spark):
    """Salting must not change the join's row multiset — inner and left —
    on a deliberately skewed key distribution (90% one key)."""
    from collections import Counter

    from dwh_with_dask_spark.operators.joins import salted_join

    left = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (13, "cold"), (99999, "unmatched-right")], "k long, name string"
    )

    for how in ("inner", "left"):
        plain = Counter(
            (r["k"], r["v"], r["name"]) for r in left.join(right, "k", how).collect()
        )
        salted = Counter(
            (r["k"], r["v"], r["name"])
            for r in salted_join(left, right, "k", salt=8, how=how).collect()
        )
        assert salted == plain, how


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows must land in multiple salt buckets (the whole
    point): every salt value should see a share of the hot key."""
    from dwh_with_dask_spark.operators.joins import salted_join

    left = spark.range(0, 8000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(1, "hot")], "k long, name string")
    lsalted = left.withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
    buckets = {r["__salt"] for r in lsalted.select("__salt").distinct().collect()}
    assert buckets == set(range(8))
    assert salted_join(left, right, "k", salt=8).count() == 8000


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The other half of the skew story salted_join's docstring promises:
    on a sort-merge join whose build input has one hot key, AQE's
    skew-join handling must split the oversized partition at runtime
    (SortMergeJoin(skew=true) / skewed AQEShuffleRead in the FINAL plan).
    Production defaults need a >256 MB partition to trigger; the test
    lowers the thresholds to hit the same code path at test scale, and
    documents exactly which knobs govern it."""
    confs = {
        # a partition is "skewed" when > threshold AND > factor x median
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # force sort-merge: broadcast would dodge the skew entirely
        # (and IS the right first answer when the dim side fits)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("name")
        )
        joined = left.join(right, "k")
        # collect() (not count()) so THIS query execution finalizes and
        # its adaptive plan is inspectable
        n = len(joined.collect())
        # hot key 7: 198,000 left rows x 1 right row; cold: ids 99..1999
        # stepping 100 -> 20 matches
        assert n == 198_000 + 20
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q3_bucketed_fact_join_no_exchange(spark):
    """The 100 TB answer to Q3's data-proportional shuffle (VERDICT r13
    ask #4): with lineitem and orders stored bucketed on orderkey, the
    executed q3_shape plan must contain NO Exchange on the fact side —
    the fact join AND the l_orderkey aggregate both inherit the bucket
    partitioning; the only exchange left is the broadcast of the
    filtered customer dimension."""
    from dwh_with_dask_spark.plans.relational import q3_shape
    from dwh_with_dask_spark.sinks import write_bucketed_table
    from tests.conftest import SF_SMOKE

    try:
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        write_bucketed_table(li, "q3b_lineitem", ["l_orderkey"], num_buckets=8)
        write_bucketed_table(o, "q3b_orders", ["o_orderkey"], num_buckets=8)
        # Disable size-based broadcast so the fact join must pick SMJ —
        # the regime a 100 TB fact table is always in; the dimension is
        # broadcast EXPLICITLY, as q3 would at scale.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = q3_shape(
                spark.table("q3b_lineitem"),
                spark.table("q3b_orders"),
                F.broadcast(c),
            )
            rows = df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            # no shuffle anywhere on the fact side: not for the
            # li-orders join, not for the groupBy(l_orderkey, ...)
            assert "Exchange hashpartitioning" not in plan, plan
            assert "BroadcastExchange" in plan  # the dim, and only it
            # same answer as the plain-scan query
            want = QUERIES["q3_shipping_priority"](spark, SF_SMOKE).collect()
            assert [tuple(r) for r in rows] == [tuple(r) for r in want]
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS q3b_lineitem")
        spark.sql("DROP TABLE IF EXISTS q3b_orders")


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key must sort-merge join with NO
    Exchange on either side — the co-location contract that makes big-big
    joins shuffle-free at scale (write once bucketed, join many times)."""
    from dwh_with_dask_spark.sinks import write_bucketed_table

    try:
        orders = spark.range(0, 5000).select(
            F.col("id").alias("o_custkey"), (F.col("id") % 7).alias("o_flag")
        )
        cust = spark.range(0, 1000).select(
            F.col("id").alias("o_custkey"), F.concat(F.lit("c"), F.col("id")).alias("name")
        )
        write_bucketed_table(orders, "b_orders", ["o_custkey"], num_buckets=8)
        write_bucketed_table(cust, "b_cust", ["o_custkey"], num_buckets=8)

        a = spark.table("b_orders")
        b = spark.table("b_cust")
        # Disable broadcast so the planner must pick SMJ, the join type
        # bucketing de-shuffles.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "o_custkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_hypertable_rollup_reuses_minute_stage(spark):
    """The cascaded rollup must share the data-sized minute aggregate
    across the union branches: after execution, the adaptive plan shows
    ReusedExchange (AQE stage reuse) — the fact table is scanned and
    shuffled once, coarser levels fold bucket-sized partials."""
    from dwh_with_dask_spark.operators.rollup import hypertable_rollup

    from tests.conftest import SF_SMOKE
    from dwh_with_dask_spark.catalog import load_table

    e = load_table(spark, SF_SMOKE, "events")
    df = hypertable_rollup(e, "ts", ("event_type",), "value")
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    # sanity: every level present, counts consistent across levels
    by_level = {}
    for r in rows:
        by_level[r["level"]] = by_level.get(r["level"], 0) + r["n_events"]
    assert set(by_level) == {"minute", "hour", "day"}
    assert by_level["minute"] == by_level["hour"] == by_level["day"]


def test_q7_q8_broadcast_dims_no_cartesian(spark):
    """The deep multi-join queries must broadcast every dimension and
    never fall back to a cartesian product; the only data-sized shuffle
    is lineitem⋈orders."""
    from dwh_with_dask_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = (
            QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_gapfill_grid_crossjoin_broadcasts(spark):
    """The day×bucket densify grid in rolling_7d_distinct_users is a
    deliberate crossJoin of two tiny dimension frames; the broadcast
    hint must keep it a BroadcastNestedLoopJoin (plan-stable regardless
    of AQE) and never a partitioned CartesianProduct."""
    from dwh_with_dask_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    plan = (
        QUERIES["rolling_7d_distinct_users"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet + a partition-key filter must prune at
    planning time: the scan's PartitionFilters is non-empty and only the
    matching partition directory is read — the data-skipping contract
    that turns a 100 TB scan into a one-partition read."""
    from dwh_with_dask_spark.catalog import load_table
    from dwh_with_dask_spark.sinks import write_parquet
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_parquet(e, path, partition_by=["event_date"])

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("event_date") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must appear in PartitionFilters, not as a
    # post-scan Filter over all rows
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pf
    n_total_days = e.select("event_date").distinct().count()
    assert n_total_days > 1
    got_days = one_day.select("event_date").distinct().collect()
    assert [r["event_date"].isoformat() for r in got_days] == ["2024-01-02"]


def test_approx_percentile_tracks_exact(spark):
    """percentile_approx at accuracy 10000 must land within 0.5% of the
    exact sort-based percentiles on the orders table."""
    from dwh_with_dask_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    exact = {
        r["o_orderstatus"]: r
        for r in QUERIES["percentile_prices"](spark, SF_SMOKE).collect()
    }
    approx = {
        r["o_orderstatus"]: r
        for r in QUERIES["approx_percentile_prices"](spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(approx)
    for status, er in exact.items():
        ar = approx[status]
        for p in ("p25", "p50", "p75"):
            assert abs(ar[p] - er[p]) <= 0.005 * abs(er[p]), (status, p)


def test_bitmap_partials_are_storable_and_reaggregable(spark, tmp_path):
    """The claim behind bitmap_distinct_customers: materialize per-group
    per-bucket bitmaps ONCE, then answer a different distinct question
    (global cardinality) purely from the stored blobs — no rescan of the
    source, bitmap_or_agg merges partials exactly."""
    from dwh_with_dask_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    c = load_table(spark, SF_SMOKE, "customer")
    path = str(tmp_path / "bitmaps")
    (
        c.select(
            "c_mktsegment",
            F.expr("bitmap_bucket_number(c_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(c_custkey)").alias("pos"),
        )
        .groupBy("c_mktsegment", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .write.parquet(path)
    )

    stored = spark.read.parquet(path)
    got = (
        stored.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("merged"))
        .agg(F.sum(F.expr("bitmap_count(merged)")).alias("n"))
        .first()["n"]
    )
    want = c.select(F.countDistinct("c_custkey")).first()[0]
    assert got == want > 0


def test_tpch_extra_plan_shapes(spark):
    # The adapted TPC-H queries keep the original plan shapes: EXISTS
    # becomes a semi join with the lateness predicate folded into the
    # join, NOT EXISTS an anti join, top-k a TakeOrderedAndProject, and
    # nothing degenerates into a cartesian product.
    q4 = plan_of(QUERIES["q4_order_priority"](spark, SF_CORRECT))
    assert "LeftSemi" in q4
    assert "CartesianProduct" not in q4

    q10 = plan_of(QUERIES["q10_returned_items"](spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in q10
    assert "CartesianProduct" not in q10

    q22 = plan_of(QUERIES["q22_idle_rich_customers"](spark, SF_CORRECT))
    assert "LeftAnti" in q22
    # the scalar average is a 1-row broadcast, not a shuffled join
    assert "BroadcastNestedLoopJoin" in q22 or "BroadcastHashJoin" in q22


def test_q19_pushes_superset_filter_to_part_scan(spark):
    # The disjunctive brand x size x quantity predicate cannot push down
    # whole, but Catalyst extracts the common p_size/p_brand superset
    # bounds into the part scan.
    plan = plan_of(QUERIES["q19_disjunctive_revenue"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "Or(" in plan or "In(p_brand" in plan or "p_size" in plan


def test_q17_decorrelates_to_single_lineitem_reuse(spark):
    # The correlated AVG subquery must appear as a per-part aggregate
    # joined back on partkey — two scans of lineitem, no per-row
    # subquery nodes, no cartesian.
    plan = plan_of(QUERIES["q17_small_quantity_revenue"](spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") >= 2


def test_widen_adds_no_exchange_on_wide_input(spark):
    """VERDICT r5 ask #5: the text operators' repartition barrier must
    be scale-conditional — a source already at session parallelism
    passes through with NO added Exchange (only the free narrow
    coalesce barrier), while a narrow scan still widens."""
    from dwh_with_dask_spark.catalog import load_table
    from dwh_with_dask_spark.operators.partitioning import barrier, widen

    par = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    wide = d.repartition(par, F.col("doc_id"))
    out_wide = widen(wide, "doc_id")
    # no NEW shuffling repartition beyond the one the test created —
    # only the free narrow coalesce (Repartition shuffle=false)
    assert logical(out_wide).count("RepartitionByExpression") == logical(
        wide
    ).count("RepartitionByExpression")

    narrow = d.coalesce(1)
    out_narrow = widen(narrow, "doc_id")
    assert out_narrow.rdd.getNumPartitions() == par
    assert logical(out_narrow).count("RepartitionByExpression") == 1


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_ngram_jaccard_capped", "dedup_containment"],
)
def test_jaccard_plan_no_shingle_reshuffle(spark, name):
    """VERDICT r6 ask #2: watch the ACTUAL hazards of the Jaccard plan,
    not just exchange counts. Two invariants on each registry query
    built on the shared ``shingle_pairs`` shingle stage:

    1. No tokenize re-inlining: the `split(lower(text))` tokenize
       expression must be bound exactly once per `__toks` projection in
       the optimized plan — if CollapseProject inlines it into the gram
       lambda (interpreted, per-element) the split count exceeds the
       binding count and gram generation goes O(len²) per document.
    2. No exploded-shingle reshuffle: the exchange feeding the
       distinct must cluster on `id` only (satisfying
       ClusteredDistribution(id, shingle) via the subset rule). An
       exchange hash-partitioned on BOTH id and shingle means the
       exploded shingle rows — the widest table in the query — ride a
       second full shuffle (the round-6 sf0.1 regression: 14 vs 10
       exchanges, 1.28 s vs 0.53 s; BASELINE.md round-7 correction).
    """
    import re

    df = QUERIES[name](spark, SF_CORRECT)
    qe = df._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()

    n_tokenize = opt.count("split(lower(")
    n_bindings = len(re.findall(r"AS __toks#\d+", opt))
    assert n_tokenize == n_bindings > 0, (
        f"tokenize bound {n_tokenize}x for {n_bindings} __toks "
        "projections — re-inlined into a lambda or a post-Generate "
        "project (O(len²) hazard)"
    )

    phys = qe.executedPlan().toString()
    for line in phys.splitlines():
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", line)
        if m and "id#" in m.group(1):
            assert "shingle#" not in m.group(1), (
                "exploded shingle rows reshuffled on (id, shingle): "
                + line.strip()
            )


def test_widen_operator_results_partitioning_invariant(spark):
    """repetition_profile through the conditional path: wide and narrow
    inputs must produce identical rows (barrier preserves semantics)."""
    from dwh_with_dask_spark.catalog import load_table
    from dwh_with_dask_spark.operators.textstats import repetition_profile

    par = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_CORRECT, "documents")
    a = {
        r.doc_id: (r.top_unigram_frac, r.distinct_unigram_ratio)
        for r in repetition_profile(d.coalesce(1)).collect()
    }
    b = {
        r.doc_id: (r.top_unigram_frac, r.distinct_unigram_ratio)
        for r in repetition_profile(
            d.repartition(par, F.col("doc_id"))
        ).collect()
    }
    assert a == b


def test_wide_input_plan_has_no_text_shuffle(spark):
    """On a wide input, repetition_profile must not add a shuffling
    repartition of the document text — the old unconditional form
    always did; on a narrow input it must add exactly one."""
    from dwh_with_dask_spark.catalog import load_table
    from dwh_with_dask_spark.operators.textstats import repetition_profile

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    par = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_CORRECT, "documents")
    wide = d.repartition(par, F.col("doc_id"))
    # the only RepartitionByExpression is the test's own widening
    assert logical(repetition_profile(wide)).count("RepartitionByExpression") == 1
    # narrow input: the operator's conditional widening fires
    assert (
        logical(repetition_profile(d.coalesce(1))).count(
            "RepartitionByExpression"
        )
        == 1
    )


def test_duplicate_spans_plan_shape(spark):
    """No quadratic operators anywhere in the span-dedup plan, and the
    shuffled window stream must be fixed-width (id, pos, hash) — the
    text column must not survive past the explode."""
    from dwh_with_dask_spark.operators.dedup import duplicate_spans

    d = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(10)],
        "doc_id long, text string",
    )
    plan = plan_of(duplicate_spans(d, k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # exchanges carry h/pos/id only, never the document text: in the
    # formatted plan every "(n) Exchange" block's Input line lists the
    # columns that actually shuffle
    lines = plan.splitlines()
    exchanges = 0
    for i, line in enumerate(lines):
        if ") Exchange" in line:
            block = "\n".join(lines[i : i + 3])
            if "Input" in block:
                exchanges += 1
                assert "text#" not in block, block
    assert exchanges >= 1  # the h-shuffle must exist and be inspected


def test_pagerank_plan_lineage_is_pinned(spark):
    """Each iteration checkpoints: the returned ranks plan must be a
    flat scan of the pinned result (no join tower re-deriving K rounds
    from raw edges), with the persisted edge scope attached for
    caller-owned release."""
    from dwh_with_dask_spark.operators.caching import CacheScope, release_caches
    from dwh_with_dask_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    ranks = pagerank(e, weight="w", iters=2)
    try:
        plan = plan_of(ranks)
        assert "ExistingRDD" in plan          # localCheckpoint scan
        assert "Join" not in plan             # lineage truncated
        assert isinstance(
            getattr(ranks, "cache_scope", None), CacheScope
        )
    finally:
        release_caches(ranks)


def test_pq_probe_plan_is_python_free(spark):
    """The PQ/IVF-PQ PROBE must be pure Column over stored codes — no
    Arrow/Python evaluation anywhere in the probe plan (encode-time
    UDFs are build-time, never probe-time)."""
    import numpy as np

    from dwh_with_dask_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]
    books = S.pq_train(df, m=4, ksub=8)
    idx = S.build_pq_index(df, books)
    # materialize codes so the probe plan reads a static local relation
    stored = spark.createDataFrame(
        idx.select("vec_id", "pq_code").collect()
    )
    plan = plan_of(S.pq_topk_indexed(stored, books, q, k=5))
    assert "EvalPython" not in plan and "ArrowEval" not in plan

    idx2, cents, books2 = S.build_ivfpq_index(df, nlist=4, m=4, ksub=8)
    stored2 = spark.createDataFrame(
        idx2.select("vec_id", "ivf_cell", "pq_code").collect()
    )
    plan2 = plan_of(
        S.ivfpq_topk_indexed(stored2, cents, books2, q, k=5, nprobe=2)
    )
    assert "EvalPython" not in plan2 and "ArrowEval" not in plan2


def test_containment_plan_single_join_pass(spark):
    """dedup_containment emits BOTH directions from one symmetric
    common-count row (2-element explode): the executed plan must hold
    exactly ONE shingle-keyed self-join and two size joins — a naive
    union-of-directions would duplicate the whole join subtree (6
    joins). Also inherits the Jaccard family's shuffle invariant: the
    exploded shingle rows never reshuffle on (id, shingle)."""
    import re

    df = QUERIES["dedup_containment"](spark, SF_CORRECT)
    phys = df._jdf.queryExecution().executedPlan().toString()
    joins = [l for l in phys.splitlines() if re.search(r"HashJoin|SortMergeJoin", l)]
    assert len(joins) == 3, f"expected 3 joins (1 shingle + 2 sizes), got:\n" + "\n".join(joins)
    shingle_joins = [l for l in joins if "shingle#" in l]
    assert len(shingle_joins) == 1, shingle_joins
    for line in phys.splitlines():
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", line)
        if m and "id#" in m.group(1):
            assert "shingle#" not in m.group(1), line.strip()


def test_ngram_decontaminate_plan_split_is_joinless(spark):
    """The split tag is a pure function of the id, so the executed plan
    must contain exactly TWO joins — the eval-gram LeftSemi and the
    final hits-to-sizes join. A split computed on the documents table
    and joined back would add a third."""
    import re

    df = QUERIES["corpus_ngram_decontaminate"](spark, SF_CORRECT)
    phys = df._jdf.queryExecution().executedPlan().toString()
    joins = [l for l in phys.splitlines() if re.search(r"HashJoin|SortMergeJoin", l)]
    assert len(joins) == 2, "\n".join(joins)
    assert sum("LeftSemi" in l for l in joins) == 1, "\n".join(joins)


def test_token_budget_plan_no_per_source_window(spark):
    """The token-budget running sum must never run as a per-source
    window (one task per source at corpus scale): every Window in the
    executed plan partitions by the physical slice id (__pid) alongside
    source — bounded by partition size — and no exchange
    hash-partitions on source alone."""
    import re

    df = QUERIES["corpus_token_budget_mixture"](spark, SF_CORRECT)
    phys = df._jdf.queryExecution().executedPlan().toString()
    windows = [l for l in phys.splitlines() if "windowspecdefinition" in l]
    assert windows, "expected a window in the plan"
    for l in windows:
        assert "__pid" in l, f"per-source-only window: {l.strip()[:140]}"
    for l in phys.splitlines():
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", l)
        if m and "source#" in m.group(1):
            assert "__pid" in m.group(1), l.strip()[:140]
