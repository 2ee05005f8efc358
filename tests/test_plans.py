"""Plan-shape assertions: the 100 TB design claims, checked against the
actual physical plans (the reference's analog is plan-compilation suites like
/root/reference/sql/core/src/test/scala/org/apache/spark/sql/TPCHQuerySuite.scala).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from contextlib import contextmanager

from sol_spark.plans import explain_formatted as _plan
from sol_spark.queries.tpch import q1, q3, q5, q6
from sol_spark.tables import load_tables


@contextmanager
def _sql_conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_q6_filter_pushdown(spark, sf_dir):
    """q6's predicates must reach the parquet scan (PushedFilters)."""
    plan = _plan(q6(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark, sf_dir):
    """q6 reads 4 of 11 lineitem columns — ReadSchema must be pruned."""
    plan = _plan(q6(spark, sf_dir))
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_broadcast_join(spark, sf_dir):
    """Dimension joins must be broadcast, not shuffled (SMJ)."""
    plan = _plan(q3(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = _plan(q5(spark, sf_dir))
    # 5 joins total; none should be a sort-merge join at these dim sizes.
    assert plan.count("BroadcastHashJoin") >= 4


def test_q3_topk_not_global_sort(spark, sf_dir):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition heap),
    the equivalent of the reference's TakeOrderedAndProjectExec
    (/root/reference/sql/core/.../limit.scala:124)."""
    plan = _plan(q3(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Aggregate must be two-phase (partial before shuffle, final after) —
    the map-side combine that keeps the q1 shuffle tiny."""
    plan = _plan(q1(spark, sf_dir))
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen(spark, sf_dir):
    """Narrow ops must fuse into WholeStageCodegen spans
    (reference WholeStageCodegenExec.scala:500). AQE only materializes the
    final (codegen'd) plan after execution, so execute first."""
    df = q6(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # Formatted explain marks codegen'd operators with '*'.
    assert "+- * " in plan or "WholeStageCodegen" in plan


def test_ssb_q4_2_all_dims_broadcast(spark, sf_dir):
    """SSB flight-4 touches all four dims; every dim join must broadcast so
    the only shuffles are the lineitem-orders spine and the final agg."""
    from sol_spark.queries.ssb import ssb_q4_2

    plan = _plan(ssb_q4_2(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """HLL++ estimate within 2% of exact at rsd=0.01."""
    t = load_tables(spark, sf_dir)
    row = (
        t["lineitem"]
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()[0]
    )
    assert abs(row.approx - row.exact) / row.exact < 0.02


def test_sample_seed_deterministic(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    a = t["lineitem"].sample(fraction=0.1, seed=42).count()
    b = t["lineitem"].sample(fraction=0.1, seed=42).count()
    assert a == b


def test_shuffle_hash_hint(spark, sf_dir):
    """join_shuffle_hash must actually plan as ShuffledHashJoin (reference
    joins/ShuffledHashJoinExec.scala:32) — hash-partition both sides, build
    on the hinted side, no sort."""
    from sol_spark.queries.relational import join_shuffle_hash

    plan = _plan(join_shuffle_hash(spark, sf_dir))
    assert "ShuffledHashJoin" in plan


def test_reused_exchange(spark, sf_dir):
    """A self-join of an aggregated subtree must shuffle ONCE: the second
    reference plans as ReusedExchange (reference ReuseExchange rule applied
    in QueryExecution.prepareForExecution). At 100 TB this halves the
    dominant shuffle of any self-comparison query."""
    t = load_tables(spark, sf_dir)
    a = t["lineitem"].groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    j = (
        a.alias("x")
        .join(a.alias("y"), "l_orderkey")
        .select("l_orderkey", (F.col("x.q") + F.col("y.q")).alias("qq"))
    )
    j.collect()  # materialize so the AQE final plan is available
    assert "ReusedExchange" in _plan(j)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Dynamic partition pruning (Spark 3 upgrade of the reference's static
    PruneFileSourcePartitions): a selective dim filter prunes fact
    partitions at RUNTIME via a reused broadcast — the scan must carry a
    dynamicpruning PartitionFilter, not read all partitions."""
    t = load_tables(spark, sf_dir)
    fact_dir = str(tmp_path / "events_by_type")
    t["events"].write.partitionBy("event_type").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # Filter on a NON-key column: a key-column literal would constant-fold
    # into a static partition filter, bypassing the runtime-pruning path.
    dim = spark.createDataFrame(
        [("purchase", 1.5), ("view", 1.0), ("click", 0.5)], "etype string, weight double"
    ).filter(F.col("weight") > 1.2)
    j = (
        fact.join(dim, fact["event_type"] == dim["etype"])
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("wsum"))
    )
    assert "dynamicpruning" in _plan(j).lower()
    assert j.collect()[0]["wsum"] is not None


def test_cache_in_memory_table_scan(spark, sf_dir):
    """df.cache() must plan subsequent reads as InMemoryTableScan over the
    columnar cache (reference columnar/InMemoryTableScanExec.scala:33)."""
    t = load_tables(spark, sf_dir)
    d = t["nation"].select("n_nationkey", "n_name").cache()
    try:
        d.count()  # materialize
        agg = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
        assert "InMemoryTableScan" in _plan(agg)
        assert agg.collect()[0]["n"] == 25
    finally:
        d.unpersist()


def test_observe_metrics(spark, sf_dir):
    """df.observe(): per-query metrics collected during execution without a
    second pass (the DataFrame-level face of the reference's SQLMetrics /
    AccumulatorV2 machinery) — the zero-cost way to count bad rows in a
    100 TB pipeline run."""
    from pyspark.sql import Observation

    t = load_tables(spark, sf_dir)
    obs = Observation("li_metrics")
    df = t["lineitem"].observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity")).alias("total_qty"),
    )
    expected = df.count()
    assert obs.get["n_rows"] == expected
    assert obs.get["total_qty"] > 0


def test_sql_entry_point_and_catalog(spark, sf_dir):
    """SQL string entry (reference SparkSession.sql -> parse/analyze against
    the SessionCatalog, SURVEY §3.1): temp views registered in the catalog,
    joined via spark.sql, result identical to the DataFrame formulation."""
    t = load_tables(spark, sf_dir)
    t["nation"].createOrReplaceTempView("v_nation")
    t["region"].createOrReplaceTempView("v_region")
    try:
        names = {tb.name for tb in spark.catalog.listTables()}
        assert {"v_nation", "v_region"} <= names
        got = spark.sql(
            """SELECT r.r_name, count(*) AS n FROM v_nation n
               JOIN v_region r ON n.n_regionkey = r.r_regionkey
               GROUP BY r.r_name ORDER BY r.r_name"""
        ).collect()
        want = (
            t["nation"]
            .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("r_name")
            .collect()
        )
        assert got == want
    finally:
        spark.catalog.dropTempView("v_nation")
        spark.catalog.dropTempView("v_region")


def test_fact_fact_not_broadcast(spark, sf_dir):
    """The broadcast threshold must NOT swallow fact-fact joins: orders ⋈
    lineitem (both above threshold at scale) plans as a shuffle join
    (SortMergeJoin or ShuffledHashJoin), never BroadcastHashJoin on the
    fact side — broadcasting a fact OOMs executors at 100 TB. Guarded here
    with the threshold forced low to model real fact sizes."""
    t = load_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t["orders"].join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        plan = _plan(j)
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sort_aggregate_chosen(spark, sf_dir):
    """SortAggregateExec pin (reference aggregate/SortAggregateExec.scala:33):
    with ObjectHashAggregate disabled, an object-buffer aggregate
    (collect_list) must fall back to sort-based aggregation — the reference's
    planner does the same for unhashable buffers (AggUtils)."""
    t = load_tables(spark, sf_dir)
    with _sql_conf(spark, "spark.sql.execution.useObjectHashAggregateExec", "false"):
        df = (
            t["lineitem"]
            .groupBy("l_returnflag")
            .agg(F.collect_list("l_linestatus").alias("statuses"))
        )
        plan = _plan(df)
        assert "SortAggregate" in plan
        assert df.count() == 3
    # Default path: same query plans as ObjectHashAggregate.
    df2 = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.collect_list("l_linestatus").alias("statuses"))
    )
    assert "ObjectHashAggregate" in _plan(df2)


def test_tpcds_star_plan_shape(spark, sf_dir):
    """tpcds_q3 must plan like a star: bounded dims broadcast (no shuffle of
    the fact for date_dim), partial+final hash aggregation, and top-100 as
    TakeOrderedAndProject — the plan stock TPC-DS gets on a warehouse-scale
    cluster."""
    from sol_spark.queries.tpcds import tpcds_q3

    plan = _plan(tpcds_q3(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_aqe_skew_join_split(spark):
    """AQE skew-join splitting (the upstreamed analog of the reference's
    adaptive shuffle machinery, SURVEY §4.2/§4.3): a sort-merge join where
    one key owns ~99% of the left side must show skew=true partitions in
    the final adaptive plan. This is the mechanism that keeps one hot key
    from serializing a 100 TB join on one reducer."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8k",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 100 < 99, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = left.join(right, "k")
        # collect() drives THIS DataFrame's QueryExecution (count() would
        # build a separate one, leaving this plan isFinalPlan=false).
        assert len(joined.collect()) > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rebalance_hint_aqe(spark, sf_dir):
    """REBALANCE hint (AQE-only, Spark 3.2+): requests evenly-sized output
    partitions via a runtime-coalesced shuffle — the write-path cure for
    the small-files problem at 100 TB (vs REPARTITION's fixed width). The
    hint must inject a RebalancePartitions exchange that AQE resolves."""
    t = load_tables(spark, sf_dir)
    df = spark.sql("SELECT /*+ REBALANCE(l_returnflag) */ l_returnflag, l_quantity FROM {li}", li=t["lineitem"])
    # Pre-execution: the logical hint must survive to the optimized plan.
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in optimized or "rebalance" in optimized.lower()
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final or "ShuffleExchange" in final


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime bloom-filter injection (Spark's InjectRuntimeFilter rule): for
    a shuffle join with a selective creation side, the optimizer builds a
    bloom_filter_agg over the dim keys and rewrites the fact scan's filter to
    might_contain(...), pre-filtering fact rows BEFORE the join shuffle. At
    100 TB this is the difference between shuffling every lineitem row and
    shuffling only candidate matches — the declarative analog of the
    reference's proactive shuffle-reduction goals (SURVEY §4.3). Thresholds
    are forced here because the fixture is tiny; cluster defaults
    (creationSideThreshold=10MB) fire on real dims automatically."""
    t = load_tables(spark, sf_dir)
    with (
        _sql_conf(spark, "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        _sql_conf(spark, "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"),
        _sql_conf(
            spark, "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        ),
        _sql_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"),
    ):
        o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            t["lineitem"]
            .hint("merge")
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy()
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan  # dim side builds the filter
        assert "might_contain" in plan  # fact side probes it pre-shuffle


def test_zorder_layout_file_skipping(spark, tmp_path):
    """The point of layout_zorder: after repartitionByRange on the Morton
    value, a box filter on (x, y) must touch a small fraction of files —
    file-level skipping on BOTH dimensions from ONE layout. Control case: a
    layout ranged on x alone gives no y-only skipping. Uses a synthetic
    256x256 grid so the geometry is exact."""
    from sol_spark.operators.layout import zorder_expr

    n_files = 16
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    (
        grid.withColumn("z", zorder_expr("x", "y"))
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(zdir)
    )
    grid.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(xdir)

    def files_touched(path: str) -> int:
        df = spark.read.parquet(path).filter(
            (F.col("x") >= 32) & (F.col("x") < 64) & (F.col("y") >= 32) & (F.col("y") < 64)
        )
        # row-group pruning happens below the plan; count distinct files that
        # actually produced surviving rows.
        return df.select(F.input_file_name().alias("f")).distinct().count()

    z_touched = files_touched(zdir)
    x_touched = files_touched(xdir)
    # A 1/8 x 1/8 box: the z-layout confines it to a compact curve range
    # (<= a quarter of files); the x-only layout localizes x but every
    # touched file spans all y values.
    assert z_touched <= n_files // 4, f"z-order touched {z_touched}/{n_files} files"
    # Sanity: both layouts return identical data.
    assert spark.read.parquet(zdir).count() == spark.read.parquet(xdir).count()


def test_join_strategy_hint_matrix(spark, sf_dir):
    """All four join-strategy hints steer the planner (reference
    ResolveJoinStrategyHints / JoinSelection): BROADCAST, MERGE,
    SHUFFLE_HASH, SHUFFLE_REPLICATE_NL each produce their operator for the
    same equi/cross join — the manual overrides a 100 TB operator needs
    when statistics mislead the cost model."""
    t = load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    cond = o["o_custkey"] == c["c_custkey"]
    cases = [
        ("broadcast", cond, "BroadcastHashJoin"),
        ("merge", cond, "SortMergeJoin"),
        ("shuffle_hash", cond, "ShuffledHashJoin"),
        ("shuffle_replicate_nl", None, "CartesianProduct"),
    ]
    for hint, on, op in cases:
        j = o.join(c.hint(hint), on) if on is not None else o.crossJoin(c.hint(hint))
        plan = _plan(j)
        assert op in plan, f"hint {hint}: expected {op} in plan"


def test_runtime_bloom_filter_semi_join_pushdown(spark, sf_dir):
    """A selective dim filter injects a runtime bloom filter onto the fact
    scan side of a shuffle join (InjectRuntimeFilter): the fact rows are
    pre-filtered by might_contain(bloom(p_partkey)) BEFORE the join
    exchange — at 100 TB this is the difference between shuffling the
    whole fact and shuffling the ~matching fraction. Pinned under a cloned
    session with broadcast disabled (a broadcast join already gets the
    same effect from the hash table itself)."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Fixture-sized scans sit far below the production thresholds; zeroing
    # the application-side bound exercises the real code path.
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    fact = s.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = s.read.parquet(f"{sf_dir}/part.parquet").where("p_size = 1")
    j = fact.join(dim, fact.l_partkey == dim.p_partkey).groupBy("p_brand").count()
    plan = j._jdf.queryExecution().executedPlan().toString().lower()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # and the filter applies on the FACT side, below the join
    assert plan.index("might_contain") > plan.index("hashaggregate")
    assert j.count() > 0


def test_centroid_assignment_shuffle_free(spark, sf_dir):
    """Nearest-centroid assignment (SemDeDup / IVF / k-means scoring) must
    be a pure projected argmax against the single broadcast centroid row —
    NO hash/range exchange anywhere in the assignment plan. The earlier
    row_number-over-vec_id form shuffled N x K embedding-carrying rows; at
    100 TB that exchange dominates the whole operator, while this form is
    one map-side pass (the only exchange allowed is the SinglePartition
    collect_list building the K-row broadcast payload)."""
    import re

    from sol_spark.operators.similarity import (
        _km_assign,
        _with_norm,
        assign_cells_cos,
    )

    emb = _with_norm(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    cent_cos = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 208)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cente"),
        F.col("nrm").alias("centn"),
    )
    cent_l2 = cent_cos.select("cent_id", "cente")
    for df in (
        assign_cells_cos(emb, cent_cos),
        _km_assign(emb.select("vec_id", "embedding"), cent_l2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = re.findall(r"Exchange (?:hash|range)partitioning", plan)
        assert not shuffles, f"assignment plan shuffles: {plan[:2000]}"
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert df.count() == emb.count()  # one assignment per vector


def test_geo_cell_join_is_equi_join_unpinned(spark, sf_dir):
    """The geo proximity joins must get their candidates from an EQUI-join
    on the wrapped (cy, cx) cell key — never a nested-loop/cartesian theta
    join — and must NOT pin a broadcast on the supplier side (it grows
    with SF; at 100x a forced broadcast exceeds what Spark would choose,
    so AQE picks broadcast-vs-shuffle at runtime). Accept either equi
    strategy; reject the join shapes that would scan all pairs."""
    from sol_spark.operators.geo import geo_nearest_supplier, geo_radius_join

    for fn in (geo_nearest_supplier, geo_radius_join):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # the supplier-side cell join must be hash/merge equi (any of these)
        assert any(
            op in plan
            for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        ), f"{fn.__name__}: no equi-join operator in plan"
        # the only nested-loop joins allowed are the constant-size offset
        # table: 3-row x 3-row range cross building it, then 9-row offsets
        # x customers exploding the neighborhood
        assert "CartesianProduct" not in plan, f"{fn.__name__}: cartesian product"
        nlj = plan.count("BroadcastNestedLoopJoin")
        assert nlj <= 2, f"{fn.__name__}: unexpected non-equi join fan-out"


def test_shard_balance_windows_partitioned(spark, sf_dir):
    """layout_shard_balance's global rank must decompose: the only
    UNPARTITIONED window in the plan runs over the tiny per-size histogram
    / shard-offset frames — the per-doc windows are partitioned by
    (n_chars, rshard). Assert the per-doc row_number window carries a
    partition spec, so no single-task pass over the corpus exists."""
    from sol_spark.operators.layout import layout_shard_balance

    plan = _plan(layout_shard_balance(spark, sf_dir))
    # The doc-level window is partitioned on the two-pass keys.
    assert "row_number" in plan
    assert "partitionBy" not in plan  # formatted explain spells windows as:
    # Window [row_number() ... windowspecdefinition(n_chars, rshard, ...)]
    assert "windowspecdefinition(n_chars#" in plan.replace("L", "")


def test_quantile_hist_column_pruned_scan(spark, sf_dir):
    """sketch_quantile_hist must read ONLY l_extendedprice from lineitem —
    the fixed-size-sketch path is pointless if the scan drags all 11
    columns along. r11: the operator materializes its scan passes eagerly
    (checkpointed sketch frames + bounded selection collects), so the
    RETURNED plan is scan-free; the pruning pin moves to the shared scan
    leg both passes select from, and the returned plan is pinned to touch
    no file at all (everything after construction is sketch-sized)."""
    from sol_spark.queries.relational import _qhist_values, sketch_quantile_hist

    scan_plan = _plan(_qhist_values(spark, sf_dir))
    schemas = [seg.splitlines()[0] for seg in scan_plan.split("ReadSchema: ")[1:]]
    assert any("l_extendedprice" in sc for sc in schemas)
    for sc in schemas:
        if sc == "struct<>":  # zero-column count-style scan
            continue
        assert sc == "struct<l_extendedprice:double>", sc
    plan = _plan(sketch_quantile_hist(spark, sf_dir))
    assert "Scan parquet" not in plan, "returned plan must be sketch-sized, scan-free"


def test_reconciliation_aggregates_before_join(spark, sf_dir):
    """dq_reconciliation must aggregate each side to RECON_BUCKETS rows
    BEFORE the full outer join — the fact tables never shuffle against
    each other. In the plan: both join children contain an aggregate, and
    the join itself is on the bucket key."""
    from sol_spark.operators.governance import dq_reconciliation

    plan = _plan(dq_reconciliation(spark, sf_dir))
    assert "FullOuter" in plan
    join_pos = plan.find("FullOuter")
    # Aggregates appear below (after, in formatted output) the join node.
    assert plan.count("HashAggregate", join_pos) >= 2


def test_fk_orphans_aggregates_child_before_join(spark, sf_dir):
    """dq_fk_orphans must collapse every child side to its distinct-key
    histogram BEFORE joining the parent keys: for each of the seven FK
    edges, the plan's join children contain aggregates (keys join keys —
    raw fact rows never shuffle against a dimension)."""
    from sol_spark.operators.governance import _FK_EDGES, dq_fk_orphans

    plan = _plan(dq_fk_orphans(spark, sf_dir))
    # one outer join per edge, each fed by >= 2 aggregates (child histogram
    # + the final accounting agg; parent distinct is an aggregate too)
    assert plan.count("Join LeftOuter") + plan.count("BroadcastHashJoin") >= len(_FK_EDGES)
    assert plan.count("HashAggregate") >= 3 * len(_FK_EDGES)


def test_two_stage_rerank_joins_candidates_not_corpus(spark, sf_dir):
    """sim_two_stage_retrieval's expensive cosine stage must be fed by the
    stage-1 candidate list: exactly ONE broadcast nested-loop join (the
    integer Hamming stage against the broadcast query words) — the rerank
    reaches the corpus through hash equi-joins on vec_id, never a second
    corpus-wide NLJ with float math."""
    from sol_spark.operators.similarity import sim_two_stage_retrieval

    import re

    plan = _plan(sim_two_stage_retrieval(spark, sf_dir))
    nlj_nodes = set(re.findall(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", plan))
    assert len(nlj_nodes) == 1, f"expected exactly one NLJ node, got {nlj_nodes}"
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_auc_window_is_partitioned(spark, sf_dir):
    """stats_auc_mannwhitney's rank window must run per source (the
    histogram frame), never as a global single-partition window."""
    from sol_spark.queries.relational import stats_auc_mannwhitney

    plan = _plan(stats_auc_mannwhitney(spark, sf_dir))
    assert "Window" in plan
    # the window spec carries the group key as its partition expression
    assert "windowspecdefinition(source" in plan


def test_minhash_pair_plan_scans_documents_once(spark, sf_dir):
    """The band rows carry the exact-Jaccard payload (n, hs), so the two
    sides of the band self-join read one exchange: after an action, the
    final adaptive plan scans ``documents`` once and every other copy is
    a ReusedExchange (no join back, no second shingle pipeline) — for the
    pair plan and for the two audits built on the same band join."""
    import re

    from sol_spark.operators.dedup import (
        _minhash_pairs_plan,
        dedup_cross_split_decontam,
        dedup_minhash_calibration,
    )

    for df in (
        _minhash_pairs_plan(spark, sf_dir).select("doc_a", "doc_b", "jaccard_bp"),
        dedup_minhash_calibration(spark, sf_dir),
        dedup_cross_split_decontam(spark, sf_dir),
    ):
        assert df.collect()
        final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        assert len(re.findall(r"Scan parquet [^\n]*documents", final)) == 1, final
        assert "ReusedExchange" in final, final


def test_local_finish_result_sorts_without_exchange(spark, sf_dir):
    """A local-finish result is one partition, which satisfies orderBy's
    ordered distribution: sorting it plans no Exchange (no sampling job,
    no range shuffle)."""
    from sol_spark.operators.dedup import dedup_clusters, graph_mst, release_result

    for build, key in ((dedup_clusters, ("doc",)), (graph_mst, ("doc_a", "doc_b"))):
        df = build(spark, sf_dir)
        try:
            out = df.orderBy(*key)
            assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
            rows = out.collect()
            assert rows and rows == sorted(rows, key=lambda r: tuple(r[k] for k in key))
        finally:
            release_result(df)


def test_clusters_edges_distinct_once_over_pair_plan(spark, sf_dir):
    """connected_components' edges0 over the MinHash pair plan aggregates
    once above the band join: RemoveRedundantAggregates drops the pair
    plan's own distinct, because the (u, v) distinct above it ignores
    duplicates. So dedup_clusters runs no second distinct shuffle."""
    from sol_spark.operators.dedup import _canonical_edges, _minhash_pairs_plan

    edges0 = _canonical_edges(_minhash_pairs_plan(spark, sf_dir).select("doc_a", "doc_b"))
    nodes = [
        line.lstrip(" :+-")
        for line in edges0._jdf.queryExecution().optimizedPlan().toString().splitlines()
    ]
    join = next(i for i, node in enumerate(nodes) if node.startswith("Join "))
    assert [n for n in nodes[:join] if n.startswith("Aggregate ")] == [nodes[0]], "\n".join(nodes)
