"""Physical-plan quality gates: the properties that make the 100 TB story
real, asserted on the actual Catalyst output so a regression (a lost
pushdown, a join that silently degrades to cartesian, Python creeping
into a hot path) fails CI — not just the benchmark.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.queries import QUERIES
from tests.conftest import SF_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_parquet_scan_pushdown(spark):
    """Filters and projection must reach the parquet reader."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_quantity", "l_returnflag"
    )
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: exactly the 3 referenced columns in ReadSchema
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_quantity" in read_schema and "l_shipdate" in read_schema
    assert "l_extendedprice" not in read_schema


def test_small_dims_broadcast(spark):
    """nation/region joins must be broadcast, never shuffled."""
    plan = _plan(QUERIES["q5_local_supplier_volume"].spark(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_flagship_join_no_cartesian(spark):
    plan = _plan(QUERIES["q3_shipping_priority"].spark(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_topk_avoids_global_sort(spark):
    """Global top-n must plan as TakeOrderedAndProject (heap per partition
    + driver merge of k rows), not a full Sort + Limit."""
    plan = _plan(QUERIES["q_global_topn"].spark(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan


def test_conversion_path_shuffle_free(spark, tmp_path):
    """No data shuffle in Avro→Parquet conversion: decode → project →
    write scales linearly with executors, ON BOTH ENGINES. Python codec:
    no Exchange either — the split list rides the closure of the
    ``spark.range`` job below the MapInArrow decode (``fs.map_in_tasks``).
    JVM DSv2 scan (the
    engine=auto choice for this fixture since the r9 stringify
    alignment): no Exchange anywhere — splits come from the source."""
    from muninn_avro_to_parquet_spark import convert
    from tests.test_convert import _write_fixture

    _write_fixture(tmp_path)
    pattern = str(tmp_path / "avro" / "**" / "*.avro")
    auto_plan = _plan(convert.convert_df(spark, pattern))
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        py_plan = _plan(convert.convert_df(spark, pattern))
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    assert "MapInArrow" in py_plan
    assert "Exchange" not in py_plan
    if "BatchScan" in auto_plan:  # jar loaded: JVM scan, zero exchanges
        assert "Exchange" not in auto_plan
    else:  # no jar in this session: auto == python
        assert "MapInArrow" in auto_plan


def _typed_decode_fixture(tmp_path) -> str:
    """One CDC file with a column for each coercion the Python codec
    makes: a bytes decimal, a numeric decimal, timestamp-millis,
    timestamp-micros, a date, and a record whose timestamp-millis member
    makes it a STRUCT_CAST column."""
    from muninn_avro_to_parquet_spark.sources import avro_io

    def nullable(logical: dict) -> list:
        return ["null", logical]

    payload = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "dec_bytes", "type": nullable(
                {"type": "bytes", "logicalType": "decimal", "precision": 38, "scale": 30})},
            {"name": "dec_num", "type": nullable({"type": "double", "logicalType": "decimal"})},
            {"name": "ts_ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "ts_us", "type": nullable({"type": "long", "logicalType": "timestamp-micros"})},
            {"name": "day", "type": nullable({"type": "int", "logicalType": "date"})},
            {"name": "nested", "type": {"type": "record", "name": "inner", "fields": [
                {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                {"name": "n", "type": "long"},
            ]}},
        ],
    }
    schema = {
        "type": "record",
        "name": "cdc",
        "fields": [
            {"name": "source_metadata", "type": ["null", "string"]},
            {"name": "payload", "type": ["null", payload]},
        ],
    }
    rows = [
        {"source_metadata": None, "payload": {
            "id": 1,
            "dec_bytes": (1234567890 * 10**21).to_bytes(16, "big", signed=True),
            "dec_num": 2.5,
            "ts_ms": 1_700_000_000_123,
            "ts_us": 1_700_000_000_123_456,
            "day": 19_000,
            "nested": {"at": -1, "n": 7},
        }},
        {"source_metadata": None, "payload": {
            "id": 2, "dec_bytes": None, "dec_num": None, "ts_ms": 0,
            "ts_us": None, "day": None, "nested": {"at": 0, "n": 0},
        }},
        {"source_metadata": None, "payload": None},
    ]
    path = str(tmp_path / "typed.avro")
    avro_io.write_file(path, schema, rows)
    return path


def test_python_codec_decodes_typed_in_one_python_hop(spark, tmp_path, monkeypatch):
    """The Python codec's decode emits every column in its target type, so
    its read is one MapInArrow with no Python evaluation after it and no
    exchange — for ``read_avro(engine="python")`` and for the frame its
    ``convert_paths`` writes — and the typed values are the reference's."""
    from decimal import Decimal

    from muninn_avro_to_parquet_spark import convert
    from muninn_avro_to_parquet_spark.plans.explain import operator_counts
    from muninn_avro_to_parquet_spark.sources import avro_source

    path = _typed_decode_fixture(tmp_path)
    want = {"ArrowEvalPython": 0, "BatchEvalPython": 0, "MapInArrow": 1, "Exchange": 0}

    df = avro_source.read_avro(spark, [path], engine="python")
    counts = operator_counts(_plan(df))
    assert {op: counts[op] for op in want} == want, counts

    written = []
    real_write = convert._write_table_output

    def capture(df, *args, **kwargs):
        written.append(df)
        return real_write(df, *args, **kwargs)

    monkeypatch.setattr(convert, "_write_table_output", capture)
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        n = convert.convert_paths(
            spark, "typed", [path], str(tmp_path / "out"), ingestion_date="2026-01-02"
        )
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    assert n == 3 and len(written) == 1
    counts = operator_counts(_plan(written[0]))
    assert {op: counts[op] for op in want} == want, counts

    rows = {
        r["id"]: r
        for r in df.select(
            "id", "dec_bytes", "dec_num",
            F.unix_micros("ts_ms").alias("ts_ms"),
            F.unix_micros("ts_us").alias("ts_us"),
            F.unix_date("day").alias("day"),
            F.unix_micros("nested.at").alias("at"),
            "nested",
        ).collect()
    }
    assert rows[1].asDict() == {
        "id": 1, "dec_bytes": Decimal("1.234567890"), "dec_num": Decimal("2.500000000"),
        "ts_ms": 1_700_000_000_123_000, "ts_us": 1_700_000_000_123_456, "day": 19_000,
        "at": -1000, "nested": rows[1]["nested"],
    }
    assert rows[1]["nested"]["n"] == 7
    assert rows[2]["dec_bytes"] is None and rows[2]["ts_us"] is None
    assert rows[2]["ts_ms"] == rows[2]["at"] == 0
    assert rows[None]["nested"] is None  # a null payload nulls every column


def test_convert_write_has_no_sort(spark, tmp_path):
    """Every row of a convert shares one ingestion_date, so the write goes
    straight into the partition directory: no dynamic-partition ``Sort``
    on the constant column buffering each task's input before its first
    row is written. Read from the executed write plans in the SQL status
    store, on both engines."""
    import re

    from muninn_avro_to_parquet_spark import convert
    from tests.test_convert import _write_fixture

    _write_fixture(tmp_path)
    pattern = str(tmp_path / "avro" / "**" / "*.avro")
    store = spark._jsparkSession.sharedState().statusStore()

    def write_plans(out: str) -> list[str]:
        seen = {e.executionId() for e in _scala_list(store.executionsList())}
        convert.convert(spark, pattern, out, ingestion_date="2026-01-02")
        return [
            e.physicalPlanDescription()
            for e in _scala_list(store.executionsList())
            if e.executionId() not in seen
            and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
        ]

    plans = write_plans(str(tmp_path / "out_auto"))
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        plans += write_plans(str(tmp_path / "out_python"))
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")
    assert len(plans) >= 2
    for plan in plans:
        assert "WriteFiles" in plan, plan
        assert not re.search(r"\bSort\b", plan), plan
        assert "ingestion_date=2026-01-02" in plan, plan


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def test_text_ops_stay_jvm_side(spark):
    """Pure-expression text operators must not plan Python evaluation."""
    for name in ["text_token_count", "text_quality", "text_langid", "doc_fingerprint"]:
        plan = _plan(QUERIES[name].spark(spark, SF_CORRECT))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_agg_is_partial_then_final(spark):
    """Aggregations must combine map-side: partial_sum before the single
    hash exchange, final HashAggregate after — shuffle volume is one row
    per (task, group), not per input row."""
    plan = _plan(QUERIES["q1_pricing_summary"].spark(spark, SF_CORRECT))
    assert "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_lsh_join_is_equi_join(spark):
    """LSH candidate pairing must be an equi-join on the band key."""
    plan = _plan(QUERIES["dedup_minhash_lsh_pairs"].spark(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_dims_all_broadcast(spark):
    """The 7-way market-share join must resolve every dim join as a
    broadcast — exactly one fact-side hash shuffle survives."""
    plan = _plan(QUERIES["q8_market_share"].spark(spark, SF_CORRECT))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_q19_disjunction_reaches_scan(spark):
    """q19's OR-of-brands prune must push to the parquet scan as an In
    filter when reading the raw table (the registry's cached views hide
    the scan, so assert on the uncached read the query is built from)."""
    p = spark.read.parquet(f"{SF_CORRECT}/part.parquet").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    plan = _formatted(p)
    pushed = plan.split("PushedFilters", 2)[-1][:500]
    assert "p_brand" in pushed and ("In(" in pushed or "Or(" in pushed)


def test_q22_anti_join_planned(spark):
    """Dormant-customer exclusion must plan as a real anti join (hash or
    broadcast), and the one-row scalar-avg comparison may be the only
    nested-loop join in the tree."""
    plan = _plan(QUERIES["q22_dormant_customers"].spark(spark, SF_CORRECT))
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_quality_filter_single_tokenizer_evaluation(spark):
    """Regression gate for text.filter_once: without the Generate barrier,
    predicate pushdown substitutes the score alias into the scan predicate
    and the plan carries ~25 copies of the regex tokenizer (r4 measured 3×
    the unfiltered runtime). The barrier plan tokenizes once."""
    plan = _plan(QUERIES["doc_quality_filter"].spark(spark, SF_CORRECT))
    assert plan.count("regexp_replace") <= 3, plan.count("regexp_replace")
    assert "Generate explode" in plan


def test_hyperplane_single_pass_and_no_requantize(spark):
    """ann_topk_lsh: the H plane dots fold in ONE aggregate over the
    quantized vector (not one traversal per plane), and the bucketing
    pass's quantization is reused by the norm pass."""
    plan = _plan(QUERIES["ann_topk_lsh"].spark(spark, SF_CORRECT))
    # the per-plane form carries ~8 bucket aggregates per side (16+ total);
    # the one-pass fold keeps the plan under 10 aggregate() nodes
    assert plan.count("aggregate(") <= 10, plan.count("aggregate(")


def test_approx_distinct_no_expand(spark):
    """COUNT(DISTINCT) is kept in its own pass: the combined form goes
    through the distinct-rewrite Expand, multiplying every input row
    through the object aggregation (5-12 s vs 1.7 s at sf0.1)."""
    plan = _plan(QUERIES["q_approx_distinct"].spark(spark, SF_CORRECT))
    assert "Expand" not in plan


def test_q16_not_in_is_broadcast_anti_join(spark):
    """NOT IN over a non-null key must plan as a broadcast LEFT ANTI join
    (never a nested-loop or a shuffled anti over lineitem)."""
    plan = _plan(QUERIES["q16_supplier_count"].spark(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    """Both IN subqueries must plan as LEFT SEMI joins — the part filter
    into lineitem and the qualifying-supplier set into supplier."""
    plan = _plan(QUERIES["q20_heavy_shippers"].spark(spark, SF_CORRECT))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_q21_decorrelation_no_nested_loop(spark):
    """The EXISTS/NOT-EXISTS pair is decorrelated into one per-order
    aggregate + semi join: no nested-loop join, no cartesian, and the
    only self-reference to lineitem goes through the aggregate."""
    plan = _plan(QUERIES["q21_waiting_suppliers"].spark(spark, SF_CORRECT))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_decorrelated(spark):
    """The correlated MIN subquery runs as an aggregate + equi-join;
    part/region/nation all broadcast."""
    plan = _plan(QUERIES["q2_min_cost_supplier"].spark(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_rules_shuffle_free(spark):
    """The Gopher rule suite is a pure projection: no aggregation, no
    join, no shuffle beyond the cached-view scan."""
    plan = _plan(QUERIES["text_gopher_rules"].spark(spark, SF_CORRECT))
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_semantic_dedup_pairs_are_equi_join(spark):
    """SemDeDup's pair generation must be an equi-join on centroid_id —
    the only nested-loop allowed is the broadcast centroid-assignment
    cross join (C centroids vs corpus), and the cached assignment feeds
    both pair sides, so that cross join appears exactly once."""
    plan = _plan(QUERIES["semantic_dedup"].spark(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    # the assignment relation is cached once and read by both pair sides
    # (the BroadcastNestedLoopJoin text appears inside each InMemoryRelation
    # printout, but only the cached subtree actually executes it — the
    # cache reads are the signal that the O(N·C) pass is shared)
    assert plan.count("InMemoryTableScan") >= 2
    assert "centroid_id" in plan


def test_lateral_subquery_decorrelates_to_window(spark):
    """The SQL-surface LATERAL top-2 must decorrelate into ONE window pass
    + equi-join — never a per-outer-row re-execution (nested loop)."""
    plan = _plan(QUERIES["q_lateral_topk"].spark(spark, SF_CORRECT))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Spark's runtime bloom-filter injection (the AQE-era runtime filter):
    a selective dimension-side filter on a shuffle join should inject
    `bloom_filter_might_contain` on the fact side, pruning probe rows
    BEFORE the exchange — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the matching slice.
    Size thresholds are lowered for the test corpus; the assertion is on
    plan shape, which is scale-independent."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_join_is_blocked_equi_join(spark):
    """The fuzzy join must pair only within blocks (equi-join on the
    block key) with levenshtein evaluated JVM-side on the joined rows —
    never a cartesian/nested-loop over the whole relation, never a
    Python UDF."""
    plan = _plan(QUERIES["q_fuzzy_join_parts"].spark(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan


def test_target_mixture_corpus_side_unshuffled(spark):
    """Mixture resampling must join the tiny per-stratum count relation
    back onto the corpus as a BROADCAST (the corpus side must not
    shuffle for a 2-row dimension), and the keep filter must be decimal
    arithmetic in the plan, not a Python UDF."""
    plan = _plan(QUERIES["sample_target_mixture"].spark(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # corpus side: documents scan feeds the broadcast join directly —
    # no Exchange between the scan and the first join
    assert "SortMergeJoin" not in plan


def test_ntile_deciles_no_single_partition_window(spark):
    """q_ntile_deciles must not funnel the relation through an
    empty-partition global window (Exchange SinglePartition + the
    `WindowExec: No Partition Defined` warning): the rank comes from
    the range-partitioned global_row_number and the decile from
    arithmetic on (rank, N)."""
    plan = _plan(QUERIES["q_ntile_deciles"].spark(spark, SF_CORRECT))
    assert "Exchange SinglePartition" not in plan
    assert "ntile" not in plan  # the bucket is arithmetic, not a window fn
    assert "Exchange rangepartitioning" in plan  # the distributed sort


def test_training_order_no_per_source_window(spark):
    """training_order must never rank a source through ONE task: source
    cardinality is single digits, so ``Window.partitionBy(source)`` puts
    an entire tens-of-TB source on one executor at 100 TB. Both the
    within-source rank and the global step must come from the
    range-partition + offset technique — every window in the plan is
    partitioned by the physical partition id, never by source alone."""
    plan = _plan(QUERIES["q_training_order"].spark(spark, SF_CORRECT))
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" in plan
    specs = [
        l for l in plan.splitlines() if "windowspecdefinition(" in l
    ]
    assert specs, "expected window specs in the training_order plan"
    for line in specs:
        spec = line[line.index("windowspecdefinition(") :]
        assert "_pid" in spec, f"window not partitioned by _pid: {line}"


def test_triangles_all_equi_joins(spark):
    """Triangle enumeration must stay equi-join shaped: wedge join on the
    middle node + closing LEFT-SEMI join — no cartesian, no nested loop,
    no Python."""
    plan = _plan(QUERIES["dedup_graph_triangles"].spark(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "LeftSemi" in plan


def test_random_projection_shuffle_free(spark):
    """The JL projection is a pure codegen projection: the only exchange
    allowed below the explode is none at all (scan → project → generate)."""
    from muninn_avro_to_parquet_spark.operators import similarity

    proj = similarity.random_projection(
        spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet"), dim=64, out_dim=16
    )
    plan = _plan(proj)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """The co-located-join technique the 100 TB story leans on: two fact
    tables written with bucketBy(8, key) + sortBy(key) join WITHOUT any
    Exchange — bucket pruning replaces the shuffle entirely (at 100 TB
    this is the difference between a join that moves both relations and
    one that moves nothing)."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    try:
        (
            spark.range(0, 10_000)
            .selectExpr("id AS k", "id * 2 AS va")
            .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(ta)
        )
        (
            spark.range(0, 10_000)
            .selectExpr("id AS k", "id * 3 AS vb")
            .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(tb)
        )
        # hint("merge") keeps AQE from broadcasting the (tiny) test
        # relation — at real fact-fact scale SMJ is what the planner
        # picks anyway, and SMJ over matching bucket specs is the
        # exchange-free case being gated
        joined = spark.table(ta).join(spark.table(tb).hint("merge"), "k")
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == 10_000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling — the runtime half of the engine's skew
    story (the static half is operators/skew.salted_join): a 90%-hot key
    lands one shuffle partition far above the skew threshold, and the
    FINAL adaptive plan must show the sort-merge join running in skew
    mode (`skew=true`) with the skewed partition split into sub-reads
    instead of one straggler task. Thresholds are lowered for the test
    corpus; the assertion is on the executed-plan shape (and the exact
    join cardinality, so the split is also proven lossless)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x"), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(5000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        # 180000 hot rows match k=7; cold rows k=id%10==9 match iff k<5000
        assert len(j.collect()) == 180500
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead reports the split reads
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gapfill_broadcasts_the_aggregate(spark):
    """q_date_spine_gapfill: the broadcast must actually happen — the r9
    version hinted the LEFT (preserved) side of a left-outer join, which
    Spark cannot build (build-right is only legal for left-outer,
    build-left for right-outer), so the hint was silently dropped and a
    shuffle join ran (15 HintErrorLogger warnings in the r9 bench). The
    fixed plan broadcasts the domain-bounded AGGREGATE side as
    BuildRight; no sort-merge/shuffled-hash join may appear."""
    plan = _plan(QUERIES["q_date_spine_gapfill"].spark(spark, SF_CORRECT))
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert any("LeftOuter" in l and "BuildRight" in l for l in bhj), plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_kafka_cdc_decode_has_no_exchange(spark):
    """The topic-shaped CDC decode (r13) must stay embarrassingly
    parallel: producer mapInPandas → typed decode mapInArrow
    with ZERO exchanges — at 100 TB of topic backlog the decode
    parallelism is the partition count, exactly like the file path's
    splits, and any Exchange here would serialize the envelope bytes
    through a shuffle for nothing."""
    plan = _plan(QUERIES["q_kafka_cdc_envelope"].spark(spark, SF_CORRECT))
    # RoundRobin exchanges are the table-fixture repartition the
    # registry views carry (tables.register_views) — when the view got
    # cached by an earlier test its InMemoryRelation description prints
    # a second copy of that same node. The decode path itself must add
    # NO exchange of any kind: no hash, no range.
    exchanges = [
        l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    ]
    assert all("RoundRobinPartitioning" in l for l in exchanges), plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "MapInPandas" in plan and ("MapInArrow" in plan or "PythonMapInArrow" in plan)


def test_countmin_build_is_map_side_combined(spark):
    """count_min_build must plan scan → explode → partial aggregate →
    one hash exchange of COUNTER partials (≤ depth×width rows) → final
    aggregate: the corpus rows themselves never shuffle."""
    from muninn_avro_to_parquet_spark.operators import sketches
    from muninn_avro_to_parquet_spark.operators.text import tokens

    tok = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
    )
    plan = _plan(sketches.count_min_build(tok, "token", depth=3, width=256))
    # partial_ aggregate before the exchange = map-side combine
    assert "partial_sum" in plan or "partial" in plan.lower(), plan
    assert plan.count("Exchange") == 1, plan


def test_fuzzy_dp_evaluated_once(spark):
    """r14: the thresholded Levenshtein DP must appear EXACTLY once in
    the executed plan — the old withColumn + two-sided filter let
    Catalyst substitute it into the BroadcastHashJoin condition, running
    the DP twice per candidate (plus once more in the projection; the
    CPU telemetry measured it at 106.8 executor-cpu-s). The Generate
    barrier pins single evaluation."""
    plan = _plan(QUERIES["q_fuzzy_join_parts"].spark(spark, SF_CORRECT))
    assert plan.count("levenshtein") == 1, plan.count("levenshtein")
    assert "Generate explode" in plan


def test_decontaminate_probe_before_exchange(spark):
    """r14: the exact decontaminate's corpus shingles reach the
    broadcast benchmark probe WITHOUT a prior exchange (the old
    ngram_shingles .distinct() shuffled every corpus (id, shingle) row
    first). At most three hash exchanges remain: the tiny benchmark
    shingle distinct, the hits-only (id, shingle) distinct phase, and
    the hits-only per-id count — more means the corpus-wide distinct
    came back (an upper bound, not an exact count, so cosmetic
    Spark/AQE plan changes don't fail it — r14 ADVICE). The specific
    regression is also pinned structurally: the corpus shingle Generate
    must feed the broadcast probe join with no exchange in between."""
    plan = _plan(QUERIES["text_decontaminate"].spark(spark, SF_CORRECT))
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 3, f"expected <=3 hash exchanges, got {n_hash}"
    assert "BroadcastHashJoin [shingle" in plan
    # No exchange between the probe join and the corpus-side Generate:
    # the join's stream side prints first in the tree string, so the
    # FIRST Generate after the probe join is the corpus shingle explode
    # and nothing between them may be a hashpartitioning exchange.
    probe_at = plan.find("BroadcastHashJoin [shingle")
    assert probe_at != -1, plan
    gen_at = plan.find("Generate explode", probe_at)
    assert gen_at != -1, plan[probe_at:]
    between = plan[probe_at:gen_at]
    assert "Exchange hashpartitioning" not in between, between


def test_operator_counts_pin_headline_plans(spark):
    """``plans.explain.operator_counts`` on executed plans: q1 keeps one
    hash exchange, q8 broadcasts all seven dim joins over one fact-side
    exchange, the topic-shaped CDC decode crosses into Python exactly
    twice (produce, then the typed decode) with no exchange. The table-load repartition under each
    cached view's InMemoryRelation is not counted."""
    from muninn_avro_to_parquet_spark.plans.explain import operator_counts

    want = {
        "q1_pricing_summary": {"Exchange": 1},
        "q8_market_share": {
            "Exchange": 1,
            "BroadcastHashJoin": 7,
            "SortMergeJoin": 0,
            "ShuffledHashJoin": 0,
            "CartesianProduct": 0,
        },
        "q_kafka_cdc_envelope": {
            "Exchange": 0,
            "MapInPandas": 1,
            "MapInArrow": 1,
            "ArrowEvalPython": 0,
            "BatchEvalPython": 0,
        },
    }
    for name, expected in want.items():
        counts = operator_counts(_plan(QUERIES[name].spark(spark, SF_CORRECT)))
        got = {op: counts[op] for op in expected}
        assert got == expected, (name, counts)


def test_operator_counts_skip_cached_subtree():
    """Nodes below an InMemoryRelation belong to the plan that filled the
    cache; counting resumes at the next node outside that subtree."""
    from muninn_avro_to_parquet_spark.plans.explain import operator_counts

    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false",
            "   :- *(1) Filter isnotnull(k#1)",
            "   :  +- InMemoryTableScan [k#1], [isnotnull(k#1)]",
            "   :        +- InMemoryRelation [k#1], StorageLevel(disk, memory, deserialized, 1 replicas)",
            "   :              +- AdaptiveSparkPlan isFinalPlan=false",
            "   :                 +- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=1]",
            "   :                    +- SortMergeJoin [k#3], [k#4], Inner",
            "   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=2]",
            "      +- Exchange hashpartitioning(k#2, 4), ENSURE_REQUIREMENTS, [plan_id=3]",
            "         +- MapInArrow gen(k#5)#6, [k#2], false",
        ]
    )
    counts = operator_counts(plan)
    assert counts == {
        **dict.fromkeys(counts, 0),
        "BroadcastHashJoin": 1,
        "InMemoryTableScan": 1,
        "BroadcastExchange": 1,
        "Exchange": 1,
        "MapInArrow": 1,
    }
