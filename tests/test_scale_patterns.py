"""Scale patterns the 100 TB design leans on, demonstrated and asserted
on local data: bucketed co-located joins (no shuffle), salted skew joins
(same result, spread keys), partition-pruned scans, and DSL compilation
directly onto streaming DataFrames."""

from __future__ import annotations

import tempfile

import pytest

pytestmark = pytest.mark.slow  # fuzz/streaming/scale tier: pytest -m "not slow" skips
from pyspark.sql import functions as F

from rspl_spark.catalog import load


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key co-locates matching rows:
    the sort-merge join needs NO Exchange — at 100 TB this is the
    difference between reading and reshuffling the dataset."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        o = load(spark, "/root/testdata/sf0.001", "orders")
        c = load(spark, "/root/testdata/sf0.001", "customer")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(
            "b_orders", mode="overwrite"
        )
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(
            "b_customer", mode="overwrite"
        )
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        # and the result is right
        expected = o.join(c, o.o_custkey == c.c_custkey).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_skew_join_same_result(spark):
    """Skew pattern: one hot key. Salting the build side N ways and
    exploding the probe side spreads the hot partition; result is
    identical to the plain join."""
    n_salt = 8
    # skewed fact: 90% of rows share key 1
    fact = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("dv"))

    plain = fact.join(dim, "k").agg(F.sum(F.col("v") + F.col("dv"))).collect()[0][0]

    salted_fact = fact.withColumn("salt", (F.rand(seed=7) * n_salt).cast("int"))
    salted_dim = dim.join(
        spark.range(n_salt).select(F.col("id").cast("int").alias("salt")), how="cross"
    )
    salted = (
        salted_fact.join(salted_dim, ["k", "salt"])
        .agg(F.sum(F.col("v") + F.col("dv")))
        .collect()[0][0]
    )
    assert salted == plain


def test_aqe_skew_join_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_partition_pruning_in_scan(spark, tmp_path):
    """Writing partitioned-by-year and filtering on year must prune
    partitions at the file-listing level (PartitionFilters), reading a
    fraction of the files."""
    p = str(tmp_path / "o_part")
    o = load(spark, "/root/testdata/sf0.001", "orders")
    o.withColumn("yr", F.year("o_orderdate")).write.partitionBy("yr").parquet(p)
    pruned = spark.read.parquet(p).filter(F.col("yr").isin(1996, 1997))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "yr" in plan.split("PartitionFilters")[1][:200]
    years = {r["yr"] for r in pruned.select("yr").distinct().collect()}
    assert years == {1996, 1997}


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a filter on the DIM side prunes the partitioned FACT scan at
    runtime (the broadcast result becomes the fact's partition filter) —
    the feature that turns a dim-filtered star join over a 100 TB
    partitioned fact into a scan of only the matching partitions.

    Local data is below the planner's benefit thresholds, so the test
    pins useStats=false + a permissive fallback ratio; at real scale the
    defaults fire on their own."""
    p = str(tmp_path / "o_by_year")
    o = load(spark, "/root/testdata/sf0.001", "orders")
    o.withColumn("yr", F.year("o_orderdate")).write.partitionBy("yr").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [(y, "keep" if y in (1996, 1997) else "drop") for y in range(1992, 2003)],
        "yr int, tag string",
    )
    confs = {
        "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "10000",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = fact.join(dim.filter(F.col("tag") == "keep"), "yr").groupBy("tag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        rows = {(r["tag"], r["count"]) for r in j.collect()}
        want = fact.filter(F.col("yr").isin(1996, 1997)).count()
        assert rows == {("keep", want)}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_join(spark):
    """Runtime bloom-filter injection: a selective filter on one join
    side materializes a bloom filter that pre-filters the OTHER side's
    scan (`might_contain` in the plan) — shuffle-input reduction for
    shuffle joins too big to broadcast. Local thresholds forced (the
    application-side default is 10 GB); at scale the defaults fire."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load(spark, "/root/testdata/sf0.001", "lineitem")
        o = load(spark, "/root/testdata/sf0.001", "orders")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
        # and the filter is semantics-preserving
        got = {(r["l_returnflag"], r["count"]) for r in j.collect()}
        plain = (
            li.join(sel, li.l_orderkey == sel.o_orderkey, "inner")
            .hint("merge")
            .groupBy("l_returnflag")
            .count()
        )
        want = {(r["l_returnflag"], r["count"]) for r in plain.collect()}
        assert got == want
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _leaf_scan_metrics(df):
    plan = df._jdf.queryExecution().executedPlan()
    scan = plan
    while scan.children().size():
        scan = scan.children().apply(0)
    return {
        k: scan.metrics().apply(k).value()
        for k in ("numOutputRows", "numFiles")
        if scan.metrics().contains(k)
    }


def test_sorted_layout_enables_rowgroup_skipping(spark, tmp_path):
    """Data LAYOUT as a scan-reduction lever: the same filter over the
    same rows reads ~8x fewer rows when the table is range-partitioned +
    sorted on the filter column (parquet row-group min/max stats line up
    with the predicate) than over a random layout. At 100 TB this is the
    difference between touching one date-range's files and all of them.

    Keyed on a LONG column: the reader consumes int/long/date row-group
    stats, but NOT TimestampNTZ (probe measured zero skipping on an ntz
    column) — cast ntz event times to date/long sort keys when laying
    out by time."""
    o = load(spark, "/root/testdata/sf0.01", "orders")
    sorted_p, random_p = str(tmp_path / "srt"), str(tmp_path / "rnd")
    o.repartitionByRange(16, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    ).write.parquet(sorted_p)
    o.repartition(16).write.parquet(random_p)
    total = o.count()
    pred = F.col("o_orderkey").between(1000, 2000)

    srt = spark.read.parquet(sorted_p).filter(pred)
    srt.collect()
    m_srt = _leaf_scan_metrics(srt)
    rnd = spark.read.parquet(random_p).filter(pred)
    rnd.collect()
    m_rnd = _leaf_scan_metrics(rnd)

    assert srt.count() == rnd.count()  # layout never changes the answer
    # random layout: every row group intersects the range → full read
    assert m_rnd["numOutputRows"] == total
    # sorted layout: only the covering row groups are materialized
    assert m_srt["numOutputRows"] < total / 4


def test_compile_dsl_onto_streaming_frame(spark):
    """The compiled (stateless) DSL path works unchanged on a streaming
    DataFrame — filter/select are streaming-safe narrow ops."""
    from rspl_spark.dsl import compile_batch, compose, filter_sp, map_sp
    from rspl_spark.streaming import file_stream, write_stream_chunks
    from rspl_spark.streaming.sources import run_to_memory_sink

    sp = compose(filter_sp(lambda v: v % 2 == 0), map_sp(lambda v: v * 7))
    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame([(i, i) for i in range(10)], "seq long, value long")
        write_stream_chunks(spark, tmp, [df])
        stream = file_stream(spark, tmp, "seq long, value long")
        out = compile_batch(sp, stream)
        assert out.isStreaming
        run_to_memory_sink(out, "t_dsl_stream")
        vals = [r["value"] for r in spark.table("t_dsl_stream").orderBy("seq").collect()]
        assert vals == [0, 14, 28, 42, 56]


def test_broadcast_threshold_respected(spark):
    """Dimension join compiles to BroadcastHashJoin under the session
    config (the q3/q5 plans rely on it)."""
    o = load(spark, "/root/testdata/sf0.001", "orders")
    n = load(spark, "/root/testdata/sf0.001", "nation")
    j = o.join(F.broadcast(n), o.o_custkey % 25 == n.n_nationkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_aqe_broadcasts_unhinted_dims_at_test_scale(spark):
    """q3/q5 no longer FORCE customer/supplier broadcasts (OOM hazard at
    100x: a hint overrides AQE's size check). Verify AQE still picks
    BroadcastHashJoin for them at test scale, so dropping the hints costs
    nothing where it used to help."""
    import os

    from rspl_spark.queries.joins import q3_shipping_priority, q5_local_supplier

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf_dir):
        sf_dir = "/root/testdata/sf0.001"
    for q in (q3_shipping_priority, q5_local_supplier):
        df = q(spark, sf_dir)
        df.collect()  # AQE re-plans at runtime; inspect the FINAL plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # the one legitimate shuffle join: lineitem <-> orders fact join
        assert plan.count("SortMergeJoin") <= 1, plan


def test_connected_components_star_chain_graph(spark):
    """A 1000-node chain is the worst case for one-hop label propagation
    (needs 999 rounds); large-star/small-star must collapse it to one
    cluster in O(log n) rounds without lineage blowup."""
    from rspl_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
    )
    labels = connected_components_star(edges).collect()
    assert len(labels) == 1000
    assert {r["cluster"] for r in labels} == {0}


def test_connected_components_star_warns_on_nonconvergence(spark):
    """A caller budget below log2(n_edges)+4 keeps the distributed star
    rounds, which warn instead of returning a silently split labeling."""
    import pytest as _pytest

    from rspl_spark.operators.dedup import connected_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(64)], "doc_a long, doc_b long")
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components_star(chain, max_iters=1).collect()


def test_zorder_layout_skips_on_both_dimensions(spark, tmp_path):
    """Z-order vs single-column sort, measured from leaf-scan metrics:
    a custkey-sorted layout skips on custkey but reads EVERY row for a
    date predicate; the Morton layout reads ~25% for either dimension's
    predicate (probe: 3.7k/15k vs 15k/15k). Same rows, same answers —
    only the file order changes. This is the multi-dimensional
    scan-reduction lever at 100 TB: one copy of the data serves range
    predicates on any layout column."""
    from rspl_spark.operators.layout import zorder_layout

    o = load(spark, "/root/testdata/sf0.01", "orders").withColumn(
        "dt", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    )
    total = o.count()
    zp, sp_ = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_layout(o, ["o_custkey", "dt"], 16).write.parquet(zp)
    o.repartitionByRange(16, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(sp_)

    ck_mn, ck_mx, dt_mn, dt_mx = o.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("dt"), F.max("dt")
    ).first()
    preds = {
        "ck": F.col("o_custkey").between(ck_mn, ck_mn + (ck_mx - ck_mn) // 8),
        "dt": F.col("dt").between(dt_mn, dt_mn + (dt_mx - dt_mn) // 8),
    }
    read = {}
    for name, path in [("z", zp), ("s", sp_)]:
        for pname, pred in preds.items():
            df = spark.read.parquet(path).filter(pred)
            rows = df.count()
            df.collect()
            read[(name, pname)] = _leaf_scan_metrics(df)["numOutputRows"]
            # layout never changes the answer
            assert rows == o.filter(pred).count()
    # single-column sort: skips its own dim, full scan on the other
    assert read[("s", "ck")] < total / 3
    assert read[("s", "dt")] == total
    # z-order: both dimensions skip
    assert read[("z", "ck")] < total / 2
    assert read[("z", "dt")] < total / 2


def test_zorder_key_matches_python_reference(spark):
    from rspl_spark.operators.layout import zorder_key

    def morton(a: int, b: int, bits: int = 8) -> int:
        out = 0
        for j in range(bits):
            out += ((a >> j) & 1) << (2 * j)
            out += ((b >> j) & 1) << (2 * j + 1)
        return out

    rows = [(a, b) for a in (0, 1, 5, 170, 255) for b in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", zorder_key([F.col("a"), F.col("b")], bits=8).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])
    # adjacent points in either dimension stay within a bounded z gap
    assert morton(0, 0) == 0 and morton(255, 255) == 65535


def test_bucketize_degenerate_and_bounds(spark):
    from rspl_spark.operators.layout import bucketize

    df = spark.createDataFrame([(7,), (7,), (7,)], "v long")
    # constant column: span clamps to 1, all rows land in bucket 0 — no /0
    vals = [r[0] for r in df.select(bucketize(F.col("v"), 7, 7, 256)).collect()]
    assert vals == [0, 0, 0]
    df2 = spark.createDataFrame([(0,), (99,), (100,)], "v long")
    vals2 = [r[0] for r in df2.select(bucketize(F.col("v"), 0, 100, 16)).collect()]
    # max value maps to the LAST bucket, never to `buckets`
    assert vals2 == [0, 15, 15]


def test_zorder_layout_accepts_date_and_timestamp_columns(spark, tmp_path):
    """Review fix: the module's own motivating example is (date, key) —
    DATE/TIMESTAMP layout columns are normalized to ints for the stats
    instead of crashing int(datetime.date)."""
    import datetime as dt

    from rspl_spark.operators.layout import zorder_layout

    rows = [
        (i % 50, dt.date(2024, 1, 1 + i % 28),
         dt.datetime(2024, 1, 1, i % 24))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "custkey long, d date, ts timestamp")
    out = zorder_layout(df, ["d", "custkey"], 4)
    assert out.count() == 200 and "_zkey" not in out.columns
    out2 = zorder_layout(df, ["ts", "custkey"], 4)
    assert out2.count() == 200
    import pytest

    with pytest.raises(ValueError, match="non-orderable-to-int"):
        zorder_layout(df.withColumn("s", F.lit("x")), ["s"], 4)
