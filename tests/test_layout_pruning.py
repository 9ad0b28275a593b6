"""At-rest layout + runtime pruning tests: runtime bloom-filter join
pruning and Z-order/Hilbert file layouts (sinks/zorder.py) — scan-reduction
mechanisms beyond row-group pushdown (already pinned in test_plan_shapes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.sources import load_table


def test_runtime_bloom_filter_prunes_join_probe(spark, sf_dir):
    """Runtime row-level filtering: a selective build side injects a bloom
    filter (`might_contain`) into the probe-side scan, discarding
    non-joining rows BEFORE the shuffle. At 100 TB the probe side exceeds
    the 10 GB applicationSideScanSizeThreshold and this happens
    automatically; the test lowers the threshold to pin the mechanism and
    its semantics at test scale."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_orderdate"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        n = j.count()
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    # bloom pruning must not change results (false positives only ever
    # pass through to the exact join)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert n == want and n > 0


def test_zorder_layout_localizes_2d_box_filters(spark, sf_dir, tmp_path):
    """Z-ordered files must confine a 2-D box filter to a small file
    subset, where a single-column sort localizes only its own column.
    Checked against REAL written files via input_file_name(): the set of
    files CONTAINING matching rows is what footer min/max stats would
    prune to."""
    from prefect_flow_arc_alto_to_json_spark.sinks.zorder import (
        bucketize,
        morton_sql,
        write_zordered,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    )
    bounds = ev.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min("day").alias("dlo"), F.max("day").alias("dhi"),
    )
    ulo, uhi, dlo, dhi = bounds.collect()[0]
    bk = ev.crossJoin(F.broadcast(bounds)).select(
        "event_id", "user_id", "day",
        bucketize(F.col("user_id"), F.col("ulo"), F.col("uhi"), 8).alias("ub"),
        bucketize(F.col("day"), F.col("dlo"), F.col("dhi"), 8).alias("db"),
    ).withColumn("__z", F.expr(morton_sql(["ub", "db"], 8)))

    n_files = 16
    zpath = str(tmp_path / "events_z")
    write_zordered(bk, zpath, "__z", n_files=n_files)
    upath = str(tmp_path / "events_by_user")
    (bk.repartitionByRange(n_files, "user_id")
       .sortWithinPartitions("user_id")
       .write.mode("overwrite").parquet(upath))

    # a box covering ~1/4 of each dimension (1/16 of the plane)
    u_mid, d_mid = (ulo + uhi) // 2, (dlo + dhi) // 2
    u_hi_q, d_hi_q = ulo + (uhi - ulo) // 4, dlo + (dhi - dlo) // 4
    box = (
        (F.col("user_id") >= ulo) & (F.col("user_id") <= u_hi_q)
        & (F.col("day") >= dlo) & (F.col("day") <= d_hi_q)
    )

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path).where(box)
            .select(F.input_file_name()).distinct().count()
        )

    z_files, u_files = files_touched(zpath), files_touched(upath)
    # user-sorted layout prunes the user range (~1/4 of files) but inside
    # it every file spans all days; z-order confines BOTH dims
    assert z_files < u_files, (z_files, u_files)
    assert z_files <= n_files // 2, f"z-layout touched {z_files}/{n_files}"
    # same rows either way (layout must never change query results)
    assert (
        spark.read.parquet(zpath).where(box).count()
        == spark.read.parquet(upath).where(box).count()
    )


def test_morton_code_is_a_bijection(spark):
    """The generated interleave expression must be a bijection from
    (ub, db) in [0,16)^2 onto [0, 256) — any collision or gap breaks both
    locality and the z-range pruning argument. Evaluated through the SAME
    generated SQL text the operator and the oracle share."""
    from prefect_flow_arc_alto_to_json_spark.sinks.zorder import morton_sql

    df = spark.range(16).selectExpr("id AS ub").crossJoin(
        spark.range(16).selectExpr("id AS db")
    )
    z = df.selectExpr("ub", "db", morton_sql(["ub", "db"], 4) + " AS z")
    got = sorted(r["z"] for r in z.collect())
    assert got == list(range(256))
    # locality spot-check: adjacent cells differ in few bits of z
    m = {(r["ub"], r["db"]): r["z"] for r in z.collect()}
    assert bin(m[(3, 3)] ^ m[(3, 4)]).count("1") <= 4


def test_hilbert_index_is_bijective_and_unit_step(spark):
    """The two properties that make Hilbert the better skipping curve:
    the 16x16 transform is a bijection onto [0, 256), and consecutive
    curve positions are GRID-ADJACENT cells (|dx|+|dy| = 1) — Z-order
    violates the second (its diagonal jumps are why a box shatters into
    more runs there)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.sinks.zorder import hilbert_index

    grid = (
        spark.range(256)
        .select(
            (F.col("id") % 16).alias("cell_x"),
            (F.col("id") / 16).cast("long").alias("cell_y"),
        )
    )
    rows = hilbert_index(grid, "cell_x", "cell_y", bits=4).collect()
    by_d = {r["hilbert"]: (r["cell_x"], r["cell_y"]) for r in rows}
    assert sorted(by_d) == list(range(256))  # bijective
    for d in range(255):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])
