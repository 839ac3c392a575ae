"""Round-trip tests for sinks, salted-join equivalence, stateful
streaming, and approximate-aggregate accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from ooh_etl_spark.operators.relational import salted_join
from ooh_etl_spark.sources.sinks import write_parquet
from tests.conftest import SF_DIR


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


def test_parquet_roundtrip(spark, tmp_path):
    df = _orders(spark)
    out = str(tmp_path / "orders_pq")
    write_parquet(df, out)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = _orders(spark).select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plain = li.join(orders, "k").groupBy("o_orderpriority").count()
    salted = salted_join(li, orders, "k").groupBy("o_orderpriority").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_stateful_streaming_profiles_match_batch(spark):
    from ooh_etl_spark.queries import QUERIES

    out = QUERIES["q46_stream_user_profiles"].fn(spark, SF_DIR)
    # Final state per user must equal the batch aggregate.
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
        ).collect()
    }
    from ooh_etl_spark.tables import load_table

    expected = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][0] == expected[u][0], u
        assert abs(got[u][1] - expected[u][1]) < 0.05, u


def test_approx_count_distinct_accuracy(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_orc_roundtrip(spark, tmp_path):
    # ORC is Spark-native (no extra package); DuckDB can't read it, so
    # this is an engine-side write→read equality check, not an oracle.
    df = _orders(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = str(tmp_path / "orders_orc")
    df.write.format("orc").mode("overwrite").save(out)
    back = spark.read.format("orc").load(out)
    assert back.count() == df.count()
    assert back.agg(F.round(F.sum("o_totalprice"), 2)).collect() == df.agg(
        F.round(F.sum("o_totalprice"), 2)
    ).collect()


def test_stream_stream_join_matches_batch(spark):
    # The dual-stream join (q118) must agree with the identical batch
    # join over the same files — availableNow processes everything, so
    # only watermark-finalized semantics could differ; on this data the
    # join is time-bounded well inside the stream span.
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.tables import load_table
    from tests.conftest import SF_DIR

    streamed = QUERIES["q118_stream_stream_join"].fn(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    batch = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 24 HOURS")),
    )
    assert streamed.count() == batch.count()


def test_write_compaction_bounds_file_sizes(spark, tmp_path):
    # The 100 TB operational pattern: cap records per output file on
    # write (many small tasks), then compact to fewer files.
    import glob

    df = _orders(spark)
    n = df.count()
    frag = str(tmp_path / "frag")
    df.write.option("maxRecordsPerFile", 200).mode("overwrite").parquet(frag)
    files = glob.glob(frag + "/*.parquet")
    assert len(files) >= n // 200  # the cap actually split the output
    back = spark.read.parquet(frag)
    compacted = str(tmp_path / "compact")
    back.coalesce(1).write.mode("overwrite").parquet(compacted)
    assert len(glob.glob(compacted + "/*.parquet")) == 1
    assert spark.read.parquet(compacted).count() == n


def test_schema_evolution_mergeschema_and_upcast(spark, tmp_path):
    """Schema evolution across parquet generations — the landing-zone
    reality a long-lived pipeline must absorb: generation 1 lacks a
    column that generation 2 adds, and a reader with mergeSchema=true
    sees the union schema with NULLs backfilled for the old files.
    Separately, an explicit wider read schema (int written, bigint
    requested) must upcast losslessly — the compatible-evolution
    direction Parquet supports."""
    gen1 = str(tmp_path / "g1")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, name string"
    ).write.parquet(gen1)
    spark.createDataFrame(
        [(3, "c", 30), (4, "d", 40)], "id int, name string, score int"
    ).write.mode("append").parquet(gen1)

    merged = spark.read.option("mergeSchema", "true").parquet(gen1)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 30
    assert merged.count() == 4

    # Widening read schema: int32-on-disk served as bigint.
    wide = spark.read.schema("id long, name string").parquet(gen1)
    assert dict(wide.dtypes)["id"] == "bigint"
    assert {r["id"] for r in wide.collect()} == {1, 2, 3, 4}
