"""Sink semantics: K1 parquet upsert, K3/K4 KV flatten + conditional put."""

from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.sinks.kv import flatten_kv_items, store_kv_items
from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert


def test_parquet_upsert_newest_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([("k1", "old", 1), ("k2", "keep", 1)], "id string, v string, ver int")
    parquet_upsert(spark, v1, path, ["id"], version_col="ver")
    v2 = spark.createDataFrame([("k1", "new", 2)], "id string, v string, ver int")
    parquet_upsert(spark, v2, path, ["id"], version_col="ver")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"k1": "new", "k2": "keep"}


def test_parquet_upsert_same_version_prefers_new(spark, tmp_path):
    path = str(tmp_path / "t")
    parquet_upsert(spark, spark.createDataFrame([("k", "a", 1)], "id string, v string, ver int"),
                   path, ["id"], version_col="ver")
    parquet_upsert(spark, spark.createDataFrame([("k", "b", 1)], "id string, v string, ver int"),
                   path, ["id"], version_col="ver")
    assert spark.read.parquet(path).collect()[0]["v"] == "b"


KV_SCHEMA = (
    "dataId string, description string, "
    "efficiency struct<value: string, unit: string>, "
    "seller struct<username: string, feedbackScore: bigint, feedbackPercentage: string>, "
    "image struct<imageUrl: string>, "
    "shippingOptions array<struct<shippingCost: struct<value: string>>>, "
    "itemLocation struct<country: string>"
)


def _items(spark):
    return spark.createDataFrame(
        [
            ("i1", "desc", ("12.5", "lm/W"), ("bob", 100, "99.1"), ("http://img",),
             [(("3.99",),)], ("US",)),
            ("i2", "zero-eff", ("0", "lm/W"), (None, None, None), (None,), None, (None,)),
            (None, "no id", ("1", "x"), (None, None, None), (None,), None, (None,)),
            ("i3", "bad eff", ("junk", "x"), (None, None, None), (None,), None, (None,)),
        ],
        KV_SCHEMA,
    )


def test_kv_flatten_paths_and_decimal_coercion(spark):
    flat = flatten_kv_items(_items(spark))
    rows = {r["dataId"]: r for r in flat.collect()}
    assert set(rows) == {"i1", "i2", "i3"}  # NULL dataId rejected (dynamodb.py:67-70)
    assert rows["i1"]["seller_username"] == "bob"
    assert float(rows["i1"]["shipping_cost"]) == 3.99
    assert float(rows["i1"]["efficiency_value"]) == 12.5
    # falsy-0 quirk deliberately FIXED: 0 is kept as a value
    assert float(rows["i2"]["efficiency_value"]) == 0.0
    # invalid numeric → Decimal(0) (dynamodb.py:88-90)
    assert float(rows["i3"]["efficiency_value"]) == 0.0
    assert rows["i1"]["raw_json"].startswith("{")
    assert rows["i1"]["last_updated"] is not None


def test_kv_conditional_put_keeps_existing(spark, tmp_path):
    path = str(tmp_path / "kv")
    store_kv_items(spark, _items(spark), path)
    first = {r["dataId"]: r["description"] for r in spark.read.parquet(path).collect()}
    changed = _items(spark).withColumn("description", F.lit("CHANGED"))
    store_kv_items(spark, changed, path, if_not_exists=True)
    second = {r["dataId"]: r["description"] for r in spark.read.parquet(path).collect()}
    assert second == first  # attribute_not_exists semantics: no overwrite


def test_parquet_upsert_tally(spark, tmp_path):
    path = str(tmp_path / "obs")
    df = spark.createDataFrame(
        [("a", 1, True), ("b", 2, True), ("c", 3, False)],
        "id string, v int, ok boolean",
    )
    tally = parquet_upsert(spark, df, path, ["id"], validity_col="ok")
    assert tally == {"attempted": 3, "succeeded": 2, "failed": 1}
    stored = {r["id"] for r in spark.read.parquet(path).collect()}
    assert stored == {"a", "b"}


def test_parquet_upsert_tally_of_empty_inputs(spark, tmp_path):
    """An empty input tallies zeros, whether it is a Python-RDD scan, whose
    tasks still report the observation, or an empty local relation, which
    runs no task under the merge's shuffle and so reports no metrics."""
    import pyarrow as pa

    schema = "id string, ok boolean"
    inputs = {
        "rdd": spark.createDataFrame([], schema),
        "local": spark.createDataFrame(
            pa.table({"id": pa.array([], pa.string()), "ok": pa.array([], pa.bool_())}), schema),
    }
    for name, df in inputs.items():
        path = str(tmp_path / name)
        tally = parquet_upsert(spark, df, path, ["id"], validity_col="ok")
        assert tally == {"attempted": 0, "succeeded": 0, "failed": 0}, name
        assert spark.read.parquet(path).count() == 0


def test_parquet_upsert_tally_of_another_sessions_frame(spark, tmp_path):
    """A frame from another session (a foreachBatch micro-batch has its own)
    is merged and observed in that session, so its tally completes when the
    sink already holds rows."""
    path = str(tmp_path / "sink")
    parquet_upsert(spark, spark.createDataFrame([("a", 1)], "id string, v int"), path, ["id"])
    other = spark.newSession().createDataFrame([("a", 2), ("b", 3)], "id string, v int")
    assert parquet_upsert(spark, other, path, ["id"]) == {"attempted": 2, "succeeded": 2, "failed": 0}
    assert {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()} == {("a", 2), ("b", 3)}
