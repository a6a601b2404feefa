"""The ETL mapping layer (``plans/mapping.py``): column staging, tolerant
rename, SCD2 full load and the dict-union join."""

from __future__ import annotations

from web_crawling_prj_spark.plans.mapping import ETLConfig, load_batch, rename_columns, stage_batch


def test_mapping_pipeline(spark):
    cfg = ETLConfig(
        des_table="wh.products",
        primary_key=["sku"],
        hash_cols=["sku", "title", "price"],
        from_src="unit",
        cols_to_insert=["sku", "title", "price"],
        mapping_cols={"Product ID": "sku", "Product title": "title", "Price": "price"},
    )
    b1 = spark.createDataFrame(
        [("a", "A", 1.0), ("b", "B", 2.0)], "`Product ID` string, `Product title` string, Price double"
    )
    cur = load_batch(None, b1, cfg, "2025-01-01 00:00:00")
    assert set(cur.columns) >= {"sku", "title", "price", "hash_key", "row_is_latest"}
    b2 = spark.createDataFrame([("a", "A2", 1.0)], "`Product ID` string, `Product title` string, Price double")
    cur2 = load_batch(cur, b2, cfg, "2025-01-02 00:00:00")
    a_rows = cur2.where("sku = 'a'").collect()
    assert {r.row_version_number for r in a_rows} == {1, 2}


def test_rename_tolerates_missing(spark):
    df = spark.createDataFrame([(1,)], "x int")
    out = rename_columns(df, {"x": "y", "nope": "z"})
    assert out.columns == ["y"]


def test_stage_batch_hash(spark):
    cfg = ETLConfig(des_table="t", primary_key=["sku"], hash_cols=["sku"], from_src="s")
    out = stage_batch(spark.createDataFrame([("k",)], "sku string"), cfg, "2025-01-01 00:00:00")
    assert out.first().hash_key is not None


def test_dict_union_join(spark):
    """J8 golden: {**header, **detail} — detail's value wins on overlap, header
    fills the rest, one output row per detail row."""
    from web_crawling_prj_spark.plans.mapping import dict_union_join

    details = spark.createDataFrame(
        [(1, "d1", 10.0), (1, "d2", None), (2, "d3", 30.0)],
        "ded_id int, item string, amount double",
    )
    headers = spark.createDataFrame(
        [(1, "APR", 99.0), (2, "MAY", 88.0), (3, "JUN", 77.0)],
        "ded_id int, period string, amount double",
    )
    out = {(r.ded_id, r.item): (r.period, r.amount) for r in dict_union_join(details, headers, "ded_id").collect()}
    assert out == {
        (1, "d1"): ("APR", 10.0),
        (1, "d2"): ("APR", None),  # detail wins even when null (dict-union)
        (2, "d3"): ("MAY", 30.0),
    }
