"""Dynamic-tag executor tests: per-asset (semantics-exact) and fused
(R9 single-pass over an inventory) paths agree with each other and with
direct SQL."""

import pytest
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.operators import dynamic as D

FIELDS = [
    {"field_id": "row_count", "field_type": "double", "query_expression": "select count(*) from $table"},
    {
        "field_id": "unique_orders",
        "field_type": "double",
        "query_expression": "select count(distinct l_orderkey) from $table",
    },
    {
        "field_id": "open_count",
        "field_type": "double",
        "query_expression": "select count(*) from $table where l_linestatus = 'O'",
    },
    {
        "field_id": "avg_daily",
        "field_type": "double",
        "query_expression": "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) as d, count(*) as daily from $table group by d)",
    },
    {"field_id": "domain", "field_type": "string", "query_expression": "select 'LOGISTICS'"},
]

URI = "p/datasets/d/tables/lineitem"


def short_name(p, d, t):
    return t  # test views are registered under the bare table name


@pytest.fixture(scope="module")
def expected(spark):
    li = spark.table("lineitem")
    row = li.agg(
        F.count("*").cast("double"),
        F.countDistinct("l_orderkey").cast("double"),
        F.count(F.when(F.col("l_linestatus") == "O", 1)).cast("double"),
    ).first()
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("d"))
        .count()
        .agg(F.coalesce(F.round(F.avg("count"), 2), F.lit(0)))
        .first()[0]
    )
    return {
        "row_count": row[0],
        "unique_orders": row[1],
        "open_count": row[2],
        "avg_daily": daily,
        "domain": "LOGISTICS",
    }


def to_map(rows):
    out = {}
    for r in rows:
        v = r["field_value_double"] if r["field_type"] == "double" else r["field_value_string"]
        out[r["field_id"]] = v
    return out


def test_per_asset_path(spark, expected):
    raw = D.run_config_per_asset(spark, FIELDS, [(URI, None)], "data_governance", short_name)
    rows = D.coerce_long_rows(D.raw_rows_to_df(spark, raw)).collect()
    assert to_map(rows) == expected
    assert all(r["template_id"] == "data_governance" for r in rows)


def test_fused_path_matches(spark, expected):
    assert D.fusable(FIELDS)
    inv = spark.table("lineitem").withColumn("asset_uri", F.lit(URI))
    raw_df = D.run_config_fused(spark, FIELDS, inv, "data_governance")
    rows = D.coerce_long_rows(raw_df).collect()
    assert to_map(rows) == expected


def test_fused_multi_asset(spark):
    li = spark.table("lineitem")
    uris = ["p/datasets/d/tables/lineitem", "p/datasets/d/tables/lineitem2"]
    inv = li.withColumn("asset_uri", F.lit(uris[0])).unionByName(
        li.withColumn("asset_uri", F.lit(uris[1]))
    )
    raw_df = D.run_config_fused(spark, [FIELDS[0]], inv, "t")
    got = {r["asset_uri"]: r["raw_value"] for r in raw_df.collect()}
    n = li.count()
    assert got == {uris[0]: str(n), uris[1]: str(n)}


def test_fused_inventory_form_matches_per_asset(spark):
    """The two executors agree: the fused plan over ONE inventory
    DataFrame with an asset_uri column gives the same typed tags as the
    per-asset statements over the same three clones, each registered as
    its own view."""
    li = spark.table("lineitem")
    blk = F.pmod(F.hash("l_orderkey"), F.lit(3))
    inv = li.withColumn(
        "asset_uri", F.format_string("p/datasets/d/tables/clone_%d", blk)
    )
    uris = [f"p/datasets/d/tables/clone_{i}" for i in range(3)]
    for i in range(3):
        li.filter(blk == i).createOrReplaceTempView(f"clone_{i}")

    def by_asset(raw_df):
        rows = D.coerce_long_rows(raw_df).collect()
        return {u: to_map([r for r in rows if r["asset_uri"] == u]) for u in uris}

    fused = by_asset(D.run_config_fused(spark, FIELDS, inv, "t"))
    per_asset = by_asset(
        D.raw_rows_to_df(spark, D.run_config_per_asset(spark, FIELDS, [(u, None) for u in uris], "t", short_name))
    )
    assert fused == per_asset
    assert all(len(fields) == len(FIELDS) for fields in fused.values())


def test_fused_inventory_requires_asset_uri(spark):
    with pytest.raises(ValueError, match="asset_uri"):
        D.run_config_fused(spark, [FIELDS[0]], spark.table("lineitem"), "t")


def test_classify():
    assert D.classify_expression("select 'X'")[0] == "constant"
    assert D.classify_expression("select max(x) from $table")[0] == "simple"
    assert D.classify_expression("select count(*) from $table where a=1")[0] == "simple"
    assert (
        D.classify_expression(
            "select ifnull(round(avg(daily),2),0) from (select cast(ts as date) d, count(*) daily from $table group by d)"
        )[0]
        == "daily"
    )
    assert D.classify_expression("select x from $table join y on 1=1")[0] == "opaque"
    # a clause after the predicate cannot ride a FILTER (WHERE ...) aggregate
    for tail in ("group by b", "order by x limit 1", "group by b having count(*) > 1", "limit 5"):
        expr = f"select count(*) from $table where a=1 {tail}"
        assert D.classify_expression(expr)[0] == "opaque", expr


def test_richtext_collects_all_rows(spark):
    fields = [
        {
            "field_id": "approvers",
            "field_type": "richtext",
            "query_expression": "select distinct l_returnflag from $table order by l_returnflag",
        }
    ]
    raw = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
    assert raw[0]["raw_value"] == "A<br>N<br>R"


# --- schema-regime safety (code-review r5: the naive predicate rewrite
# silently changed semantics outside the table_name='$table' idiom) ----

_IS = "select column_name from p.d.INFORMATION_SCHEMA.COLUMNS where "


def test_classify_columns_schema_requires_scoped_predicate():
    # the reference idiom: scoped to the asset's own table — provably
    # answerable from the asset's schema column
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and data_type = 'STRING'"
    ) == "schema"
    # unscoped: reference semantics range over EVERY table in the
    # dataset's INFORMATION_SCHEMA — never the schema regime
    assert D.classify_columns_query(_IS + "data_type = 'STRING'") == "constant"
    assert D.classify_columns_query(
        "select column_name from $project.$dataset.INFORMATION_SCHEMA.COLUMNS "
        "where data_type = 'STRING'"
    ) == "opaque"
    # OR escapes the table_name scope
    assert D.classify_columns_query(
        _IS + "table_name = '$table' or data_type = 'STRING'"
    ) == "opaque"
    # double-quoted "$table" is a string literal in non-ANSI Spark SQL
    # (always-false comparison) — must not reach the rewrite
    assert D.classify_columns_query(_IS + 'table_name = "$table"') == "opaque"
    # identifiers outside INFORMATION_SCHEMA.COLUMNS
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and weird_col = 1"
    ) == "opaque"
    # bare (unquoted) $var outside a string literal
    assert D.classify_columns_query(
        _IS + "table_name = $table"
    ) == "opaque"
    # a $var EMBEDDED in a longer literal (like '$table%') is not one of
    # the three exact quoted forms the schema regime rewrites — it would
    # survive unsubstituted and match nothing, so it must route opaque
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and column_name like '$table%'"
    ) == "opaque"
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and column_name like 'id_$dataset'"
    ) == "opaque"
    # the exact forms (possibly several) still classify schema-safe
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and table_schema = '$dataset'"
    ) == "schema"
    # SQL-escaped quote inside a literal: '$table''s' is ONE literal
    # whose value is $table's — the naive [^']* tokenizer split it into
    # '$table' + 's' and classified schema-safe (fifth-review finding)
    assert D.classify_columns_query(
        _IS + "table_name = '$table''s'"
    ) == "opaque"
    # escaped quotes in a $-free literal are harmless and must not
    # break the exact forms beside them
    assert D.classify_columns_query(
        _IS + "table_name = 'it''s' and table_name = '$table'"
    ) == "schema"


def test_discover_columns_schema_is_nullable_ordinal(spark):
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    assets = spark.createDataFrame(
        [{
            "asset_uri": "p/datasets/d/tables/t1",
            "asset_type": "bigquery", "project": "p", "dataset": "d",
            "table": "t1",
            "schema": [
                {"name": "a", "type": "STRING", "mode": "REQUIRED", "subcolumns": None},
                {"name": "b", "type": "INT64", "mode": "NULLABLE", "subcolumns": None},
                {"name": "c", "type": "STRING", "mode": "NULLABLE", "subcolumns": None},
            ],
        }],
        ASSETS_SCHEMA,
    )
    got = {
        r["column"]
        for r in D.discover_columns_schema(
            assets,
            _IS + "table_name = '$table' and is_nullable = 'YES' "
                  "and ordinal_position > 1",
        ).collect()
    }
    assert got == {"b", "c"}


def test_discover_columns_schema_rejects_unsafe(spark):
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    assets = spark.createDataFrame([], ASSETS_SCHEMA)
    with pytest.raises(ValueError, match="not provably schema-answerable"):
        D.discover_columns_schema(assets, _IS + "data_type = 'STRING'")


def test_classify_columns_schema_rejects_prefix_not():
    # prefix NOT can invert the scoping conjunct -> opaque; postfix
    # negations (is not null, not in/like) are conjunct-local -> safe
    assert D.classify_columns_query(
        _IS + "not (table_name = '$table' and data_type = 'STRING')"
    ) == "opaque"
    assert D.classify_columns_query(
        _IS + "not table_name = '$table'"
    ) == "opaque"
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and is_nullable is not null"
    ) == "schema"
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and data_type not in ('GEOGRAPHY')"
    ) == "schema"
    assert D.classify_columns_query(
        _IS + "table_name = '$table' and not data_type = 'STRING'"
    ) == "opaque"
