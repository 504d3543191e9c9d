"""Dynamic-tag executor tests: per-asset (semantics-exact) and fused
(R9 single-pass over an inventory) paths agree with each other and with
direct SQL."""

import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.operators import dynamic as D
from datacatalog_tag_engine_spark.operators.substitution import combine_queries, parse_query_expression

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


# --- per-task aggregate passes against the reference statement ---------


def reference_values(spark, fields, uri, column=None):
    """The reference's one statement per task: select (q1), (q2), ..."""
    exprs = [parse_query_expression(uri, f["query_expression"], column, short_name) for f in fields]
    return [D._stringify(v) for v in spark.sql(combine_queries(exprs)).first()]


def pass_values(spark, fields, uri, column=None):
    """The task statement's values; every field but a constant reads a pass."""
    for f in fields:
        q = parse_query_expression(uri, f["query_expression"], column, lambda *_: "$table")
        assert D.classify_expression(q)[0] in ("simple", "daily", "constant"), f
    return [D._stringify(v) for v in D.task_statement(spark, fields, uri, column, short_name).first()]


def field(field_id, query_expression, field_type="string"):
    return {"field_id": field_id, "field_type": field_type, "query_expression": query_expression}


TYPED_FIELDS = [
    field("rows", "select count(*) from $table", "double"),
    field("orders", "select count(distinct l_orderkey) from $table", "double"),
    field("parts", "select count(distinct l_partkey) from $table", "double"),
    field("open", "select count(*) from $table where l_linestatus = 'O'", "double"),
    field("any_big", "select max(l_quantity) > 10 from $table", "bool"),
    field("last_ship", "select max(cast(l_shipdate as date)) from $table", "datetime"),
    field("last_ts", "select max(cast(l_shipdate as timestamp)) from $table", "datetime"),
    field("qty_dec", "select sum(cast(l_quantity as decimal(12, 2))) from $table", "double"),
    field("avg_dec", "select avg(cast(l_quantity as decimal(12, 2))) from $table", "double"),
    field("none", "select max(l_quantity) from $table where l_linestatus = 'none'", "double"),
    field("in_sub", "select count(*) from $table where l_orderkey in "
          "(select o_orderkey from orders where o_totalprice > 100000)", "double"),
    field("exists_sub", "select count(*) from $table where exists "
          "(select 1 from orders where o_orderkey = l_orderkey and o_orderstatus = 'F')", "double"),
    field("scalar_sub", "select count(*) from $table where l_quantity > "
          "(select avg(l_quantity) from lineitem)", "double"),
    field("avg_daily", "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) "
          "as d, count(*) as daily from $table group by d)", "double"),
    field("avg_daily_open", "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) "
          "as d, count(*) as daily from $table where l_linestatus = 'O' group by d)", "double"),
    field("max_daily_r", "select max(daily) from (select cast(l_shipdate as date) d, count(*) daily "
          "from $table where l_returnflag = 'R' group by d)", "double"),
    field("domain", "select 'LOGISTICS'"),
    field("dataset", "select '$dataset'"),
]


@pytest.fixture(scope="module")
def empty_lineitem(spark):
    spark.table("lineitem").limit(0).createOrReplaceTempView("lineitem_empty")
    return "p/datasets/d/tables/lineitem_empty"


def test_passes_match_reference_statement(spark, empty_lineitem):
    """Every value of the per-task passes is the reference statement's,
    byte for byte through _stringify: bool, date, timestamp, decimal and
    null results, subquery predicates, predicated daily fields, a
    constant and a substituted $dataset; also on an empty table."""
    for uri in (URI, empty_lineitem):
        got = pass_values(spark, TYPED_FIELDS, uri)
        assert got == reference_values(spark, TYPED_FIELDS, uri), uri
    got = dict(zip([f["field_id"] for f in TYPED_FIELDS], pass_values(spark, TYPED_FIELDS, URI)))
    assert (got["any_big"], got["dataset"], got["none"]) == ("TRUE", "d", None)
    assert got["last_ts"] == got["last_ship"] + " 00:00:00" and "." in got["avg_dec"]


COLUMN_FIELDS = [
    field("distinct", "select count(distinct $column) from $table", "double"),
    field("nulls", "select count(*) from $table where $column is null", "double"),
    field("top", "select cast(max($column) as string) from $table"),
    field("name", "select '$column'"),
]


def test_column_passes_match_reference_statement(spark, empty_lineitem):
    for uri in (URI, empty_lineitem):
        for column in ("l_orderkey", "l_shipdate", "l_returnflag"):
            got = pass_values(spark, COLUMN_FIELDS, uri, column)
            assert got == reference_values(spark, COLUMN_FIELDS, uri, column), (uri, column)
            assert got[3] == column


def test_distinct_aggregates_run_without_expand(spark):
    """Each distinct aggregate gets its own pass, in both executors: two
    count(distinct) fields in one aggregate would Expand every row once
    per distinct group."""
    inv = spark.table("lineitem").withColumn("asset_uri", F.lit(URI))
    for df in (D.task_statement(spark, TYPED_FIELDS[:3], URI, None, short_name),
               D.run_config_fused_wide(spark, TYPED_FIELDS[:3], inv)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Expand" not in plan
        assert plan.count("Aggregate") == 3


def test_fields_without_a_pass_fall_back_to_the_reference_statement(spark):
    """A field that has no exact pass runs as a scalar subquery of the
    task's statement, beside fields that read passes; the tags are the
    reference statement's."""
    opaque = field("joined", "select count(*) from $table l join orders o on l.l_orderkey = o.o_orderkey",
                   "double")
    no_pass = [
        opaque,
        field("bare", "select 'x' from $table"),  # foldable: one row over any table
        field("window", "select count(*) over () from $table", "double"),
        field("named", "select count(*) from $table where l_returnflag <> '$table'", "double"),
        # a FILTER would bind to min() alone
        field("range", "select max(l_quantity) - min(l_quantity) from $table where l_linestatus = 'O'",
              "double"),
        field("rounded", "select round(avg(l_quantity), 2) from $table where l_linestatus = 'O'", "double"),
        field("regrouped", "select avg(c) from (select cast(l_shipdate as date) d, count(*) c "
              "from $table group by l_shipdate)", "double"),
        field("day_read", "select max(d) from (select cast(l_shipdate as date) d, count(*) c "
              "from $table where l_linestatus = 'O' group by d)", "datetime"),
        # Spark refuses a non-deterministic aggregate FILTER
        field("sampled", "select count(*) from $table where rand() < 2", "double"),
        field("sampled_max", "select max(l_quantity) from $table where uuid() <> ''", "double"),
        field("sampled_daily", "select max(daily) from (select cast(l_shipdate as date) as d, count(*) as daily "
              "from $table where randn() < 100 group by d)", "double"),
    ]
    for f in no_pass:
        assert not D.fusable([f]), f  # the inventory form shares the rule

    mixed = [f for f in TYPED_FIELDS + no_pass if f["field_id"] not in ("bare", "window")]
    # a distinct aggregate with a FILTER is Expanded: its pass reads its
    # input only where the WHERE clause keeps the row, so 10 div 0 never runs
    guarded = TYPED_FIELDS[:4] + [
        field("div", "select count(distinct 10 div (l_linenumber - 1)) from $table where l_linenumber > 1",
              "double")
    ]
    for fields in (mixed, guarded):
        raw = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
        assert [r["raw_value"] for r in raw] == reference_values(spark, fields, URI)


def test_constant_arguments_stay_foldable_beside_a_column_of_their_name(spark):
    """A predicated aggregate guards the arguments computed from a column,
    not a constant calling a function that shares a column's name: the
    percentages of percentile stay foldable beside a column named ``array``."""
    spark.createDataFrame([(1, i % 5) for i in range(20)], "array int, x int").createOrReplaceTempView("named_cols")
    uri = "p/datasets/d/tables/named_cols"
    fields = [field("p", "select percentile(x, array(0.25, 0.75)) from $table where x > 1"),
              field("s", "select sum(array * x) from $table where x > 1", "double")]
    assert D.fusable(fields)
    raw = D.run_config_per_asset(spark, fields, [(uri, None)], "t", short_name)
    assert [r["raw_value"] for r in raw] == reference_values(spark, fields, uri) == ["[2.0, 4.0]", "36"]
    inv = spark.table("named_cols").withColumn("asset_uri", F.lit(uri))
    assert [r["raw_value"] for r in D.run_config_fused(spark, fields, inv, "t").collect()] == ["[2.0, 4.0]", "36"]


def test_failing_task_without_a_pass_runs_once(spark):
    """A task whose statement fails at run time is recorded once: its one
    statement is the only one it runs."""
    errors = []
    failing = [field("div", "select 1 div 0", "double")]
    assert D.run_config_per_asset(spark, failing, [(URI, None)], "t", short_name, errors=errors) == []
    (uri, msg), = errors
    assert uri == URI and "DIVIDE_BY_ZERO" in msg


# divides by zero on each order's first line, which every predicate below skips
DIV = "10 div (l_linenumber - 1)"
UNIQUE_KEY = f"{DIV} * 10000000 + l_orderkey"  # one l_orderkey per maximum
EXACT_TASKS = {
    "distinct under a predicate": (
        [field("n", f"select count(distinct {DIV}) from $table where l_linenumber > 1", "double")], ["5"]),
    "shared subexpression": ([
        field("s", f"select sum({DIV}) from $table where l_linenumber > 1", "double"),
        field("hi", f"select max({DIV}) from $table where l_linenumber > 1", "double"),
        field("lo", f"select min({DIV}) from $table where l_linenumber > 2", "double"),
    ], ["19240", "10", "1"]),
    "predicated daily": ([field("d", f"select max(daily) from (select cast({DIV} as string) as d, "
                                     "count(*) as daily from $table where l_linenumber > 1 group by d)", "double")],
                         ["1749"]),
    "multi-argument distinct": (
        [field("n", f"select count(distinct l_returnflag, {DIV}) from $table where l_linenumber > 1", "double")],
        ["15"]),
    "approx_percentile and max_by": ([
        field("p", f"select approx_percentile(distinct {DIV}, 0.5) from $table where l_linenumber > 1", "double"),
        field("hi", f"select max_by(l_orderkey, {UNIQUE_KEY}) from $table where l_linenumber > 2", "double"),
        field("lo", f"select min_by(l_orderkey, {UNIQUE_KEY}) from $table where l_linenumber > 1", "double"),
    ], ["3", "1498", "1"]),
    "IN subquery": ([field("n", f"select count(distinct {DIV}) from $table where l_linenumber > 1 and l_orderkey "
                                "in (select o_orderkey from orders where o_totalprice > 100000)", "double")], ["5"]),
}


def executor_values(spark, fields):
    """The raw text of ``fields`` over lineitem: per asset, then fused."""
    per_asset = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
    inv = spark.table("lineitem").withColumn("asset_uri", F.lit(URI))
    fused = {r["field_id"]: r["raw_value"] for r in D.run_config_fused(spark, fields, inv, "t").collect()}
    return [r["raw_value"] for r in per_asset], [fused[f["field_id"]] for f in fields]


def test_passes_compute_arguments_only_on_their_predicates_rows(spark):
    """Both executors give the reference statement's values where a pass
    could compute an argument, or a day, on rows the field's WHERE skips:
    an Expanded distinct, a subexpression shared across predicates, a
    predicated day. A set quantifier has no pass: not fusable, and per
    asset the reference statement's scalar subquery."""
    for name, (fields, expected) in EXACT_TASKS.items():
        assert reference_values(spark, fields, URI) == expected, name
        assert executor_values(spark, fields) == (expected, expected), name
    for quantifier in ("distinct", "all"):
        fields = [field("n", f"select {quantifier} count(*) from $table", "double")]
        assert not D.fusable(fields)
        raw = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
        assert [r["raw_value"] for r in raw] == reference_values(spark, fields, URI) == ["6000"]


@given(st.lists(st.tuples(st.sampled_from(["sum({})", "max({})", "count(distinct {})", "approx_percentile({}, 0.5)"]),
                          st.sampled_from(["l_quantity", f"l_quantity + {DIV}"]),
                          st.sampled_from(["", " where l_linenumber > 1", " where l_linenumber > 2"])),
                min_size=1, max_size=3))
@settings(max_examples=25, deadline=None, derandomize=True)
def test_drawn_tasks_match_the_reference_statement(spark, drawn):
    """1-3 drawn aggregate fields per task, each arguments with or without
    a division by zero its predicate may skip: both executors give the
    reference statement's values, or fail like it on division by zero."""
    fields = [field(f"f{i}", f"select {agg.format(arg)} from $table{pred}", "double")
              for i, (agg, arg, pred) in enumerate(drawn)]
    try:
        expected = reference_values(spark, fields, URI)
    except Exception as ex:
        assert "DIVIDE_BY_ZERO" in str(ex)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            inv = spark.table("lineitem").withColumn("asset_uri", F.lit(URI))
            D.run_config_fused(spark, fields, inv, "t").collect()
        return
    assert executor_values(spark, fields) == (expected, expected)


def test_mixed_task_reads_its_table_once_per_pass(spark):
    """10 fusable fields and 1 opaque one run as one statement: the passes
    read lineitem 4 times, the opaque field's scalar subquery once more
    (the reference statement reads it 11 times); the tags are the
    reference statement's."""
    opaque = field("joined", "select count(*) from $table l join orders o on l.l_orderkey = o.o_orderkey",
                   "double")
    fields = TYPED_FIELDS[:9] + [TYPED_FIELDS[13], opaque]
    statement = D.task_statement(spark, fields, URI, None, short_name)
    assert statement._jdf.queryExecution().optimizedPlan().toString().count("Relation [l_") == 5
    raw = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
    assert [r["raw_value"] for r in raw] == reference_values(spark, fields, URI)


AGREEMENT_FIELDS = [
    field("big", "select bool_or(l_quantity > 10) from $table"),
    field("last_ts", "select max(cast(l_shipdate as timestamp)) from $table", "datetime"),
    field("last_day", "select max(cast(l_shipdate as date)) from $table", "datetime"),
    field("nothing", "select 'x' where false"),
    field("half_s", "select max(cast(l_shipdate as timestamp) + interval 500 milliseconds) from $table"),
]


def test_executors_agree_on_text_and_tags(spark):
    """The same fields over one lineitem clone give the same raw text and
    the same typed tags in both executors: booleans as TRUE/FALSE,
    timestamps and dates in the session zone (fractional seconds without
    trailing zeros), a no-row constant NULL."""
    spark.table("lineitem").createOrReplaceTempView("lineitem_clone")
    uri = "p/datasets/d/tables/lineitem_clone"
    per_asset = D.raw_rows_to_df(
        spark, D.run_config_per_asset(spark, AGREEMENT_FIELDS, [(uri, None)], "t", short_name))
    fused = D.run_config_fused(
        spark, AGREEMENT_FIELDS, spark.table("lineitem_clone").withColumn("asset_uri", F.lit(uri)), "t")

    def text(raw):
        return {r["field_id"]: r["raw_value"] for r in raw.collect()}

    def tags(raw):
        return {r["field_id"]: r.asDict() for r in D.coerce_long_rows(raw).drop("updated_ts").collect()}

    assert text(per_asset) == text(fused)
    assert tags(per_asset) == tags(fused)
    assert text(fused) == {"big": "TRUE", "last_ts": "2001-11-04 00:00:00", "last_day": "2001-11-04",
                           "nothing": None, "half_s": "2001-11-04 00:00:00.5"}


def test_per_asset_timestamps_ignore_the_host_zone(spark, monkeypatch):
    """Scalar and richtext timestamps are the session zone's text, also
    when the Python host runs in another zone."""
    fields = [
        field("last_ts", "select max(cast(l_shipdate as timestamp)) from $table", "datetime"),
        field("first_ts", "select distinct cast(l_shipdate as timestamp) from $table order by 1 limit 2",
              "richtext"),
    ]
    in_utc = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        in_new_york = D.run_config_per_asset(spark, fields, [(URI, None)], "t", short_name)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert in_new_york == in_utc
    assert in_utc[0]["raw_value"] == spark.sql(
        "select cast(max(cast(l_shipdate as timestamp)) as string) from lineitem").first()[0]


def test_asset_variables_are_not_fusable(spark, engine_assets):
    """The inventory form substitutes no per-asset variable, so a field
    naming $project, $dataset or $column is not fusable and an
    inventory_view config holding one fails loudly; the per-asset path
    substitutes it."""
    dataset_field = field("ds", "select '$dataset'")
    assert not D.fusable([dataset_field])
    for var in ("$project", "$dataset", "$column"):
        assert not D.fusable([field("n", f"select count(*) from $table where l_returnflag <> '{var}'")])
    raw = D.run_config_per_asset(spark, [dataset_field], [("p/datasets/sales/tables/t1", None)], "t", short_name)
    assert raw[0]["raw_value"] == "sales"

    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "ds", "field_type": "string"}])
    spark.table("lineitem").withColumn("asset_uri", F.lit(URI)).createOrReplaceTempView("inv_lineitem")
    cfg = eng.create_config(
        "DYNAMIC_TAG_TABLE", "t", included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": "ds", "query_expression": "select '$dataset'"}], inventory_view="inv_lineitem",
    )
    with pytest.raises(ValueError, match=r"requires fusable fields; not fusable: \['ds'\]"):
        eng.trigger_job(cfg, engine_assets)


@pytest.fixture(scope="module")
def engine_assets(spark):
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    return spark.createDataFrame(
        [{"asset_uri": URI, "asset_type": "bigquery", "project": "p", "dataset": "d", "table": "lineitem"}],
        ASSETS_SCHEMA,
    )
