"""Glossary (J1) and DLP containment (J2-J4) operator tests."""

from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA
from datacatalog_tag_engine_spark.operators import glossary as G
from datacatalog_tag_engine_spark.operators import sensitive as S


def _assets(spark):
    return spark.createDataFrame(
        [
            {
                "asset_uri": "p/datasets/d/tables/t1",
                "asset_type": "bigquery",
                "project": "p",
                "dataset": "d",
                "table": "t1",
                "schema": [
                    {"name": "email", "type": None, "mode": None, "subcolumns": None},
                    {"name": "misc", "type": None, "mode": None, "subcolumns": None},
                ],
            }
        ],
        ASSETS_SCHEMA,
    )


def test_glossary_match_and_miss(spark):
    mapping = spark.createDataFrame(
        [("email", "email_address"), ("phone", "phone_number")],
        "source_name string, canonical_name string",
    )
    got = G.glossary_matches(_assets(spark), mapping).collect()
    assert len(got) == 1
    assert got[0]["canonical_name"] == "email_address"


def test_glossary_tag_rows_bool_true(spark):
    # the second mapping sends both schema columns to one canonical
    # name: still one row for the one tag field
    for pairs in ([("email", "email_address")], [("email", "email_address"), ("misc", "email_address")]):
        mapping = spark.createDataFrame(pairs, "source_name string, canonical_name string")
        rows = G.glossary_tag_rows(_assets(spark), mapping, "glossary").collect()
        assert len(rows) == 1
        assert rows[0]["field_id"] == "email_address"
        assert rows[0]["raw_value"] == "TRUE"


FINDINGS = [
    ("email_col", "EMAIL_ADDRESS"),
    ("email_col", "PERSON_NAME"),
    ("name_col", "PERSON_NAME"),
]
SELECTION = [
    (["PERSON_NAME"], "NAME"),
    (["EMAIL_ADDRESS", "PERSON_NAME"], "EMAIL_NAME"),
    (["EMAIL_ADDRESS", "PERSON_NAME", "PHONE_NUMBER"], "ALL_PII"),
]


def test_field_infotypes_sorted(spark):
    f = spark.createDataFrame(FINDINGS, "field string, infotype string")
    got = {r["field"]: r["infotypes"] for r in S.field_infotypes(f).collect()}
    assert got["email_col"] == ["EMAIL_ADDRESS", "PERSON_NAME"]


def test_smallest_superset_wins(spark):
    f = spark.createDataFrame(FINDINGS, "field string, infotype string")
    sel = spark.createDataFrame(SELECTION, "field_infotypes array<string>, notable_infotype string")
    got = {r["field"]: r["notable_infotype"] for r in S.select_notable_infotype(S.field_infotypes(f), sel).collect()}
    # email_col has 2 infotypes: EMAIL_NAME (size 2) beats ALL_PII (size 3)
    assert got == {"email_col": "EMAIL_NAME", "name_col": "NAME"}


def test_classify_table(spark):
    f = spark.createDataFrame(FINDINGS, "field string, infotype string")
    sel = spark.createDataFrame(SELECTION, "field_infotypes array<string>, notable_infotype string")
    cls = spark.createDataFrame(
        [
            (["NAME"], "Public_Information"),
            (["NAME", "EMAIL_NAME"], "Sensitive_Personal_Identifiable_Information"),
        ],
        "notable_infotypes array<string>, classification_result string",
    )
    notables = S.select_notable_infotype(S.field_infotypes(f), sel)
    got = S.classify_table(notables, cls).first()
    assert got["classification_result"] == "Sensitive_Personal_Identifiable_Information"


def test_unnest_raw_findings(spark):
    raw = spark.createDataFrame(
        [
            {
                "location": {
                    "content_locations": [
                        {"record_location": {"field_id": {"name": "email"}}}
                    ]
                },
                "info_type": {"name": "EMAIL_ADDRESS"},
            }
        ],
        "location struct<content_locations:array<struct<record_location:struct<field_id:struct<name:string>>>>>, info_type struct<name:string>",
    )
    got = S.unnest_raw_findings(raw).collect()
    assert [(r["field"], r["infotype"]) for r in got] == [("email", "EMAIL_ADDRESS")]


def test_classify_table_no_findings_returns_no_classification(spark):
    """Regression: a table with zero notable infotypes used to get the
    smallest classification (have=[] superset-matches every row)."""
    cls = spark.createDataFrame(
        [(["NAME"], "Public_Information")],
        "notable_infotypes array<string>, classification_result string",
    )
    empty = spark.createDataFrame([], "field string, notable_infotype string")
    assert S.classify_table(empty, cls).count() == 0


def test_copy_policy_tags_and_reapply_preserves_existing(spark):
    """Reference copy_policy_tags (DataCatalogController.py:2059-2087):
    the source's column policy tags land on the target's matching
    columns, and a second apply never strips tags that already exist."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    def asset(uri, cols):
        return {
            "asset_uri": uri, "asset_type": "bigquery", "project": "p",
            "dataset": "d", "table": uri.rsplit("/", 1)[-1],
            "schema": [{"name": c, "type": "STRING", "mode": "NULLABLE",
                        "subcolumns": None} for c in cols],
        }

    assets = spark.createDataFrame(
        [asset("p/datasets/d/tables/src", ["email", "name", "only_src"]),
         asset("p/datasets/d/tables/dst", ["email", "name", "extra"])],
        ASSETS_SCHEMA,
    )
    # seed the source with policy tags via apply_policy_tags
    seed = spark.createDataFrame(
        [("p/datasets/d/tables/src", "email", "pii/email"),
         ("p/datasets/d/tables/src", "only_src", "pii/other")],
        "asset_uri string, column string, policy_tag string",
    )
    tagged = S.apply_policy_tags(assets, seed)
    copied = S.copy_policy_tags(tagged, "p/datasets/d/tables/src", "p/datasets/d/tables/dst")
    by_asset = {
        r["asset_uri"]: {c["name"]: c["policy_tag"] for c in r["schema"]}
        for r in copied.collect()
    }
    dst = by_asset["p/datasets/d/tables/dst"]
    assert dst["email"] == "pii/email"      # matching column copied
    assert dst["name"] is None and dst["extra"] is None
    # the SOURCE's own tags survived the second rewrite (regression:
    # apply_policy_tags used to null every column without a request)
    src = by_asset["p/datasets/d/tables/src"]
    assert src["email"] == "pii/email" and src["only_src"] == "pii/other"


def test_copy_policy_tags_noop_on_never_tagged_catalog(spark):
    """Regression: a catalog whose schema structs have no policy_tag
    field (nothing ever applied) must be a no-op, not an
    AnalysisException."""
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/src", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "src",
          "schema": [{"name": "email", "type": "STRING", "mode": "NULLABLE",
                      "subcolumns": None}]}],
        ASSETS_SCHEMA,
    )
    out = S.copy_policy_tags(assets, "p/datasets/d/tables/src", "p/datasets/d/tables/dst")
    assert out.schema == assets.schema
    assert out.count() == 1
