"""Sensitive-column classification from DLP-style findings (SURVEY.md
J2-J4; reference: DataCatalogController.py:873-984 /
apply_sensitive_column_config).

Reference pipeline, per asset, as three generated BigQuery statements:

1. dlp_sql (:882-886): unnest nested findings records ->
   ``array_agg(distinct infotype) per field``;
2. is_sql (:909-941): for each field, find the SMALLEST
   infotype_selection row whose ``field_infotypes`` array contains ALL
   of the field's infotypes (dynamically generated N-way unnest
   conjunction + ``order by array_length limit 1``);
3. c_sql (:948-984): same containment pattern over the deduped set of
   the table's notable infotypes -> one classification_result.

Spark-first: the N-way unnest conjunction collapses to an
array-containment predicate ``size(array_except(needed, have)) == 0``
against the broadcast selection/classification tables, and "smallest
superset" is ``min_by(row, size(arr))`` — one pass, no per-asset SQL
generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def field_infotypes(findings: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """J2: per-field distinct infotypes, sorted for determinism.

    findings: (field STRING, infotype STRING) — the already-unnested
    shape of the reference's dlp_sql output (the nested-record unnest
    itself is ``explode`` on the struct path when findings arrive raw).
    Returns (field, infotypes ARRAY<STRING> sorted). ``keys`` widens the
    grain for multi-asset batches (e.g. ['asset_uri', 'field']) — the
    engine's one-pass replacement for the reference's per-asset dlp_sql.
    """
    return findings.groupBy(*(keys or ["field"])).agg(
        F.array_sort(F.collect_set("infotype")).alias("infotypes")
    )


def unnest_raw_findings(raw: DataFrame) -> DataFrame:
    """Unnest the reference's raw DLP findings shape
    (location.content_locations[].record_location.field_id.name,
    info_type.name) into (field, infotype) rows."""
    return raw.select(
        F.explode(F.col("location")["content_locations"]).alias("cl"),
        F.col("info_type")["name"].alias("infotype"),
    ).select(F.col("cl")["record_location"]["field_id"]["name"].alias("field"), "infotype")


def select_notable_infotype(
    per_field: DataFrame, selection: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """J3: for each field, the notable_infotype of the smallest selection
    row whose field_infotypes superset-contains the field's infotypes.

    per_field: (field, infotypes ARRAY) from field_infotypes().
    selection: (field_infotypes ARRAY<STRING>, notable_infotype STRING).
    Returns (field, notable_infotype) — fields with no containing row drop.
    """
    joined = per_field.join(
        F.broadcast(selection),
        F.size(F.array_except(per_field["infotypes"], selection["field_infotypes"])) == 0,
        "inner",
    )
    return joined.groupBy(*(keys or ["field"])).agg(
        F.min_by(
            F.col("notable_infotype"),
            F.struct(F.size("field_infotypes"), F.col("notable_infotype")),
        ).alias("notable_infotype")
    )


def policy_tag_requests(
    notables: DataFrame, classed: DataFrame, taxonomy: DataFrame
) -> DataFrame:
    """Second half of the sensitive path (reference
    DataCatalogController.py:1038-1042): every sensitive column of an
    asset whose classification is not Public_Information gets the policy
    tag whose taxonomy category equals the asset's classification.

    notables: (asset_uri, field, notable_infotype) per sensitive column.
    classed:  (asset_uri, classification_result) per asset.
    taxonomy: (policy_tag_name, category) — the reference's
              ListPolicyTags response (:842-845), a tiny dimension.
    Returns (asset_uri, column, policy_tag) — one shuffle on asset_uri;
    the taxonomy joins broadcast.
    """
    keep = classed.filter(F.col("classification_result") != "Public_Information")
    return (
        notables.join(keep, "asset_uri")
        .join(
            F.broadcast(taxonomy),
            F.col("classification_result") == F.col("category"),
        )
        .select(
            "asset_uri",
            F.col("field").alias("column"),
            F.col("policy_tag_name").alias("policy_tag"),
        )
    )


def apply_policy_tags(assets: DataFrame, requests: DataFrame) -> DataFrame:
    """Schema-metadata update (reference apply_policy_tags,
    DataCatalogController.py:1064-1097): rebuild each asset's schema
    array with a ``policy_tag`` on the matching columns, other columns
    untouched (null policy_tag).

    The reference mutates one BQ table schema per asset via
    update_table; here the whole catalog updates in one pass — requests
    collapse to a per-asset column->tag map (grouped on the same
    asset_uri key, broadcast onto the assets scan), and the schema array
    rewrites JVM-side with ``transform``. No shuffle on the assets side.
    """
    # one tag per column: a taxonomy with two policy tags in the same
    # category yields duplicate (asset, column) requests — pick the
    # deterministic min (the reference keeps the first match per field,
    # apply_policy_tags :1075-1081); map_from_entries would otherwise
    # throw DUPLICATE_MAP_KEY at runtime
    one_per_col = requests.groupBy("asset_uri", "column").agg(
        F.min("policy_tag").alias("policy_tag")
    )
    ptmap = one_per_col.groupBy("asset_uri").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("column"), F.col("policy_tag")))
        ).alias("_ptmap")
    )
    joined = assets.join(F.broadcast(ptmap), "asset_uri", "left")
    # a catalog that has been through this rewrite already carries a
    # policy_tag field — columns without a new request KEEP their
    # existing tag (re-applying must not silently strip the catalog)
    has_pt = _has_policy_tag(assets)
    new_schema = F.transform(
        "schema",
        lambda c: F.struct(
            c["name"].alias("name"),
            c["type"].alias("type"),
            c["mode"].alias("mode"),
            c["subcolumns"].alias("subcolumns"),
            F.coalesce(
                F.try_element_at(F.col("_ptmap"), c["name"]),
                c["policy_tag"] if has_pt else F.lit(None).cast("string"),
            ).alias("policy_tag"),
        ),
    )
    return joined.withColumn("schema", new_schema).drop("_ptmap")


def _has_policy_tag(assets: DataFrame) -> bool:
    """Whether the asset catalog's schema structs already carry a
    policy_tag field (i.e. the catalog has been through
    apply_policy_tags at least once)."""
    return any(
        f.name == "policy_tag"
        for f in assets.schema["schema"].dataType.elementType.fields
    )


def copy_policy_tags(assets: DataFrame, source_uri: str, target_uri: str) -> DataFrame:
    """Copy the source asset's column policy tags onto the target's
    matching columns (reference copy_policy_tags,
    DataCatalogController.py:2059-2087, the include_policy_tags arm of
    its copy_tags flow): the source schema's (column, policy_tag) pairs
    become an apply_policy_tags request for the target. Columns present
    only on the source miss the map lookup (ignored, like the
    reference's per-field apply); a source with no policy tags is a
    no-op, like the reference's early return — including a catalog
    whose schema structs don't carry a policy_tag field at all (none
    has ever been applied)."""
    if not _has_policy_tag(assets):
        return assets
    requests = (
        assets.filter(F.col("asset_uri") == source_uri)
        .select(F.explode("schema").alias("_c"))
        .filter(F.col("_c.policy_tag").isNotNull())
        .select(
            F.lit(target_uri).alias("asset_uri"),
            F.col("_c.name").alias("column"),
            F.col("_c.policy_tag").alias("policy_tag"),
        )
    )
    return apply_policy_tags(assets, requests)


def classify_table(
    notables: DataFrame, classification: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """J4: one classification_result for the table: smallest
    classification row whose notable_infotypes contains ALL the table's
    distinct notable infotypes (reference c_sql :948-984).

    notables: (field, notable_infotype) from select_notable_infotype().
    classification: (notable_infotypes ARRAY<STRING>, classification_result STRING).
    Returns a 1-row DataFrame (classification_result STRING), or ZERO
    rows when there is nothing to classify: either the table has no
    non-null notable infotype — a table with no DLP findings has no
    classification (the empty set superset-matches every classification
    row and would mislabel a clean table) — or no classification row
    superset-matches the table's infotype set. Callers must treat the
    empty frame as "unclassified", not index a guaranteed first row.
    ``keys`` widens the grain to one row per table for multi-asset
    batches (e.g. ['asset_uri']), with the key columns first.
    """
    keys = keys or []
    # grouped (not global) aggs: zero input rows -> zero output rows
    grain = [F.col(k) for k in keys] or [F.lit(1).alias("_g")]
    table_set = (
        notables.groupBy(*grain)
        .agg(F.array_sort(F.collect_set("notable_infotype")).alias("have"))
        .filter(F.size("have") > 0)
    )
    joined = table_set.join(
        F.broadcast(classification),
        F.size(F.array_except(F.col("have"), F.col("notable_infotypes"))) == 0,
        "inner",
    )
    return (
        joined.groupBy(*grain)
        .agg(
            F.min_by(
                F.col("classification_result"),
                F.struct(F.size("notable_infotypes"), F.col("classification_result")),
            ).alias("classification_result")
        )
        .select(*keys, "classification_result")
    )
