"""URI algebra: wildcard expansion + include/exclude set difference
(SURVEY.md P1/P2/U1; reference: Resources.py:34-74, :149-269).

Reference grammar for BigQuery URIs::

    bigquery/project/<project>                      -> every table in project
    bigquery/project/<project>/dataset/<ds>         -> dataset-level tag
    bigquery/project/<project>/dataset/<ds>/<tbl>   -> table(s)

Wildcard semantics (faithfully reproduced, they are subtle):

* dataset component ``ds*``: CONTAINMENT of the prefix-before-* in the
  dataset id, not a prefix match (reference: Resources.py:153-158
  ``if dataset[:-1] in ds.dataset_id``).
* table component ``a*b*c``: every '*'-separated substring must appear
  somewhere in the FULL table id ``project:dataset.table`` — not just
  the table name (reference: Resources.py:238-251 matches against
  ``table.full_table_id``).
* bare ``*``: all tables in the dataset.
* a comma-separated uri list unions with set semantics (U2).
* excluded_uris are expanded the same way and removed via set
  difference (reference: Resources.py:72) — here a broadcast anti-join.

At scale the ``assets`` inventory is itself a big table; matching is a
single filter pass (regex, codegen'd) with no shuffle, and the
include-minus-exclude difference is an anti-join on asset_uri.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DATASET_TAG = "dataset_tag"
TABLE_TAG = "table_tag"


def parse_uri(uri: str) -> dict:
    """Parse one BigQuery-style uri into its components.

    Returns dict(project, dataset, table, level) where dataset/table may
    be None (project/dataset-level uris) and contain '*' wildcards.
    """
    parts = [p for p in uri.strip().split("/")]
    if len(parts) < 3 or parts[0] != "bigquery" or parts[1] != "project":
        raise ValueError(f"invalid uri: {uri!r}")
    project = parts[2]
    if len(parts) == 3:
        return {"project": project, "dataset": None, "table": None, "level": TABLE_TAG}
    if parts[3] != "dataset" or len(parts) < 5:
        raise ValueError(f"invalid uri (expected 'dataset/<name>'): {uri!r}")
    dataset = parts[4]
    if len(parts) == 5:
        return {"project": project, "dataset": dataset, "table": None, "level": DATASET_TAG}
    if len(parts) == 6:
        return {"project": project, "dataset": dataset, "table": parts[5], "level": TABLE_TAG}
    raise ValueError(f"invalid uri (too many components): {uri!r}")


def _dataset_predicate(dataset: str) -> Column:
    if dataset.endswith("*"):
        # reference: Resources.py:153-158 — containment, not prefix
        return F.col("dataset").contains(dataset[:-1]) if dataset[:-1] else F.lit(True)
    return F.col("dataset") == dataset


def _table_predicate(table: str) -> Column:
    if table == "*":
        return F.lit(True)
    if "*" in table:
        # reference: Resources.py:238-251 — every substring must appear in
        # the full table id project:dataset.table
        full_id = F.concat_ws("", F.col("project"), F.lit(":"), F.col("dataset"), F.lit("."), F.col("table"))
        pred = F.lit(True)
        for sub in table.split("*"):
            if sub:
                pred = pred & full_id.contains(sub)
        return pred
    return F.col("table") == table


def uri_predicate(uri: str) -> Column:
    """Column predicate matching one parsed uri against the assets table.

    A dataset-level uri (no table component) tags the DATASET asset
    itself — the inventory row with table null (reference
    Resources.py:215-219 adds the dataset resource, not its tables) —
    never the tables inside it.
    """
    p = parse_uri(uri)
    pred = F.col("project") == p["project"]
    if p["dataset"] is None:
        return pred & F.col("table").isNotNull()
    pred = pred & _dataset_predicate(p["dataset"])
    if p["level"] == DATASET_TAG:
        return pred & F.col("table").isNull()
    return pred & _table_predicate(p["table"]) & F.col("table").isNotNull()


def expand_uris(assets: DataFrame, uris: str) -> DataFrame:
    """Expand a comma-separated uri list against the assets inventory.

    Union-with-set-semantics across patterns (U2) is a single OR'd
    filter — one scan, no shuffle, no union of subplans.
    """
    preds = [uri_predicate(u) for u in uris.split(",") if u.strip()]
    if not preds:
        return assets.limit(0)
    combined = preds[0]
    for p in preds[1:]:
        combined = combined | p
    return assets.filter(combined)


def expand_included_excluded(assets: DataFrame, included_uris: str, excluded_uris: str | None) -> DataFrame:
    """include - exclude set difference (reference: Resources.py:72).

    Implemented as filter AND NOT(excluded-predicate) rather than an
    anti-join: the exclusion set is defined by predicates, so pushing it
    into the same scan avoids materializing the excluded set entirely.
    """
    included = expand_uris(assets, included_uris)
    if not excluded_uris or not excluded_uris.strip():
        return included
    ex_preds = [uri_predicate(u) for u in excluded_uris.split(",") if u.strip()]
    combined = ex_preds[0]
    for p in ex_preds[1:]:
        combined = combined | p
    return included.filter(~combined)


def parse_spanner_fqn(fqn: str) -> dict:
    """Spanner FQN form ``spanner:project.regional-<region>.<instance>.
    <database>.<table>`` (reference DataCatalogController.py:1288)."""
    if not fqn.startswith("spanner:"):
        raise ValueError(f"not a spanner fqn: {fqn!r}")
    parts = fqn[len("spanner:") :].split(".")
    if len(parts) != 5 or not parts[1].startswith("regional-"):
        raise ValueError(f"malformed spanner fqn: {fqn!r}")
    return {
        "project": parts[0],
        "region": parts[1][len("regional-") :],
        "instance": parts[2],
        "database": parts[3],
        "table": parts[4],
    }


def table_resource_to_uri(table_resource: str) -> str:
    """F2 (reference Resources.py:131-138): BQ 'project:dataset.table' ->
    catalog resource 'project/datasets/dataset/tables/table'."""
    resource = table_resource.replace(":", "/datasets/").replace(".", "/tables/")
    return resource


def dataset_resource_to_uri(dataset_resource: str) -> str:
    """F2 (reference Resources.py:140-147): 'project.dataset' ->
    'project/datasets/dataset'."""
    return dataset_resource.replace(".", "/datasets/")


def uri_to_dotted(uri: str) -> str:
    """F2 (reference DataCatalogController.py:1724): catalog resource ->
    BigQuery dotted name 'project.dataset.table'."""
    return uri.replace("/project/", ".").replace("/datasets/", ".").replace("/tables/", ".")


def bigquery_uri_to_resource(uri: str) -> str:
    """F2 (reference DataCatalogController.py:873-876): config uri
    'bigquery/project/p/dataset/d/t' -> resource 'p/datasets/d/tables/t'."""
    p = parse_uri(uri)
    if p["table"] is None:
        return f"{p['project']}/datasets/{p['dataset']}"
    return f"{p['project']}/datasets/{p['dataset']}/tables/{p['table']}"


def column_exists_in_schema(schema_col: Column, target: str) -> Column:
    """Nested column existence check with dotted ``parent.child`` lookup
    (reference: DataCatalogController.py:333-360 / column_exists_in_table).

    ``schema_col`` is the assets.schema ArrayType(StructType) column.
    """
    if "." in target:
        parent, child = target.split(".", 1)
        return F.exists(
            schema_col,
            lambda c: (c["name"] == parent)
            & F.exists(c["subcolumns"], lambda s: s["name"] == child),
        )
    return F.exists(schema_col, lambda c: c["name"] == target)
