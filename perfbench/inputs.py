"""Seeded input generation for the tag-lifecycle benchmark.

Everything the engine sees is derived from one integer seed: table
contents, inventory names, dataset fan-out, sensitive findings and the
tag snapshot (the stale set, the interactive operation sequence and the
lookup order are drawn in perfbench/workloads.py). Inputs are written
as parquet with numpy + pyarrow (no Spark jobs), so generation cost
stays small and separate from what the engine does with them.

Three inputs:

* ``write_tpch_dir`` -- a small TPC-H-shaped table set (sf0.01 row
  counts) for the interactive workload; the engine discovers it with
  ``TagEngine.create_entries`` exactly like a user's directory of files.
* ``make_catalog`` -- a synthetic catalog inventory (projects x datasets
  x tables, each table with a ``schema`` array), a lineitem-shaped
  ``inventory_view`` keyed by ``asset_uri``, and DLP-style findings, for
  the catalog workload. It also returns the expected tag counts the
  correctness checks compare against.
* ``write_tag_snapshot`` -- the tag state and audit history a full
  refresh of that catalog leaves behind, in ``TagEngine.save_state``
  layout.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 11-expression profile of the reference's dynamic_table load-test
# configs: plain and filtered aggregates, two count-distincts and two
# nested avg-of-daily-counts forms -- all in the fusable family
PROFILE_FIELDS = [
    {"field_id": "row_count", "field_type": "double",
     "query_expression": "select count(*) from $table"},
    {"field_id": "unique_orders", "field_type": "double",
     "query_expression": "select count(distinct l_orderkey) from $table"},
    {"field_id": "unique_parts", "field_type": "double",
     "query_expression": "select count(distinct l_partkey) from $table"},
    {"field_id": "open_count", "field_type": "double",
     "query_expression": "select count(*) from $table where l_linestatus = 'O'"},
    {"field_id": "closed_count", "field_type": "double",
     "query_expression": "select count(*) from $table where l_linestatus = 'F'"},
    {"field_id": "flagged_count", "field_type": "double",
     "query_expression": "select count(*) from $table where l_returnflag = 'R'"},
    {"field_id": "max_ship_date", "field_type": "datetime",
     "query_expression": "select max(cast(l_shipdate as date)) from $table"},
    {"field_id": "total_qty", "field_type": "double",
     "query_expression": "select cast(sum(l_quantity) as bigint) from $table"},
    {"field_id": "avg_qty", "field_type": "double",
     "query_expression": "select ifnull(round(avg(l_quantity), 2), 0) from $table"},
    {"field_id": "avg_daily_rows", "field_type": "double",
     "query_expression": "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) as d, count(*) as daily from $table group by d)"},
    {"field_id": "avg_daily_open", "field_type": "double",
     "query_expression": "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) as d, count(*) as daily from $table where l_linestatus = 'O' group by d)"},
]

# the reference's static_asset load-test shape: 7 fields per tag
STATIC_FIELDS = [
    ("data_domain", "string"),
    ("data_owner", "string"),
    ("data_confidentiality", "enum"),
    ("data_retention_days", "double"),
    ("is_certified", "bool"),
    ("last_reviewed", "datetime"),
    ("business_unit", "string"),
]
CONFIDENTIALITY = ["PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]
DATASET_FIELDS = [("dataset_owner", "string"), ("dataset_tier", "string")]

INFOTYPES = ["PERSON_NAME", "EMAIL_ADDRESS", "PHONE_NUMBER", "CREDIT_CARD_NUMBER", "US_SOCIAL_SECURITY_NUMBER"]
# smallest-superset classification: an asset whose notable infotypes
# are only PERSON_NAME is Public_Information (no sensitive tags); any
# card/SSN finding makes it Sensitive; everything else is Personal
CLASSIFICATION = [
    (["PERSON_NAME"], "Public_Information"),
    (["EMAIL_ADDRESS", "PERSON_NAME", "PHONE_NUMBER"], "Personal_Information"),
    (sorted(INFOTYPES), "Sensitive_Personal_Information"),
]

_COLUMN_VOCAB = [
    ("id", "int64"), ("name", "string"), ("email", "string"), ("phone", "string"),
    ("amount", "double"), ("created_at", "timestamp[us]"), ("status", "string"),
    ("country", "string"), ("score", "double"), ("card_number", "string"),
    ("ssn", "string"), ("notes", "string"), ("qty", "int64"), ("updated_at", "timestamp[us]"),
]
_WORDS = ["orders", "events", "users", "payments", "clicks", "invoices", "sessions",
          "shipments", "reviews", "accounts", "ledger", "audit", "profiles", "carts"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _lineitem_columns(rng: np.random.Generator, n: int, orders: int, parts: int, supps: int) -> dict:
    ship = rng.integers(8036, 10561, n)  # 1992-01-02 .. 1998-12-01
    return {
        "l_orderkey": pa.array(rng.integers(1, orders * 4 + 1, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, parts + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, supps + 1, n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.where(ship < 9298, "F", "O")),
        "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
    }


# -- interactive: a TPC-H-shaped directory ---------------------------------

# sf0.01 row counts; the three extra lineitem-shaped tables give the
# DYNAMIC_TAG_TABLE jobs 1-4 profilable assets
TPCH_ROWS = {"region": 5, "nation": 25, "supplier": 100, "customer": 1500,
             "part": 2000, "orders": 15000, "lineitem": 60000}
LINEITEM_TABLES = ("lineitem", "lineitem_east", "lineitem_west", "lineitem_north")
EXTRA_LINEITEM_ROWS = 40000


def write_tpch_dir(directory: str, seed: int) -> dict[str, int]:
    """Write the interactive table set; returns table -> row count."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(directory, exist_ok=True)
    n = dict(TPCH_ROWS, **{t: EXTRA_LINEITEM_ROWS for t in LINEITEM_TABLES[1:]})
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5), pa.int64()),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25), pa.int64()),
                   "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
                   "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int64())},
        "supplier": {"s_suppkey": pa.array(np.arange(1, 101), pa.int64()),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, 101)]),
                     "s_nationkey": pa.array(rng.integers(0, 25, 100), pa.int64()),
                     "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 100), 2))},
        "customer": {"c_custkey": pa.array(np.arange(1, 1501), pa.int64()),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, 1501)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, 1500), pa.int64()),
                     "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 1500), 2)),
                     "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, 1500)])},
        "part": {"p_partkey": pa.array(np.arange(1, 2001), pa.int64()),
                 "p_brand": pa.array([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (2000, 2))]),
                 "p_size": pa.array(rng.integers(1, 51, 2000), pa.int64()),
                 "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, 2000), 2))},
        "orders": {"o_orderkey": pa.array(np.arange(1, 15001) * 4, pa.int64()),
                   "o_custkey": pa.array(rng.integers(1, 1501, 15000), pa.int64()),
                   "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, 15000)]),
                   "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, 15000), 2)),
                   "o_orderdate": pa.array(rng.integers(8036, 10440, 15000).astype(np.int32), pa.date32())},
    }
    for t in LINEITEM_TABLES:
        tables[t] = _lineitem_columns(rng, n[t], 15000, 2000, 100)
    for name, cols in tables.items():
        _write(pa.table(cols), os.path.join(directory, f"{name}.parquet"))
    return n


# -- catalog: a synthetic inventory ----------------------------------------


@dataclass
class Catalog:
    """Paths of the generated parquet inputs plus the expectations the
    correctness checks compare the engine's output against."""

    assets_path: str
    inventory_path: str
    findings_path: str
    projects: list[str]
    datasets: list[tuple[str, str]]
    table_uris: np.ndarray
    dynamic_uri: str  # included uris of the fused DYNAMIC_TAG_TABLE config
    dynamic_excluded: str
    static_values: dict
    # expected tag rows per table asset, by template
    fused_assets: np.ndarray  # bool per table asset: has fused profile tags
    sensitive_rows: np.ndarray  # int per table asset

    @property
    def n_tables(self) -> int:
        return len(self.table_uris)

    def expected_tags_per_table(self) -> np.ndarray:
        return (len(STATIC_FIELDS) + len(PROFILE_FIELDS) * self.fused_assets
                + self.sensitive_rows)

    def expected_store_rows(self) -> int:
        return int(self.expected_tags_per_table().sum()) + len(self.datasets) * len(DATASET_FIELDS)


def make_catalog(directory: str, seed: int, n_tables: int, inventory_rows: int,
                 n_projects: int = 4, n_datasets: int = 100) -> Catalog:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(directory, exist_ok=True)
    tag = rng.integers(0, 16 ** 4)
    projects = [f"proj{i}-{tag:04x}" for i in range(n_projects)]
    # dataset fan-out: Dirichlet-weighted, so a few datasets hold most
    # tables like a real catalog
    ds_project = np.sort(rng.integers(0, n_projects, n_datasets))
    ds_project[:n_projects] = np.arange(n_projects)  # every project has a dataset
    ds_project.sort()
    datasets = [(projects[p], f"ds{j:03d}_{_WORDS[rng.integers(len(_WORDS))]}")
                for j, p in enumerate(ds_project)]
    weights = rng.dirichlet(np.full(n_datasets, 0.7))
    t_ds = np.sort(rng.choice(n_datasets, size=n_tables, p=weights))
    t_proj = ds_project[t_ds]
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), n_tables)]
    uris = np.array([f"{datasets[d][0]}/datasets/{datasets[d][1]}/tables/t{i:06d}_{w}"
                     for i, (d, w) in enumerate(zip(t_ds, words))])

    # schema arrays: 3..8 columns per table from the vocabulary
    ncols = rng.integers(3, 9, n_tables)
    offsets = np.concatenate([[0], np.cumsum(ncols)]).astype(np.int32)
    col_idx = np.concatenate([rng.choice(len(_COLUMN_VOCAB), k, replace=False) for k in ncols])
    vocab_names = np.array([c[0] for c in _COLUMN_VOCAB])
    vocab_types = np.array([c[1] for c in _COLUMN_VOCAB])
    col_names = vocab_names[col_idx]
    sub_t = pa.list_(pa.struct([("name", pa.string()), ("type", pa.string())]))
    struct = pa.StructArray.from_arrays(
        [pa.array(col_names), pa.array(vocab_types[col_idx]),
         pa.array(np.full(len(col_idx), "NULLABLE")), pa.nulls(len(col_idx), sub_t)],
        names=["name", "type", "mode", "subcolumns"],
    )
    schema_arr = pa.ListArray.from_arrays(pa.array(offsets), struct)

    base_us = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 10 ** 6
    created = base_us + rng.integers(0, 180 * 86400, n_tables) * 10 ** 6
    updated = created + rng.integers(0, 180 * 86400, n_tables) * 10 ** 6
    n_ds = len(datasets)
    ts_t = pa.timestamp("us", tz="UTC")
    assets = pa.table({
        "asset_uri": pa.array(list(uris) + [f"{p}/datasets/{d}" for p, d in datasets]),
        "asset_type": pa.array(["bigquery"] * (n_tables + n_ds)),
        "project": pa.array([projects[p] for p in t_proj] + [p for p, _ in datasets]),
        "dataset": pa.array([datasets[d][1] for d in t_ds] + [d for _, d in datasets]),
        "table": pa.array([u.rsplit("/", 1)[1] for u in uris] + [None] * n_ds, pa.string()),
        "schema": pa.concat_arrays([schema_arr, pa.nulls(n_ds, schema_arr.type)]),
        "num_rows": pa.array(np.concatenate([rng.integers(0, 10 ** 7, n_tables), np.zeros(n_ds, int)]), pa.int64()),
        "size_bytes": pa.array(np.concatenate([rng.integers(0, 10 ** 10, n_tables), np.zeros(n_ds, int)]), pa.int64()),
        "created_ts": pa.array(np.concatenate([created, np.full(n_ds, base_us)]), ts_t),
        "updated_ts": pa.array(np.concatenate([updated, np.full(n_ds, base_us)]), ts_t),
    })
    assets_path = os.path.join(directory, "assets.parquet")
    _write(assets, assets_path)

    # fused DYNAMIC_TAG_TABLE: project 0 minus its first dataset; the
    # inventory view spreads lineitem rows over project 0's and project
    # 1's tables, so the left-semi join on matched assets has rows to drop
    excluded_ds = datasets[0][1]
    dyn_uri = f"bigquery/project/{projects[0]}"
    dyn_excl = f"bigquery/project/{projects[0]}/dataset/{excluded_ds}/*"
    eligible = np.flatnonzero(t_proj <= min(1, n_projects - 1))
    owner = eligible[rng.integers(0, len(eligible), inventory_rows)]
    li = _lineitem_columns(rng, inventory_rows, inventory_rows // 4, 20000, 1000)
    inv = pa.table({"asset_uri": pa.array(uris[owner]), **li})
    inventory_path = os.path.join(directory, "inventory.parquet")
    _write(inv, inventory_path)
    matched = (t_proj == 0) & (t_ds != 0)
    has_rows = np.zeros(n_tables, bool)
    has_rows[np.unique(owner)] = True
    fused_assets = matched & has_rows

    # sensitive findings on ~6% of tables: each finding names one of the
    # asset's own columns and one infotype
    with_findings = np.flatnonzero(rng.random(n_tables) < 0.06)
    f_uri, f_field, f_type = [], [], []
    sensitive_rows = np.zeros(n_tables, np.int64)
    for a in with_findings:
        cols = col_names[offsets[a]:offsets[a + 1]]
        k = int(rng.integers(1, min(4, len(cols)) + 1))
        chosen = rng.choice(cols, k, replace=False)
        # a third of the assets carry only PERSON_NAME -> Public_Information
        public = rng.random() < 0.33
        types = (["PERSON_NAME"] * k if public
                 else list(np.array(INFOTYPES)[rng.integers(0, len(INFOTYPES), k)]))
        f_uri += [uris[a]] * k
        f_field += list(chosen)
        f_type += types
        if set(types) != {"PERSON_NAME"}:
            sensitive_rows[a] = 2 * k  # sensitive_field + sensitive_type per column
    findings = pa.table({"asset_uri": pa.array(f_uri, pa.string()),
                         "field": pa.array(f_field, pa.string()),
                         "infotype": pa.array(f_type, pa.string())})
    findings_path = os.path.join(directory, "findings.parquet")
    _write(findings, findings_path)

    static_values = {
        "data_domain": str(rng.choice(["SALES", "FINANCE", "LOGISTICS", "MARKETING"])),
        "data_owner": f"owner{int(rng.integers(100))}@example.com",
        "data_confidentiality": str(rng.choice(CONFIDENTIALITY)),
        "data_retention_days": str(int(rng.integers(30, 3650))),
        "is_certified": str(rng.choice(["TRUE", "FALSE"])),
        "last_reviewed": f"2025-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 28)):02d} 00:00:00",
        "business_unit": f"bu-{int(rng.integers(1000))}",
    }
    return Catalog(
        assets_path=assets_path, inventory_path=inventory_path, findings_path=findings_path,
        projects=projects, datasets=datasets, table_uris=uris,
        dynamic_uri=dyn_uri, dynamic_excluded=dyn_excl, static_values=static_values,
        fused_assets=fused_assets, sensitive_rows=sensitive_rows,
    )


SNAPSHOT_TS = datetime.datetime(2025, 6, 1, tzinfo=datetime.timezone.utc)


def write_tag_snapshot(cat: Catalog, directory: str, seed: int) -> int:
    """Write the tag state and audit history a full refresh of ``cat``
    leaves behind -- static tags on every table, the fused profile on
    the matched tables with inventory rows, sensitive column tags,
    dataset tags on every dataset -- as the ``tags/`` and ``history/``
    parquet directories of a ``TagEngine.save_state`` snapshot. Tag
    times (2025-06-01) are later than every asset's ``updated_ts``, so
    only assets whose data changes afterwards are stale. Profile values
    are placeholders: a refresh recomputes them. Returns the row count."""
    rng = np.random.default_rng([seed, 4])
    uri, column, template, field_id, ftype = [], [], [], [], []
    value_s, value_d, value_b, value_t = [], [], [], []

    def add(u, col, tmpl, fid, typ, s=None, d=None, b=None, t=None):
        uri.append(u), column.append(col), template.append(tmpl), field_id.append(fid), ftype.append(typ)
        value_s.append(s), value_d.append(d), value_b.append(b), value_t.append(t)

    findings = pq.read_table(cat.findings_path).to_pylist()
    by_asset: dict[str, list[dict]] = {}
    for f in findings:
        by_asset.setdefault(f["asset_uri"], []).append(f)
    static = cat.static_values
    for i, u in enumerate(cat.table_uris):
        u = str(u)
        for f, t in STATIC_FIELDS:
            v = static[f]
            if t == "double":
                add(u, None, "static", f, t, d=float(v))
            elif t == "bool":
                add(u, None, "static", f, t, b=v == "TRUE")
            elif t == "datetime":
                add(u, None, "static", f, t, t=datetime.datetime.fromisoformat(v).replace(tzinfo=datetime.timezone.utc))
            else:
                add(u, None, "static", f, t, s=v)
        if cat.fused_assets[i]:
            for f in PROFILE_FIELDS:
                if f["field_type"] == "datetime":
                    add(u, None, "profile", f["field_id"], "datetime", t=SNAPSHOT_TS)
                else:
                    add(u, None, "profile", f["field_id"], "double", d=float(rng.integers(1, 10 ** 4)))
        if cat.sensitive_rows[i]:
            for f in by_asset[u]:
                add(u, f["field"], "sensitive", "sensitive_field", "bool", b=True)
                add(u, f["field"], "sensitive", "sensitive_type", "string", s=f["infotype"])
    for p, d in cat.datasets:
        add(f"{p}/datasets/{d}", None, "dsmeta", "dataset_owner", "string", s="platform@example.com")
        add(f"{p}/datasets/{d}", None, "dsmeta", "dataset_tier", "string", s="gold")

    n = len(uri)
    ts_t = pa.timestamp("us", tz="UTC")
    tags = pa.table({
        "asset_uri": pa.array(uri), "column": pa.array(column, pa.string()),
        "template_id": pa.array(template), "field_id": pa.array(field_id), "field_type": pa.array(ftype),
        "field_value_string": pa.array(value_s, pa.string()), "field_value_double": pa.array(value_d, pa.float64()),
        "field_value_bool": pa.array(value_b, pa.bool_()), "field_value_ts": pa.array(value_t, ts_t),
        "job_uuid": pa.array(["snapshot"] * n), "updated_ts": pa.array([SNAPSHOT_TS] * n, ts_t),
    })
    rendered = [s if s is not None else
                ("TRUE" if b else "FALSE") if b is not None else
                t.strftime("%Y-%m-%d %H:%M:%S") if t is not None else
                (str(int(d)) if d is not None and d == int(d) else str(d))
                for s, d, b, t in zip(value_s, value_d, value_b, value_t)]
    names = [singular_name(u) + (f"/column/{c}" if c is not None else "") for u, c in zip(uri, column)]
    history = pa.table({
        "event_time": pa.array([SNAPSHOT_TS] * n, ts_t), "asset_name": pa.array(names),
        "column": pa.array(column, pa.string()), "template_id": pa.array(template),
        "field_id": pa.array(field_id), "field_value": pa.array(rendered, pa.string()),
        "action": pa.array(["CREATE"] * n), "tag_creator_account": pa.nulls(n, pa.string()),
        "tag_invoker_account": pa.nulls(n, pa.string()), "job_uuid": pa.array(["snapshot"] * n),
        "event_date": pa.array([SNAPSHOT_TS.date()] * n, pa.date32()),
    })
    for name, table in (("tags", tags), ("history", history)):
        out = os.path.join(directory, name)
        os.makedirs(out, exist_ok=True)
        _write(table, os.path.join(out, "part-00000.parquet"))
    return n


def singular_name(uri: str) -> str:
    """The history table's asset_name form of a resource uri."""
    return uri.replace("/datasets/", "/dataset/").replace("/tables/", "/table/")
