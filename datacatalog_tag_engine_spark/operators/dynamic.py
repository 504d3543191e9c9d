"""Dynamic tag execution (SURVEY.md sections 2.10, 3, 4-R9).

The reference evaluates one SQL statement per (asset, field) in BigQuery
(reference: apply_dynamic_table_config, DataCatalogController.py:250-330)
and only fuses per-column field queries into a single multi-subquery
statement (combine_queries, :488-495). Two executors here; the engine
picks one from the config's shape alone, never from its asset count.
Both build their aggregate passes with one function, ``_passes``, and
a pass computes a field's expressions only on the rows its WHERE keeps.

* ``run_config_per_asset`` — for every config that names no
  ``inventory_view`` and every (asset, column) pair of a column config.
  A task's scalar fields run as one statement (``task_statement``):
  fields of the profiling family below read the task's passes over its
  relation, constants and opaque SQL run as scalar subqueries of the
  same select, the reference's column-path fusion. Richtext fields run
  separately: they collect all result rows (reference run_query
  :1797-1806 first-row-wins vs richtext-collect). Tasks run through
  ``run_tasks``, the one per-asset pool: ``POOL_WIDTH`` concurrent
  jobs, a failing task recorded, not fatal; the engine's per-asset
  column discovery uses it too.

* ``run_config_fused`` — the scale path (SURVEY R9), for configs that
  name an ``inventory_view``: ONE DataFrame holding every matched
  asset's rows keyed by ``asset_uri``. Every field expression must
  belong to the profiling family the reference's own load tests use
  (examples/load/configs/dynamic_table_500.json) — ``select AGG from
  $table [where PRED]``, the nested avg-of-daily-counts form, or a
  constant. Its passes group by asset over a plan with a single scan
  leaf, whatever the asset count.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import coercion
from ..session import local_df
from .substitution import parse_query_expression, split_resource_uri

# ---------------------------------------------------------------------------
# shared: raw (stringly) field values -> typed long tag rows

RAW_LONG_SCHEMA = T.StructType(
    [
        T.StructField("asset_uri", T.StringType(), False),
        T.StructField("column", T.StringType(), True),
        T.StructField("template_id", T.StringType(), False),
        T.StructField("field_id", T.StringType(), False),
        T.StructField("field_type", T.StringType(), False),
        T.StructField("raw_value", T.StringType(), True),
    ]
)


def raw_rows_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return local_df(spark, rows, RAW_LONG_SCHEMA)


def coerce_long_rows(df: DataFrame, bool_mode: str = "query") -> DataFrame:
    """Turn (asset_uri, column, template_id, field_id, field_type,
    raw_value STRING) into typed tags-table rows.

    bool_mode 'query' uses Python-truthiness semantics (reference
    :1872-1875); 'csv' uses the 'TRUE'-literal rule (:1510-1521).
    """
    ft = F.col("field_type")
    raw = F.col("raw_value")
    bool_coerce = (
        coercion.coerce_bool_truthy(raw) if bool_mode == "query" else coercion.coerce_bool_from_string(raw)
    )
    is_ts = ft.isin("datetime", "timestamp")
    return df.select(
        "asset_uri",
        "column",
        "template_id",
        "field_id",
        "field_type",
        F.when(ft.isin("string", "enum", "richtext"), coercion.coerce_string(raw)).alias(
            "field_value_string"
        ),
        F.when(ft == "double", coercion.coerce_double(raw)).alias("field_value_double"),
        F.when(ft == "bool", bool_coerce).alias("field_value_bool"),
        F.when(is_ts, coercion.coerce_timestamp(raw)).alias("field_value_ts"),
        F.lit(None).cast("string").alias("job_uuid"),
        F.current_timestamp().alias("updated_ts"),
    )


# ---------------------------------------------------------------------------
# per-asset executor (semantics-exact, parallel jobs)


def _stringify(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


# concurrent Spark jobs in one per-asset run: the driver-side analogue
# of the reference's task fan-out (TaskManager.py:234-268)
POOL_WIDTH = 8


def run_tasks(
    fn: Callable[[str, str | None], object],
    tasks: list[tuple[str, str | None]],
    errors: list | None,
) -> list:
    """``fn(asset_uri, column)`` for every task, ``POOL_WIDTH`` at a
    time; results in task order. A failing task does not abort the
    run: its result is None and ``(asset_uri, message)`` is appended to
    ``errors``, the message naming the column when the task has one —
    the reference's per-task error semantics (run_query catches and
    logs, DataCatalogController.py:1813-1816; task status ERROR,
    TaskManager.py:143-155). With ``errors`` None the failure raises."""

    def guarded(task):
        try:
            return fn(*task)
        except Exception as ex:
            if errors is None:
                raise
            uri, column = task
            where = "" if column is None else f"column {column}: "
            errors.append((uri, f"{where}{type(ex).__name__}: {ex}"))
            return None

    with ThreadPoolExecutor(max_workers=POOL_WIDTH) as pool:
        return list(pool.map(guarded, tasks))


def run_config_per_asset(
    spark: SparkSession,
    fields: list[dict],
    tasks: list[tuple[str, str | None]],
    template_id: str,
    qualify: Callable[[str, str, str], str],
    errors: list | None = None,
) -> list[dict]:
    """Evaluate config fields per ``(asset_uri, column)`` task (column
    None for table-level tags); returns raw long rows as dicts (feed
    through ``coerce_long_rows``). A task's scalar fields run as its one
    ``task_statement``; ``run_tasks`` runs the tasks as concurrent Spark
    jobs and records a failing one in ``errors``."""

    scalar_fields = [f for f in fields if f["field_type"] != "richtext"]
    richtext_fields = [f for f in fields if f["field_type"] == "richtext"]

    def one_task(uri: str, column: str | None) -> list[dict]:
        def row(f: dict, raw_value: str | None) -> dict:
            return {
                "asset_uri": uri,
                "column": column,
                "template_id": template_id,
                "field_id": f["field_id"],
                "field_type": f["field_type"],
                "raw_value": raw_value,
            }

        rows: list[dict] = []
        if scalar_fields:
            result = _timestamps_as_text(task_statement(spark, scalar_fields, uri, column, qualify)).first()
            rows += [row(f, _stringify(result[i])) for i, f in enumerate(scalar_fields)]
        for f in richtext_fields:
            q = parse_query_expression(uri, f["query_expression"], column, qualify)
            values = [r[0] for r in _timestamps_as_text(spark.sql(q)).collect()]
            rows.append(row(f, "<br>".join(str(v) for v in values) if values else None))
        return rows

    return [r for rows in run_tasks(one_task, tasks, errors) for r in rows or ()]


def _timestamps_as_text(df: DataFrame) -> DataFrame:
    """``df`` with its timestamps rendered to text by the JVM in the
    session time zone: collected, they would be naive host-local
    datetimes, whose text ``coerce_timestamp`` reads as UTC."""
    df = df.toDF(*(f"_{i}" for i in range(len(df.columns))))
    return df.select(*(F.col(c.name).cast("string") if isinstance(c.dataType, T.TimestampType) else c.name
                       for c in df.schema))


# ---------------------------------------------------------------------------
# one compiler for both executors: a field expression -> aggregate columns

_SIMPLE_RE = re.compile(
    r"^\s*select\s+(?P<agg>.+?)\s+from\s+\$table\s*(?:where\s+(?P<pred>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# avg-of-daily-counts nested form (reference load config dynamic_table_500)
_DAILY_RE = re.compile(
    r"^\s*select\s+(?P<outer>.+?)\s+from\s+\(\s*select\s+(?P<day>.+?)\s+(?:as\s+)?(?P<dayalias>\w+)\s*,\s*count\(\*\)\s+(?:as\s+)?(?P<cntalias>\w+)\s+from\s+\$table\s*(?:where\s+(?P<pred>.+?))?\s+group\s+by\s+(?P<grp>\w+)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# clauses after a WHERE that a FILTER (WHERE ...) aggregate cannot carry
_TRAILING_CLAUSE_RE = re.compile(r"\b(?:group\s+by|order\s+by|having|limit)\b", re.IGNORECASE)
# a pass needs an aggregate call: select 'x' from t gives one row over any table
_AGG_CALL_RE = re.compile(
    r"\b(?:count|count_if|sum|try_sum|avg|try_avg|mean|min|max|min_by|max_by|median|mode|first|last|"
    r"any_value|every|bool_and|bool_or|stddev\w*|var_pop|var_samp|variance|percentile\w*|corr|covar_\w+|"
    r"approx_count_distinct|approx_percentile|collect_list|collect_set|\w+_agg)\s*\(", re.IGNORECASE)
# FILTER binds to one aggregate call (max(a) - min(a) FILTER ... filters min only)
_ONE_CALL_RE = re.compile(r"\s*\w+\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)\s*")
_LITERAL_RE = re.compile(r"'(?:[^']|'')*'")
# Spark refuses a non-deterministic FILTER (WHERE ...) of an aggregate
_NONDETERMINISTIC_RE = re.compile(r"\b(?:rand\w*|uniform|uuid|shuffle|monotonically_\w+|spark_partition_id|input_\w+)\s*\(", re.I)


def _top_level_items(sql: str) -> list[str]:
    """``sql`` split at its commas outside parentheses and string literals."""
    items, depth, start = [], 0, 0
    for m in re.finditer(rf"{_LITERAL_RE.pattern}|[(),]", sql):
        depth += (m.group() == "(") - (m.group() == ")")
        if m.group() == "," and depth == 0:
            items.append(sql[start:m.start()])
            start = m.end()
    return items + [sql[start:]]


def classify_expression(query_expression: str) -> tuple[str, dict]:
    """Classify one field expression into a fusable family: 'constant'
    (no $table), 'simple' (agg [+ filter]), 'daily' (avg-of-daily-counts)
    or 'opaque'. A family member's aggregate pass gives its scalar
    statement's value: no $table outside ``from $table``; one select item,
    no set quantifier, a deterministic predicate; a simple one calls an
    aggregate outside a window, one call under a predicate; a daily form
    groups by its day, its predicated outer reading only the count (NULL
    on a no-match day)."""
    if "$table" not in query_expression:
        return "constant", {"sql": query_expression}
    m = _DAILY_RE.match(query_expression) or _SIMPLE_RE.match(query_expression)
    info = m.groupdict() if m else {}
    select_list = info.get("agg") or info.get("outer") or ""
    if (not m or any("$table" in (v or "") for v in info.values())
            or re.match(r"\s*(?:distinct|all)\b", select_list, re.I) or len(_top_level_items(select_list)) > 1
            or _NONDETERMINISTIC_RE.search(_LITERAL_RE.sub("", info["pred"] or ""))):
        return "opaque", {}
    pred = info["pred"]
    if "day" in info:
        args = re.findall(r"\(([^()]*)\)", info["outer"])
        exact = info["grp"].lower() == info["dayalias"].lower() and not (
            pred and any(a.strip() != info["cntalias"] for a in args))
        return ("daily", info) if exact else ("opaque", {})
    agg = _LITERAL_RE.sub("", info["agg"])
    exact = (
        " from " not in info["agg"].lower()
        and _AGG_CALL_RE.search(agg)
        and not re.search(r"\bover\b", agg, re.I)
        and not (pred and (_TRAILING_CLAUSE_RE.search(pred) or not _ONE_CALL_RE.fullmatch(agg)
                           or not _AGG_CALL_RE.match(agg.lstrip())))
    )
    return ("simple", info) if exact else ("opaque", {})


def _aggregate(info: dict, columns: list[str]) -> Column:
    """A 'simple' field's aggregate, AGG [FILTER (WHERE PRED)]; an argument computed from one of
    ``columns`` (named not as a function) reads as if(PRED, arg, null), computed on PRED's rows
    alone like the reference's, also by an Expand or a hoisted common subexpression (count(*),
    a bare column and literals such as array(0.25, 0.75) stay)."""
    pred = info["pred"]
    if not pred:
        return F.expr(info["agg"])
    call, inner = re.fullmatch(r"(\s*\w+\s*\(\s*(?:(?:distinct|all)\b)?)(.*)\)\s*", info["agg"],
                               re.IGNORECASE | re.DOTALL).groups()
    names = rf"\b(?:{'|'.join(map(re.escape, columns))})\b(?!\s*\()"
    args = [f"if(({pred}), ({a}), null)" if re.search(names, _LITERAL_RE.sub("", a), re.I)
            and not re.fullmatch(r"\s*`?\w+`?\s*", a) else a for a in _top_level_items(inner)]
    return F.expr(f"{call} {', '.join(args)}) FILTER (WHERE {pred})")


def _daily_pass(rel: DataFrame, keys: list[str], day_expr: str, members: list[tuple[str, dict]]) -> DataFrame:
    """The daily (name, info) ``members`` of ``day_expr`` in one two-level
    aggregation by ``keys``, with per-field FILTER counts. A predicated
    field's own inner query only emits days having >= 1 matching row, so
    its count wraps in nullif(cnt, 0): the outer avg skips no-match days,
    and when every member has one, only rows one of them keeps compute the day."""
    cnt_aggs, outer_aggs = [], []
    for i, (name, info) in enumerate(members):
        cnt = f"_cnt_{i}"
        pred = info["pred"]
        cnt_aggs.append((F.expr(f"count(*) FILTER (WHERE {pred})") if pred else F.count("*")).alias(cnt))
        outer_sql = re.sub(rf"\b{re.escape(info['cntalias'])}\b", f"nullif({cnt}, 0)", info["outer"])
        outer_aggs.append(F.expr(outer_sql).alias(name))
    if all(preds := [info["pred"] for _, info in members]):
        day_expr = f"if({' or '.join(f'({p})' for p in dict.fromkeys(preds))}, {day_expr}, null)"
    daily = rel.groupBy(*keys, F.expr(day_expr).alias("_day")).agg(*cnt_aggs)
    # re-expose the day under each member's alias in case the outer
    # expression references it (distinct aliases only)
    for alias in {info["dayalias"] for _, info in members} - {"_day"}:
        daily = daily.withColumn(alias, F.col("_day"))
    return daily.groupBy(*keys).agg(*outer_aggs)


def fusable(fields: list[dict]) -> bool:
    """Whether the inventory form runs every field: none opaque or
    richtext, none naming a per-asset variable it cannot substitute."""
    return all(
        classify_expression(f["query_expression"])[0] != "opaque"
        and f["field_type"] != "richtext"
        and not re.search(r"\$(?:project|dataset|column)\b", f["query_expression"])
        for f in fields
    )


def _passes(rel: DataFrame, keys: list[str], classified: list[tuple[str, dict]]) -> DataFrame | None:
    """Every aggregate pass of the ``classified`` fields over ``rel``, grouped
    by ``keys`` and joined on them; field i with a pass is column ``_i``.
    Plain aggregates share one pass; each distinct one gets its own
    (several in one Expand every row, SCALE.md); each daily day expression
    gets one two-level pass. Every pass holds one row per key of ``rel``,
    so the inner join loses none (a full outer one plans dearer joins,
    SCALE.md). None when no field has a pass."""
    plain, passes, days = [], [], {}
    for i, (kind, info) in enumerate(classified):
        if kind == "simple" and re.search(r"\bdistinct\b", info["agg"], re.I):
            passes.append(rel.groupBy(*keys).agg(_aggregate(info, rel.columns).alias(f"_{i}")))
        elif kind == "simple":
            plain.append(_aggregate(info, rel.columns).alias(f"_{i}"))
        elif kind == "daily":
            days.setdefault(info["day"], []).append((f"_{i}", info))
    passes = ([rel.groupBy(*keys).agg(*plain)] if plain else []) + passes
    passes += [_daily_pass(rel, keys, day, members) for day, members in days.items()]
    return reduce(lambda a, b: a.join(b, keys or None, "inner"), passes) if passes else None


def task_statement(spark: SparkSession, fields: list[dict], uri: str, column: str | None,
                   qualify: Callable[[str, str, str], str]) -> DataFrame:
    """One task's scalar fields (column i is field i) as one single-row
    select with the reference statement's values: a field with a pass
    reads it from the passes over the relation ``parse_query_expression``
    names; constants and opaque SQL run as scalar subqueries, over the
    one-row relation of the reference statement when no field has a pass."""
    classified = [classify_expression(parse_query_expression(uri, f["query_expression"], column,
                                                             lambda *_: "$table")) for f in fields]
    passes = None
    if any(k in ("simple", "daily") for k, _ in classified):
        project, dataset, table = split_resource_uri(uri)
        passes = _passes(spark.sql(f"select * from {qualify(project, dataset or '', table or '')}"), [],
                         classified)
    return (spark.sql("select 1") if passes is None else passes).select(*(
        F.col(f"_{i}") if kind in ("simple", "daily")
        else F.expr(f"({parse_query_expression(uri, f['query_expression'], column, qualify)})")
        for i, ((kind, _), f) in enumerate(zip(classified, fields))))


# ---------------------------------------------------------------------------
# fused executor (R9)


def run_config_fused_wide(
    spark: SparkSession,
    fields: list[dict],
    inventory: DataFrame,
) -> DataFrame:
    """The R9 plan, wide shape: the fields' ``_passes`` grouped by asset,
    one naturally-typed column per field.

    ``inventory`` is ONE DataFrame carrying an ``asset_uri`` column (a
    single scan of a partitioned inventory: e.g.
    ``spark.read.parquet(*paths)`` with a path-derived uri, or a table
    partitioned by asset). The plan has exactly one leaf no matter how
    many assets the inventory holds — this is what survives the
    reference's 500k/1M-asset load ladder
    (examples/load/configs/dynamic_table_500k.json), where a
    union-of-N-scans logical plan dies in driver analysis long before
    execution. Constants run as scalar subqueries; a constants-only
    config reads the asset list in one pruned scan.
    """
    inv = inventory.withColumnRenamed("asset_uri", "_asset_uri")
    if "_asset_uri" not in inv.columns:
        raise ValueError("inventory DataFrame needs an asset_uri column")
    classified = [classify_expression(f["query_expression"]) for f in fields]
    result = _passes(inv, ["_asset_uri"], classified) or inv.select("_asset_uri").distinct()
    return result.select("_asset_uri", *(
        (F.expr(f"({info['sql']})") if kind == "constant" else F.col(f"_{i}")).alias(f["field_id"])
        for i, ((kind, info), f) in enumerate(zip(classified, fields))))


def run_config_fused(
    spark: SparkSession,
    fields: list[dict],
    inventory: DataFrame,
    template_id: str,
) -> DataFrame:
    """R9 plan, long shape: the wide result stacked into raw long rows
    (asset_uri, column, template_id, field_id, field_type, raw_value)
    for the coercion/MERGE path, booleans as TRUE/FALSE like
    ``_stringify``. ``inventory`` as in ``run_config_fused_wide``."""
    result = run_config_fused_wide(spark, fields, inventory)
    stacked = []
    for f in fields:
        value = F.col(f["field_id"]).cast("string")
        if isinstance(result.schema[f["field_id"]].dataType, T.BooleanType):
            value = F.upper(value)
        stacked += [F.lit(f["field_id"]), F.lit(f["field_type"]), value]
    return result.select(
        F.col("_asset_uri").alias("asset_uri"),
        F.lit(None).cast("string").alias("column"),
        F.lit(template_id).alias("template_id"),
        F.stack(F.lit(len(fields)), *stacked).alias("field_id", "field_type", "raw_value"),
    )


# ---------------------------------------------------------------------------
# column discovery (DYNAMIC_TAG_COLUMN configs)

# "select column_name from <...>information_schema.columns [where ...]"
# — the BigQuery idiom the reference's dynamic-column configs run per
# asset (examples/configs/dynamic_column/*.json; evaluation loop
# DataCatalogController.py:374-384)
_INFOSCHEMA_COLUMNS_RE = re.compile(
    r"^\s*select\s+(?:distinct\s+)?column_name\s+"
    r"from\s+[`\"]?\S*information_schema\.columns[`\"]?\s*"
    r"(?:where\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SUBST_VAR_RE = re.compile(r"\$(table|project|dataset|column)\b")

# the scoping conjunct that makes per-asset schema evaluation valid:
# without ``table_name = '$table'`` the reference's per-asset query
# ranges over EVERY table in the dataset's INFORMATION_SCHEMA, which
# the asset's own schema column cannot answer
_TABLE_SCOPE_RE = re.compile(r"table_name\s*=\s*'\$table'", re.IGNORECASE)

# INFORMATION_SCHEMA.COLUMNS columns the schema regime can answer
# (projected in discover_columns_schema), plus the SQL tokens a simple
# predicate may use. Anything outside this closed set — unknown
# identifiers, double-quoted strings, OR (which would unscope the
# table_name conjunct), leftover $vars — routes to the opaque per-asset
# fallback instead of silently mis-answering.
_SCHEMA_PRED_COLUMNS = frozenset(
    {"table_name", "table_schema", "table_catalog", "column_name",
     "data_type", "mode", "is_nullable", "ordinal_position"}
)
# NOTE: no "not" and no "or" — either can invert/escape the
# table_name='$table' scoping conjunct (e.g. ``not (table_name =
# '$table' and ...)`` ranges over OTHER tables), and without a real
# parser we cannot tell a scope-preserving negation from a
# scope-escaping one, so any negation routes to the opaque fallback
_SCHEMA_PRED_KEYWORDS = frozenset(
    {"and", "in", "like", "rlike", "is", "null", "between",
     "true", "false", "lower", "upper", "trim", "substr", "substring",
     "concat", "length", "starts_with", "endswith"}
)
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.$]*")


def _schema_predicate_safe(pred: str) -> bool:
    """True iff a WHERE predicate is provably answerable row-wise
    against one asset's own schema: scoped to ``table_name = '$table'``,
    no OR (which would escape that scope), no double-quoted strings
    (ambiguous literal/identifier), and every identifier drawn from the
    projected INFORMATION_SCHEMA.COLUMNS column set or a small SQL
    keyword allowlist."""
    if not _TABLE_SCOPE_RE.search(pred):
        return False
    if '"' in pred:
        return False
    # only the three EXACT quoted forms ('$table'/'$dataset'/'$project')
    # rewrite to inventory columns in discover_columns_schema — a $var
    # embedded in any OTHER literal (e.g. like '$table%') would survive
    # unsubstituted and silently match nothing, so those predicates must
    # route to the opaque per-asset path (which substitutes everywhere,
    # like the reference's parse_query_expression)
    # literal tokenizer honors SQL quote-escaping ('' inside a literal):
    # tokenize FIRST, then allow $ only in the three exact forms — a
    # naive substring removal of '$table' from the escaped literal
    # '$table''s' (ONE literal whose value is $table's) would leave the
    # fragment 's' and pass the check on exactly the class it guards
    exact_forms = {"'$table'", "'$dataset'", "'$project'"}
    for lit in _LITERAL_RE.findall(pred):
        if "$" in lit and lit not in exact_forms:
            return False
    stripped = _LITERAL_RE.sub("", pred)  # drop string literals
    if "$" in stripped:
        return False
    # postfix negations are AND-conjunct-local (they negate one operand,
    # never the scoping conjunct) — normalize them away so the token
    # scan only sees the dangerous PREFIX ``not``
    stripped = re.sub(r"(?i)\bis\s+not\s+null\b", " is null ", stripped)
    stripped = re.sub(r"(?i)\bnot\s+(in|like|rlike|between)\b", r" \1 ", stripped)
    for tok in _IDENT_RE.findall(stripped):
        t = tok.lower()
        if t in ("or", "not"):
            return False
        if t not in _SCHEMA_PRED_COLUMNS and t not in _SCHEMA_PRED_KEYWORDS:
            return False
    return True


def classify_columns_query(query: str) -> str:
    """Shape of an ``included_columns_query``:

    - ``schema``: a SELECT column_name over INFORMATION_SCHEMA.COLUMNS,
      scoped to the asset's own table with a predicate the schema
      regime provably answers (_schema_predicate_safe) — answerable
      from the assets inventory's ``schema`` column as ONE distributed
      plan for every matched asset (zero per-asset jobs).
    - ``constant``: no substitution variables — asset-independent, so
      one evaluation serves every asset.
    - ``opaque``: arbitrary per-asset user SQL (the fallback; evaluated
      per asset exactly like the reference — including
      INFORMATION_SCHEMA queries whose predicate falls outside the
      provable idiom, e.g. unscoped/OR'd/unknown-column predicates).
    """
    m = _INFOSCHEMA_COLUMNS_RE.match(query)
    if m is not None:
        pred = m.group("pred")
        if pred and _schema_predicate_safe(pred):
            return "schema"
        return "opaque" if _SUBST_VAR_RE.search(query) else "constant"
    if not _SUBST_VAR_RE.search(query):
        return "constant"
    return "opaque"


def discover_columns_schema(matched_assets: DataFrame, query: str) -> DataFrame:
    """Single-pass column discovery for a schema-shaped query: evaluate
    the user's INFORMATION_SCHEMA.COLUMNS predicate against the assets
    inventory's ``schema`` column for ALL matched assets at once.

    The per-asset substitution variables rewrite to the inventory's own
    columns ($table -> table_name, $dataset -> table_schema, $project ->
    table_catalog), so a predicate like ``table_name = '$table'``
    becomes row-wise true exactly for the asset that owns the row —
    identical semantics to the reference's N per-asset query jobs
    (DataCatalogController.py:374-384), as one job. Returns
    (asset_uri, pos, column) with ``pos`` the schema position, so
    callers can preserve the reference's column order.

    100 TB shape: a projection + explode + filter over the inventory —
    no shuffle, no per-asset scheduling; scales to the reference's
    1M-asset ladder as a fraction of one scan."""
    m = _INFOSCHEMA_COLUMNS_RE.match(query)
    if m is None:
        raise ValueError(f"not a schema-shaped columns query: {query!r}")
    pred = m.group("pred")
    if not pred or not _schema_predicate_safe(pred):
        # classify_columns_query routes these to the opaque per-asset
        # path; reaching here means a caller skipped classification
        raise ValueError(
            f"predicate not provably schema-answerable (unscoped, OR'd, "
            f"or non-INFORMATION_SCHEMA identifiers): {query!r}"
        )
    cols = matched_assets.select(
        "asset_uri",
        F.col("project").alias("table_catalog"),
        F.col("dataset").alias("table_schema"),
        F.col("table").alias("table_name"),
        F.posexplode("schema").alias("pos", "_c"),
    ).select(
        "asset_uri",
        "table_catalog",
        "table_schema",
        "table_name",
        "pos",
        F.col("_c.name").alias("column_name"),
        F.col("_c.type").alias("data_type"),
        F.col("_c.mode").alias("mode"),
        # the remaining INFORMATION_SCHEMA.COLUMNS columns the predicate
        # allowlist admits, derived from the inventory schema struct
        F.when(F.col("_c.mode") == "REQUIRED", F.lit("NO"))
        .otherwise(F.lit("YES"))
        .alias("is_nullable"),
        (F.col("pos") + 1).alias("ordinal_position"),
    )
    # only quoted substitution forms can appear ( _schema_predicate_safe
    # rejects bare $vars outside string literals )
    for var, col in (
        ("$table", "table_name"),
        ("$dataset", "table_schema"),
        ("$project", "table_catalog"),
    ):
        pred = pred.replace(f"'{var}'", col)
    cols = cols.filter(F.expr(pred))
    return cols.select("asset_uri", "pos", F.col("column_name").alias("column"))
