"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry routes through the engine package
(datacatalog_tag_engine_spark) and has a matching ``oracle_sql()``
ANSI-SQL string DuckDB runs on the same parquet views. Column aliases
are kept identical on both sides (the driver hashes values under
sorted column names).

Coverage map (SURVEY.md section 2.10 + training-data operators):
  q01-q10  dynamic tag expression corpus (A1-A4, F5-F7, F15, S7/O4)
  q11-q13  glossary + DLP containment joins (J1-J4, A5-A7)
  q14      top-k (A8/O3)
  q15      URI wildcard algebra (P1/P2/U1)
  q16-q17  $column substitution + combined query (X3, S8/R1)
  q18      delete-when-empty MERGE semantics (2.10 #18) — engine state
  q19      report-table export (S9/S11/S12, F10)
  q20      coverage rollup (J6/A9)
  q21      job ledger rollup (A10/A11)
  q22-q23  usage/event aggregations (T3 batch shape)
  d01-d06  dedup: exact, minhash+LSH, simhash, ngram-jaccard,
           embedding, cross-doc repeated spans
  s01-s04  similarity search: brute-force top-k, LSH bucketed, IVF
           (single- and multi-probe)
  t01-t13  text analysis: tokens, quality, language-id, fingerprint,
           vocabulary, PII redaction, tf-idf, percentiles, chunking,
           benchmark-contamination, repetition signals, sequence
           packing (t12 rows-only: stateful applyInPandas), unigram
           LM scoring
  s05      ANN recall@k evaluation (IVF vs exact brute force)
  s06      k-means-trained IVF (MLlib centroids; rows-only)
  q44-q53  policy tags; training shuffle; mixture sampling; int8
           quantization; dedup apply; dynamic-column profile;
           train/val/test split; incremental corpus delta; end-to-end
           corpus-prep pipeline; per-source token-budget sampling
  d07      semantic dedup (SemDeDup: cell-local dominance, hot-cell salt)
  q54-q56  temperature mixture weights + sample; bloom-prefiltered delta
  s07      product-quantization ADC top-k (codes-only corpus scan)
  t14      hashed-linear quality scorer (hashing-trick projection)
  t15/q57  DSIR importance weights + Gumbel-top-k sample
           (arXiv:2302.03169; exact micro-unit log-ratio sums)
  t16      Gopher quality filter (arXiv:2112.11446 Table A1)
  d08/d09  exact-substring span removal (arXiv:2107.06499) +
           CCNet paragraph dedup (arXiv:1911.00359)
  q58      deterministic training-shard assignment
  t17      interpolated bigram LM score
  s08      hard-negative mining (ANN candidates minus positives)
  q59v2    the cleaning pipeline COMPOSED end-to-end (r7 stage-0
           upgrade of the r6-certified q59): normalize + collapse
           repeated lines -> Gopher gate -> paragraph dedup -> span
           removal -> minhash canonical keep -> shard assignment
           (one DataFrame chain, one oracle)
  t18      BPE merge-list apply (frozen trained artifact replay)
  q60      HLL distinct estimate (exact + within-tolerance flag)
  t19      perplexity buckets (unigram LM + exact percentile cuts)
  t20      quality-classifier trainer (micro-unit GD, weights replay)
  s09/s11  persisted IVF / IVF-PQ index serving (partition-pruned,
           same SQL as the in-memory forms -> hash-checkable)
  s10/s12  IVF-PQ top-k + residual IVFADC (cell pruning x PQ codes)
  q61      clean-ingest batch form (gate -> keep-first dedup)
  q62      deterministic k-per-group sample
  t21-t23  normalize_text; vocab_stats (distributed Zipf rank);
           collapse_repeated_lines
  d10      line-grain corpus dedup (paragraph_dedup parameterization)
  q63-q65  epoch plan (data-constrained scaling); gate-metrics
           monitor (batch form); materialized mixture corpus
  t24-t26  decontamination apply; sliding-window chunking; strip_html
  m02      payload-level image near-dup (perceptual average hash via
           mapInPandas + banded Hamming LSH; payload never shuffled)
  t12b     packing invariants (the t12 packer's oracle-checkable
           derivative: conservation replayed, violation counters zero)
  m03/m04  audio fingerprint near-dup (temporal-delta chromaprint
           shape) + video frame-sequence near-dup (temporally aligned
           per-frame phashes, matching-frame floor)
  d11-d14  source dup profile; n-gram containment pairs (doc-in-doc);
           cross-source overlap matrix; containment dedup in the
           stress-proven exact-first production order
  s13-s15  IVF cell-balance profile; IVF-PQ + exact re-rank (the FAISS
           serving recipe), in-memory and persisted-index forms
  t27-t29  tokenizer fertility (frozen BPE merges); per-source unigram
           JS divergence; Heaps'-law vocab growth curve
  q66-q70  length outliers (median/MAD); event funnel; holdout split
           (leakage-guarded); shard-balance straggler profile; cohort
           retention matrix
  q71      q59v2 extended to the export boundary: minhash canonicals ->
           containment dedup (d14) -> shard assignment -> shard-balance
           profile (q69), one chain, one oracle
  s16-s21  range search; cell inertia; PQ code histogram; embedding
           stats; persisted cell-balance; incremental IVF append
  t30-t32  char coverage; n-gram novelty; top n-grams per source
  q72-q79  gate mixture drift; cluster-size profile; percentile
           tolerance; session funnel; event-rate anomaly; lang x source
           profile; cohort-via-state streaming replay; dirty shards
  m05      media-manifest rollup
  s22-s26  persisted-index lifecycle completed for BOTH layouts:
           delete (rewrite-affected-cells, stage-then-swap durable),
           compact, IVF-PQ append — serve == rebuild identities
  s27      cluster-balanced embedding sample (semantic flattening)
  d15-d17  minhash signature-agreement estimate; estimate-vs-exact
           certification surface; quality-aware canonical selection
  t33      per-source token entropy (nano-unit quantized)
  q80      incremental daily refresh: delta detect -> gate delta only
           -> dirty-shard diff against the prior export
  q82      mixture rebalance weights from the q72 drift table
  q84      assignment-generic dirty-shard planner + range (locality)
           sharding — a trickle append dirties O(delta/width) shards
  q85      streaming session funnel's batch state replay (q78 pattern)
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.session import free_local_checkpoint, register_testdata
from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA, TAGS_SCHEMA
from datacatalog_tag_engine_spark.operators import dynamic as DYN
from datacatalog_tag_engine_spark.operators import export as EXP
from datacatalog_tag_engine_spark.operators import glossary as GLO
from datacatalog_tag_engine_spark.operators import sensitive as SEN
from datacatalog_tag_engine_spark.operators import uri as URI
from datacatalog_tag_engine_spark.operators.substitution import (
    combine_queries,
    parse_query_expression,
)
from datacatalog_tag_engine_spark.pipeline import dedup as DD
from datacatalog_tag_engine_spark.pipeline import profiling as PROF
from datacatalog_tag_engine_spark.pipeline import sampling as SAMP
from datacatalog_tag_engine_spark.pipeline import similarity as SIM
from datacatalog_tag_engine_spark.pipeline import text as TXT
from datacatalog_tag_engine_spark.store.jobs import rollup_tasks
from datacatalog_tag_engine_spark.store.tagstore import TagStore

# ---------------------------------------------------------------------------
# shared fixtures (identical on the Spark and oracle sides)

# Session-scoped cache of persisted ANN index directories, keyed by
# (index kind, sf_dir): s09/s11 previously mkdtemp'd + rebuilt the index
# on EVERY queries() invocation, so min-of-2 bench passes plus driver
# correctness runs leaked one /tmp directory each per round AND folded
# index-build time into every serving measurement. Build-once-per-session
# matches real serving (the index is a persisted artifact, built by an
# offline job); with min-of-2 timing, pass 1 now measures build+search
# and pass 2 (the recorded min) measures pure partition-pruned serving.
# atexit removes whatever this session created.
_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _cached_index(kind: str, sf_dir: str, build) -> str:
    import atexit
    import shutil
    import tempfile

    key = (kind, sf_dir)
    path = _INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")
        build(path)
        _INDEX_CACHE[key] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


LINEITEM_URI = "p/datasets/d/tables/lineitem"
ORDERS_URI = "p/datasets/d/tables/orders"
EVENTS_URI = "p/datasets/d/tables/events"


def _short(project: str, dataset: str, table: str) -> str:
    # test views are registered under the bare table name
    return table

LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]
ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority",
]

# glossary mapping fixture (FIXTURES.md section 5): one source_name that
# matches nothing, and schema columns with no mapping
GLOSSARY_MAPPING = [
    ("l_shipdate", "ship_date"),
    ("l_orderkey", "order_key"),
    ("o_custkey", "customer_key"),
    ("o_orderdate", "order_date"),
    ("zz_missing", "ghost"),
]

# DLP fixtures (FIXTURES.md section 6)
DLP_FINDINGS = [
    ("email_col", "EMAIL_ADDRESS"),
    ("email_col", "PERSON_NAME"),
    ("email_col", "EMAIL_ADDRESS"),
    ("name_col", "PERSON_NAME"),
    ("phone_col", "PHONE_NUMBER"),
    ("phone_col", "EMAIL_ADDRESS"),
]
INFOTYPE_SELECTION = [
    (["EMAIL_ADDRESS"], "EMAIL"),
    (["PERSON_NAME"], "NAME"),
    (["EMAIL_ADDRESS", "PERSON_NAME"], "EMAIL_NAME"),
    (["EMAIL_ADDRESS", "PHONE_NUMBER"], "CONTACT"),
    (["EMAIL_ADDRESS", "PERSON_NAME", "PHONE_NUMBER"], "ALL_PII"),
]

# shared sensitive-classification fixture: the q42 AND q44 builders
# create their DataFrames from these lists, and the q44 oracle renders
# its findings/sel/cls/tax CTEs from the SAME lists via _sql_values —
# one source, so the Spark side and its oracle cannot drift
SENSITIVE_FINDINGS = [
    ("p/datasets/d/tables/users", "email", "EMAIL_ADDRESS"),
    ("p/datasets/d/tables/users", "name", "PERSON_NAME"),
    ("p/datasets/d/tables/public_stuff", "city", "LOCATION"),
]
SENSITIVE_SELECTION = [
    (["EMAIL_ADDRESS"], "EMAIL"),
    (["PERSON_NAME"], "NAME"),
    (["LOCATION"], "LOCATION"),
]
SENSITIVE_CLASSIFICATION = [
    (["EMAIL", "NAME"], "Sensitive_Personal_Identifiable_Information"),
    (["LOCATION"], "Public_Information"),
    (["EMAIL", "NAME", "LOCATION"], "Sensitive_Personal_Identifiable_Information"),
]
SENSITIVE_TAXONOMY = [
    ("taxonomies/t1/policyTags/pii", "Sensitive_Personal_Identifiable_Information"),
    ("taxonomies/t1/policyTags/public", "Public_Information"),
]

# wildcard-expansion asset fixture (FIXTURES.md sections 2, 10)
URI_ASSETS = [
    ("p", "d", "tbl_a"),
    ("p", "d", "tbl_b"),
    ("p", "d", "tbl_ab"),
    ("p", "d", "other"),
    ("p", "d2", "tbl_a"),
    ("p", "extra_d2", "zzz"),
    ("q", "d", "tbl_a"),
]
URI_INCLUDE = "bigquery/project/p/dataset/d/tbl_*, bigquery/project/p/dataset/d2*/*"
URI_EXCLUDE = "bigquery/project/p/dataset/d/tbl_ab"

# export fixture: already-typed tag rows (column=None -> table grain)
EXPORT_TAGS = [
    (LINEITEM_URI, None, "data_governance", "data_domain", "string", "LOGISTICS", None, None, None),
    (LINEITEM_URI, None, "data_governance", "retention_days", "double", None, 180.0, None, None),
    (LINEITEM_URI, None, "data_governance", "is_compliant", "bool", None, None, True, None),
    (LINEITEM_URI, None, "data_governance", "approved_by", "richtext", "alice<br>bob", None, None, None),
    (LINEITEM_URI, "l_orderkey", "data_governance", "data_domain", "string", "KEYS", None, None, None),
    (ORDERS_URI, None, "data_governance", "data_domain", "string", "SALES", None, None, None),
]

# job-ledger task fixture
JOB_TASKS = [
    ("job1", "cfg1", "DYNAMIC_TAG_TABLE", "SUCCESS"),
    ("job1", "cfg1", "DYNAMIC_TAG_TABLE", "SUCCESS"),
    ("job1", "cfg1", "DYNAMIC_TAG_TABLE", "SUCCESS"),
    ("job1", "cfg1", "DYNAMIC_TAG_TABLE", "ERROR"),
    ("job2", "cfg2", "STATIC_TAG_ASSET", "SUCCESS"),
    ("job2", "cfg2", "STATIC_TAG_ASSET", "PENDING"),
]

PROFILE_FIELDS = [
    {"field_id": "row_count", "field_type": "double",
     "query_expression": "select count(*) from $table"},
    {"field_id": "unique_orders", "field_type": "double",
     "query_expression": "select count(distinct l_orderkey) from $table"},
    {"field_id": "open_count", "field_type": "double",
     "query_expression": "select count(*) from $table where l_linestatus = 'O'"},
    {"field_id": "avg_daily_rows", "field_type": "double",
     "query_expression": "select ifnull(round(avg(daily), 2), 0) from (select cast(l_shipdate as date) as d, count(*) as daily from $table group by d)"},
    {"field_id": "data_domain", "field_type": "string",
     "query_expression": "select 'LOGISTICS'"},
]


def _sql_values(rows: list[tuple], quote_cols: set[int] | None = None) -> str:
    """Render python tuples as a SQL VALUES list (strings quoted)."""
    out = []
    for row in rows:
        cells = []
        for v in row:
            if v is None:
                cells.append("NULL")
            elif isinstance(v, str):
                cells.append("'" + v.replace("'", "''") + "'")
            elif isinstance(v, bool):
                cells.append("TRUE" if v else "FALSE")
            elif isinstance(v, list):
                # element rendering mirrors the scalar branches: strings
                # quote-escaped, numbers bare — an apostrophe in an
                # element or a numeric list must not corrupt the SQL
                cells.append(
                    "["
                    + ", ".join(
                        "'" + x.replace("'", "''") + "'" if isinstance(x, str) else str(x)
                        for x in v
                    )
                    + "]"
                )
            else:
                cells.append(str(v))
        out.append("(" + ", ".join(cells) + ")")
    return ", ".join(out)


# ---------------------------------------------------------------------------
# query builders


def _expr_query(expression: str, uri: str = LINEITEM_URI, column: str | None = None):
    """Run one reference-style query expression through the engine's
    substitution path (F1 -> S7)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_testdata(spark, sf_dir)
        return spark.sql(parse_query_expression(uri, expression, column, _short))

    return run


def _uri_assets_df(spark: SparkSession) -> DataFrame:
    rows = [
        {
            "asset_uri": f"{p}/datasets/{d}/tables/{t}",
            "asset_type": "bigquery",
            "project": p,
            "dataset": d,
            "table": t,
        }
        for p, d, t in URI_ASSETS
    ]
    return spark.createDataFrame(rows, ASSETS_SCHEMA)


def _schema_assets_df(spark: SparkSession) -> DataFrame:
    rows = []
    for uri, cols in [(LINEITEM_URI, LINEITEM_COLS), (ORDERS_URI, ORDERS_COLS)]:
        rows.append(
            {
                "asset_uri": uri,
                "asset_type": "bigquery",
                "project": "p",
                "dataset": "d",
                "table": uri.rsplit("/", 1)[-1],
                "schema": [{"name": c, "type": None, "mode": None, "subcolumns": None} for c in cols],
            }
        )
    return spark.createDataFrame(rows, ASSETS_SCHEMA)


def q11_glossary(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapping = spark.createDataFrame(GLOSSARY_MAPPING, "source_name string, canonical_name string")
    return GLO.glossary_matches(_schema_assets_df(spark), mapping)


def q12_infotype_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    findings = spark.createDataFrame(DLP_FINDINGS, "field string, infotype string")
    per_field = SEN.field_infotypes(findings)
    return per_field.select(
        "field", F.concat_ws(",", "infotypes").alias("infotypes")
    )


def q13_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    findings = spark.createDataFrame(DLP_FINDINGS, "field string, infotype string")
    selection = spark.createDataFrame(
        INFOTYPE_SELECTION, "field_infotypes array<string>, notable_infotype string"
    )
    return SEN.select_notable_infotype(SEN.field_infotypes(findings), selection)


def q15_uri_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    return URI.expand_included_excluded(_uri_assets_df(spark), URI_INCLUDE, URI_EXCLUDE).select(
        "asset_uri"
    )


def q17_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    exprs = [
        parse_query_expression(LINEITEM_URI, "select count(*) from $table", None, _short),
        parse_query_expression(LINEITEM_URI, "select count(distinct l_orderkey) from $table", None, _short),
        parse_query_expression(LINEITEM_URI, "select max(cast(l_shipdate as date)) from $table", None, _short),
    ]
    combined = combine_queries(exprs)
    df = spark.sql(combined)
    return df.toDF("row_count", "unique_orders", "last_ship_date")


def q18_delete_when_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = TagStore(spark)
    full = spark.createDataFrame(
        [
            (LINEITEM_URI, None, "t", "owner", "string", "alice", None, None, None, None, None),
            (LINEITEM_URI, None, "t", "domain", "string", "X", None, None, None, None, None),
        ],
        TAGS_SCHEMA,
    )
    empty = spark.createDataFrame(
        [
            (LINEITEM_URI, None, "t", "owner", "string", None, None, None, None, None, None),
            (LINEITEM_URI, None, "t", "domain", "string", None, None, None, None, None, None),
        ],
        TAGS_SCHEMA,
    )
    store.merge(full)
    hist = store.merge(empty)
    n_deletes = hist.filter(F.col("action") == "DELETE").count()
    return spark.createDataFrame(
        [(store.all().count(), n_deletes)], "remaining_tags bigint, delete_events bigint"
    )


def q19_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    tags = spark.createDataFrame(
        [t + (None, None) for t in EXPORT_TAGS], TAGS_SCHEMA
    )
    return EXP.export_table_tags(tags).drop("export_time")


def q20_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = _uri_assets_df(spark)
    tagged = spark.createDataFrame(
        [("p/datasets/d/tables/tbl_a",), ("p/datasets/d/tables/tbl_b",), ("p/datasets/d2/tables/tbl_a",)],
        "asset_uri string",
    )
    tag_counts = tagged.groupBy("asset_uri").count()
    return (
        assets.join(tag_counts, "asset_uri", "left")
        .groupBy("project", "dataset")
        .agg(
            F.count("*").alias("table_count"),
            F.count(F.col("count")).alias("tagged_tables"),
        )
    )


def q21_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tasks = spark.createDataFrame(
        JOB_TASKS, "job_uuid string, config_uuid string, config_type string, status string"
    )
    return rollup_tasks(tasks)


IMPORT_CSV_ROWS = [
    ("p", "d", "tbl1", "alice", "90", "TRUE", "a@x.com, b@x.com"),
    ("p", "d", "tbl2", "bob", "", "FALSE", ""),
]
IMPORT_CSV_SCHEMA = (
    "project string, dataset string, table string, data_owner string, "
    "retention_days string, is_compliant string, approved_by string"
)
IMPORT_TEMPLATE_FIELDS = [
    ("t", "data_owner", None, "string", False, 0, None),
    ("t", "retention_days", None, "double", False, 1, None),
    ("t", "is_compliant", None, "bool", False, 2, None),
    ("t", "approved_by", None, "richtext", False, 3, None),
]

BACKUP_OBJS = [
    {
        "entryGroupId": "d", "id": "tbl1", "locationId": "us", "projectId": "p",
        "tags": [
            {"templateId": "t", "projectId": "p",
             "fields": [{"name": "data_owner", "type": "STRING", "value": "carol"},
                        {"name": "retention_days", "type": "DOUBLE", "value": "30"}]},
            {"templateId": "other", "projectId": "p",
             "fields": [{"name": "data_owner", "type": "STRING", "value": "IGNORED"}]},
        ],
        "columns": [
            {"name": "tbl1:c1",
             "tags": [{"templateId": "t", "projectId": "p",
                       "fields": [{"name": "is_compliant", "type": "BOOL", "value": "TRUE"}]}]}
        ],
    },
    {"entryGroupId": "d", "id": "tbl2", "locationId": "us", "projectId": "OTHER",
     "tags": [{"templateId": "t", "projectId": "OTHER",
               "fields": [{"name": "data_owner", "type": "STRING", "value": "SKIP"}]}],
     "columns": []},
]

# (table, n_columns) for the discovery oracle — stable testdata schemas
TESTDATA_NCOLS = [
    ("region", 2), ("nation", 3), ("customer", 5), ("supplier", 4),
    ("part", 6), ("orders", 6), ("lineitem", 11), ("events", 6),
    ("documents", 5), ("embeddings", 3),
]


def q24_import_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datacatalog_tag_engine_spark.model.schemas import TEMPLATES_SCHEMA
    from datacatalog_tag_engine_spark.operators.importer import melt_to_tag_rows

    csv = spark.createDataFrame(IMPORT_CSV_ROWS, IMPORT_CSV_SCHEMA)
    tf = spark.createDataFrame(IMPORT_TEMPLATE_FIELDS, TEMPLATES_SCHEMA)
    return melt_to_tag_rows(csv, tf, "t")


def q25_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datacatalog_tag_engine_spark.operators.backup import BACKUP_SCHEMA, restore_tag_rows

    backup = spark.createDataFrame(
        [
            (
                o["entryGroupId"], o["id"], o["locationId"], o["projectId"],
                [(t["templateId"], t["projectId"],
                  [(f["name"], f["type"], f["value"]) for f in t["fields"]])
                 for t in o["tags"]],
                [(c["name"],
                  [(t["templateId"], t["projectId"],
                    [(f["name"], f["type"], f["value"]) for f in t["fields"]])
                   for t in c["tags"]])
                 for c in o["columns"]],
                None, None, None,
            )
            for o in BACKUP_OBJS
        ],
        BACKUP_SCHEMA,
    )
    return restore_tag_rows(backup, "t", "p")


def q26_tag_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "owner", "field_type": "string"},
                              {"field_id": "domain", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/src", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "src"}],
        ASSETS_SCHEMA,
    )
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t", included_uris="bigquery/project/p/dataset/d/src",
        fields=[{"field_id": "owner", "field_value": "alice"},
                {"field_id": "domain", "field_value": "OPS"}],
    )
    eng.trigger_job(cfg, assets)
    # the reference's /copy_tags then /update_tag route pair on the
    # same target
    eng.copy_tags("p/datasets/d/tables/src", "p/datasets/d/tables/dst")
    eng.update_tag_subset(
        "t", "p/datasets/d/tables/dst", None,
        [{"field_id": "owner", "field_type": "string", "raw_value": "bob"}],
    )
    return eng.store.all().select("asset_uri", "field_id", "field_value_string")


COLUMN_EXISTS_TARGETS = ["l_orderkey", "parent.child", "parent.nope", "missing"]


def q27_column_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datacatalog_tag_engine_spark.operators.uri import column_exists_in_schema

    assets = spark.createDataFrame(
        [
            {
                "asset_uri": LINEITEM_URI,
                "asset_type": "bigquery",
                "project": "p", "dataset": "d", "table": "lineitem",
                "schema": (
                    [{"name": c, "type": None, "mode": None, "subcolumns": None} for c in LINEITEM_COLS]
                    + [{"name": "parent", "type": "RECORD", "mode": None,
                        "subcolumns": [{"name": "child", "type": "STRING"}]}]
                ),
            }
        ],
        ASSETS_SCHEMA,
    )
    return assets.select(
        "asset_uri",
        *[
            column_exists_in_schema(F.col("schema"), t).alias(f"has_{t.replace('.', '_')}")
            for t in COLUMN_EXISTS_TARGETS
        ],
    )


def q28_assets_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datacatalog_tag_engine_spark.operators.discovery import discover_parquet_assets

    assets = discover_parquet_assets(spark, sf_dir)
    return assets.select("table", "num_rows", F.size("schema").alias("n_columns"))


# the reference's dynamic_table_500 load-test shape: 11 expressions
# (incl. nested daily averages) over N schema-identical assets — the R9
# rewrite computes all of them for all assets in ONE fused pass.
N_CLONES = 10
CLONE_URIS = [f"p/datasets/d/tables/clone_{i:02d}" for i in range(N_CLONES)]
FUSED_FIELDS = [
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


def _clone_inventory(li: DataFrame, uris: list[str]) -> DataFrame:
    """One inventory DataFrame holding a full copy of ``li`` per asset,
    keyed by ``asset_uri`` — the fused executor's input form."""
    return reduce(DataFrame.unionByName, [li.withColumn("asset_uri", F.lit(u)) for u in uris])


def q29_fused_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    inv = _clone_inventory(spark.table("lineitem"), CLONE_URIS)
    wide = DYN.run_config_fused_wide(spark, FUSED_FIELDS, inv)
    return wide.withColumnRenamed("_asset_uri", "asset_uri")


def _docs(spark, sf_dir):
    register_testdata(spark, sf_dir)
    return spark.table("documents")


def _docs_spread(spark, sf_dir):
    """_docs spread across the session width — the t16 precedent
    applied to every CPU-heavy row-local scan (r14): the sf corpus is
    ONE parquet file with ONE row group, so a scan-rooted plan runs
    single-task no matter the core count, and the winnowing/gopher/
    line-profile HOF math serializes onto one core. A real corpus has
    thousands of input splits and needs no repartition; the width
    rides spark.sql.shuffle.partitions — the session's cluster-scale
    knob (guide: fix one-file input skew right after the read).
    Round-robin, not id-keyed: these consumers do no id-grain groupBy
    that could reuse the partitioning."""
    return _docs(spark, sf_dir).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )


def _emb(spark, sf_dir):
    register_testdata(spark, sf_dir)
    return spark.table("embeddings")


def _events(spark, sf_dir):
    register_testdata(spark, sf_dir)
    return spark.table("events")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the R9 fused profiling pass — the reference's
    dynamic_table load-test shape (11 expressions incl. nested daily
    averages, N assets) computed in ONE groupBy job over sf0.001,
    coerced into typed tag rows."""
    register_testdata(spark, "/root/testdata/sf0.001")
    inv = _clone_inventory(spark.table("lineitem"), CLONE_URIS[:4])
    raw = DYN.run_config_fused(spark, FUSED_FIELDS, inv, "data_governance")
    return DYN.coerce_long_rows(raw).drop("updated_ts")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- section 2.10 expression corpus ---
    q["q01_row_count"] = _expr_query("select count(*) as row_count from $table")
    q["q02_count_distinct"] = _expr_query(
        "select count(distinct l_orderkey) as unique_orders from $table"
    )
    q["q03_conditional_count"] = _expr_query(
        "select count(*) as open_count from $table where l_linestatus = 'O'"
    )
    q["q04_not_in_count"] = _expr_query(
        "select count(*) as other_count from $table where l_linestatus not in ('O', 'F')"
    )
    q["q05_avg_daily"] = _expr_query(
        "select ifnull(round(avg(daily), 2), 0) as avg_daily_rows from "
        "(select cast(l_shipdate as date) as d, count(*) as daily from $table group by d)"
    )
    q["q06_avg_daily_filtered"] = _expr_query(
        "select ifnull(round(avg(daily), 2), 0) as avg_daily_clicks from "
        "(select cast(ts as date) as d, count(*) as daily from $table where event_type = 'click' group by d)",
        uri=EVENTS_URI,
    )
    q["q07_constant_string"] = _expr_query("select 'LOGISTICS' as data_domain")
    q["q08_constant_number"] = _expr_query("select 180 as retention_days")
    q["q09_current_timestamp"] = _expr_query(
        "select current_timestamp as tag_snapshot_time"
    )  # rows-only check (non-deterministic value)
    q["q10_freshness"] = _expr_query(
        "select max(o_orderdate) as last_order_date from $table", uri=ORDERS_URI
    )

    # --- joins ---
    q["q11_glossary"] = q11_glossary
    q["q12_infotype_agg"] = q12_infotype_agg
    q["q13_containment"] = q13_containment
    q["q14_topk_users"] = _expr_query(
        "select user_id, count(*) as event_count from $table "
        "group by user_id order by event_count desc, user_id limit 3",
        uri=EVENTS_URI,
    )
    q["q15_uri_algebra"] = q15_uri_algebra
    q["q16_column_distinct"] = _expr_query(
        "select count(distinct $column) as distinct_values from $table", column="l_partkey"
    )
    q["q17_combined"] = q17_combined
    q["q18_delete_when_empty"] = q18_delete_when_empty
    q["q19_export"] = q19_export
    q["q20_coverage"] = q20_coverage
    q["q21_jobs"] = q21_jobs
    q["q29_fused_profile"] = q29_fused_profile
    q["q24_import_melt"] = q24_import_melt
    q["q25_restore"] = q25_restore
    q["q26_tag_copy"] = q26_tag_copy
    q["q27_column_exists"] = q27_column_exists
    q["q28_assets_discovery"] = q28_assets_discovery
    q["q22_usage_daily"] = _expr_query(
        "select cast(ts as date) as event_date, event_type, count(*) as n "
        "from $table group by event_date, event_type",
        uri=EVENTS_URI,
    )
    q["q23_event_stats"] = _expr_query(
        "select event_type, count(*) as n, round(min(value), 4) as min_value, "
        "round(max(value), 4) as max_value from $table group by event_type",
        uri=EVENTS_URI,
    )

    # --- dedup family ---
    q["d01_dedup_exact"] = lambda spark, sf: DD.exact_dedup(_docs(spark, sf))
    q["d02_dedup_minhash"] = lambda spark, sf: DD.minhash_dedup(_docs(spark, sf))
    q["d03_simhash"] = lambda spark, sf: DD.simhash(_docs(spark, sf))
    q["d04_ngram_jaccard"] = lambda spark, sf: DD.jaccard_pairs(
        DD.shingle_table(_docs(spark, sf)), candidates=None, threshold=0.5
    )
    q["d05_embedding_neardup"] = lambda spark, sf: DD.embedding_neardup_pairs(
        _emb(spark, sf), threshold=0.5
    )

    def q34(spark, sf):
        docs = _docs(spark, sf)
        pairs = DD.minhash_dedup(docs)
        return DD.neardup_clusters(docs, pairs)

    q["q34_dedup_clusters"] = q34

    def q48(spark, sf):
        # end-to-end dedup apply: shingle -> LSH pairs -> connected
        # components -> canonical-only corpus
        docs = _docs(spark, sf)
        pairs = DD.minhash_dedup(docs)
        clusters = DD.neardup_clusters(docs, pairs)
        return DD.apply_neardup_dedup(docs, clusters).select("doc_id", "source", "n_chars")

    q["q48_dedup_apply"] = q48

    def q49(spark, sf):
        # the dynamic-column profile: every (column, field) cell, one
        # fused per-asset statement per column, as the engine runs it
        register_testdata(spark, sf)
        fields = [
            {"field_id": "distinct_values", "field_type": "double",
             "query_expression": "select count(distinct $column) from $table"},
            {"field_id": "non_null_values", "field_type": "double",
             "query_expression": "select count($column) from $table"},
        ]
        tasks = [(LINEITEM_URI, c) for c in ("l_orderkey", "l_returnflag", "l_shipdate")]
        rows = DYN.run_config_per_asset(spark, fields, tasks, "profile", _short)
        return DYN.coerce_long_rows(DYN.raw_rows_to_df(spark, rows)).select(
            "asset_uri", "column", "field_id", "field_value_double"
        )

    q["q49_column_profile_fused"] = q49

    def q37(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.sketches import kmv_distinct_df

        register_testdata(spark, sf)
        return kmv_distinct_df(spark.table("lineitem"), "l_orderkey", k=256)

    q["q37_kmv_sketch"] = q37

    def q35(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.sampling import deterministic_sample

        return deterministic_sample(_docs(spark, sf), "doc_id", 0.1).select("doc_id")

    q["q35_deterministic_sample"] = q35

    def q36(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.sampling import histogram

        d = _docs(spark, sf)
        return histogram(d, F.size(F.split(F.col("text"), r"\s+")), bucket_width=50, max_buckets=20)

    q["q36_token_histogram"] = q36

    # --- similarity search ---
    def s01(spark, sf):
        emb = _emb(spark, sf)
        return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)

    def s02(spark, sf):
        emb = _emb(spark, sf)
        return SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)

    q["s01_ann_topk"] = s01
    q["s02_ann_lsh"] = s02

    def s03(spark, sf):
        emb = _emb(spark, sf)
        return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, num_cells=8)

    q["s03_ann_ivf"] = s03

    def s04(spark, sf):
        emb = _emb(spark, sf)
        return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, num_cells=8, nprobe=2)

    q["s04_ann_ivf_nprobe"] = s04

    def m01(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        feats = MM.extract_features(MM.make_fake_media(spark, n=16), sample_frames=4)
        return feats.select(
            "media_id", "kind", "payload_bytes", "width", "height",
            "duration_ms", "n_frames",
            F.concat_ws(",", F.col("frame_sample_ms").cast("array<string>")).alias("frame_samples"),
        )

    q["m01_multimodal_features"] = m01

    # --- profiling / sessionization ---
    def q30(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.profiling import profile_numeric_columns

        register_testdata(spark, sf)
        return profile_numeric_columns(
            spark.table("lineitem"), ["l_quantity", "l_extendedprice", "l_discount"]
        )

    def q31(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.profiling import corpus_stats

        return corpus_stats(_docs(spark, sf))

    def q32(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.profiling import sessionize

        register_testdata(spark, sf)
        return sessionize(spark.table("events"), gap_minutes=30)

    def q33(spark, sf):
        # dataset-level tagging: a dataset uri tags the dataset asset
        # itself, never the tables inside it (reference
        # Resources.py:215-219)
        from datacatalog_tag_engine_spark.engine import TagEngine

        eng = TagEngine(spark)
        eng.create_template("t", [{"field_id": "data_owner", "field_type": "string"}])
        inventory = _uri_assets_df(spark).unionByName(
            spark.createDataFrame(
                [{"asset_uri": "p/datasets/d", "asset_type": "bigquery",
                  "project": "p", "dataset": "d", "table": None}],
                ASSETS_SCHEMA,
            )
        )
        cfg = eng.create_config(
            "STATIC_TAG_ASSET", "t",
            included_uris="bigquery/project/p/dataset/d",
            fields=[{"field_id": "data_owner", "field_value": "governance-team"}],
        )
        eng.trigger_job(cfg, inventory)
        return eng.store.all().select("asset_uri", "field_id", "field_value_string")

    q["q33_dataset_tag"] = q33
    # multi-way join + window profiling (decimal-exact money aggregation:
    # float sums are shuffle-order-dependent, decimal sums are not)
    # Money aggregates: SUM in exact decimal (shuffle-order independent),
    # then cast the final value to double — decimal->double conversion is
    # correctly rounded in both Spark (BigDecimal.doubleValue) and DuckDB,
    # so both engines emit bit-identical float64 and the driver's value
    # hasher sees one rendering (decimal output types convert to pandas
    # differently per engine, which is what failed round 1).
    q["q38_join_profile"] = _expr_query(
        "select c.c_mktsegment, count(*) as n_lineitems, "
        "cast(sum(l.l_quantity) as bigint) as total_qty, "
        "cast(sum(cast(l.l_extendedprice as decimal(18,2)) * cast(1 - l.l_discount as decimal(18,2))) as double) as revenue "
        "from lineitem l join orders o on l.l_orderkey = o.o_orderkey "
        "join customer c on o.o_custkey = c.c_custkey "
        "group by c.c_mktsegment"
    )
    q["q39_window_running"] = _expr_query(
        "select o_custkey, o_orderkey, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) over "
        "(partition by o_custkey order by o_orderdate, o_orderkey) as double) as running_total "
        "from orders where o_custkey < 100"
    )
    def q40(spark, sf):
        from datacatalog_tag_engine_spark.operators.temporal import asof_join

        register_testdata(spark, sf)
        ev = spark.table("events")
        clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        purch = (
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("purchase_id"), F.max("value").alias("purchase_value"))
        )
        return asof_join(clicks, purch, on="user_id")

    q["q40_asof_join"] = q40

    def q41(spark, sf):
        from datacatalog_tag_engine_spark.operators.temporal import range_join

        register_testdata(spark, sf)
        ev = spark.table("events")
        errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
        purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
        return range_join(errors, purch, on="user_id", lower_sec=0, upper_sec=300).select(
            "event_id", "user_id", "ts", "match_ts", "event_id_m"
        )

    q["q41_range_join"] = q41

    q["q30_numeric_profile"] = q30
    q["q31_corpus_stats"] = q31
    q["q32_sessionize"] = q32

    def q42(spark, sf):
        # multi-asset sensitive-column classification through the engine
        # (J2-J4 over several assets in one pass; Public_Information skip)
        from datacatalog_tag_engine_spark.engine import TagEngine

        eng = TagEngine(spark)
        eng.create_template("data_sensitivity", [
            {"field_id": "sensitive_field", "field_type": "bool"},
            {"field_id": "sensitive_type", "field_type": "string"},
        ])
        assets = spark.createDataFrame(
            [{"asset_uri": f"p/datasets/d/tables/{t}", "asset_type": "bigquery",
              "project": "p", "dataset": "d", "table": t}
             for t in ["users", "public_stuff"]],
            ASSETS_SCHEMA,
        )
        findings = spark.createDataFrame(
            SENSITIVE_FINDINGS, "asset_uri string, field string, infotype string"
        )
        selection = spark.createDataFrame(
            SENSITIVE_SELECTION, "field_infotypes array<string>, notable_infotype string"
        )
        classification = spark.createDataFrame(
            SENSITIVE_CLASSIFICATION,
            "notable_infotypes array<string>, classification_result string",
        )
        cfg = eng.create_config("SENSITIVE_TAG_COLUMN", "data_sensitivity",
                                included_uris="bigquery/project/p/dataset/d/*")
        eng.trigger_job(cfg, assets, findings=findings, selection=selection,
                        classification=classification)
        return eng.store.all().select(
            "asset_uri", "column", "field_id",
            F.coalesce(F.col("field_value_string"),
                       F.when(F.col("field_value_bool"), "TRUE")).alias("value"),
        )

    q["q42_sensitive_e2e"] = q42

    def q43(spark, sf):
        # history mutation rollup (T2 reporting shape, batch form of the
        # streaming rollup) over a fixture event set with retry dupes
        import datetime as _dt

        from datacatalog_tag_engine_spark.model.schemas import TAG_HISTORY_SCHEMA
        from datacatalog_tag_engine_spark.streaming.history import mutation_counts

        rows = [
            (_dt.datetime(2026, 1, 1, 10), "p/dataset/d/table/a", None, "gov", "f1", "v", "CREATE", None, None, "j1", _dt.date(2026, 1, 1)),
            (_dt.datetime(2026, 1, 1, 11), "p/dataset/d/table/a", None, "gov", "f1", "v2", "UPDATE", None, None, "j2", _dt.date(2026, 1, 1)),
            (_dt.datetime(2026, 1, 1, 11), "p/dataset/d/table/a", None, "gov", "f1", "v2", "UPDATE", None, None, "j2", _dt.date(2026, 1, 1)),  # retry dupe
            (_dt.datetime(2026, 1, 1, 11, 5), "p/dataset/d/table/a", None, "gov", "f1", "v2", "UPDATE", None, None, "j2", _dt.date(2026, 1, 1)),  # RE-STAMPED retry: same identity, later ts
            (_dt.datetime(2026, 1, 2, 9), "p/dataset/d/table/b", None, "gov", "f1", "v", "CREATE", None, None, "j3", _dt.date(2026, 1, 2)),
            (_dt.datetime(2026, 1, 2, 9), "p/dataset/d/table/b", None, "sec", "f2", "v", "DELETE", None, None, "j3", _dt.date(2026, 1, 2)),
        ]
        hist = spark.createDataFrame(rows, TAG_HISTORY_SCHEMA)
        return mutation_counts(hist)

    q["q43_history_rollup"] = q43

    def q44(spark, sf):
        # policy-tag application (reference DataCatalogController.py
        # :1038-1042 gate + :1064-1097 schema update): sensitive columns
        # of non-public assets get the taxonomy policy tag matching the
        # asset classification; output is the exploded schema metadata.
        from datacatalog_tag_engine_spark.engine import TagEngine

        eng = TagEngine(spark)
        eng.create_template("data_sensitivity", [
            {"field_id": "sensitive_field", "field_type": "bool"},
            {"field_id": "sensitive_type", "field_type": "string"},
        ])
        schema_cols = lambda names: [
            {"name": n, "type": "STRING", "mode": "NULLABLE", "subcolumns": None}
            for n in names
        ]
        assets = spark.createDataFrame(
            [{"asset_uri": "p/datasets/d/tables/users", "asset_type": "bigquery",
              "project": "p", "dataset": "d", "table": "users",
              "schema": schema_cols(["email", "name", "age"])},
             {"asset_uri": "p/datasets/d/tables/public_stuff", "asset_type": "bigquery",
              "project": "p", "dataset": "d", "table": "public_stuff",
              "schema": schema_cols(["city"])}],
            ASSETS_SCHEMA,
        )
        findings = spark.createDataFrame(
            SENSITIVE_FINDINGS, "asset_uri string, field string, infotype string"
        )
        selection = spark.createDataFrame(
            SENSITIVE_SELECTION, "field_infotypes array<string>, notable_infotype string"
        )
        classification = spark.createDataFrame(
            SENSITIVE_CLASSIFICATION,
            "notable_infotypes array<string>, classification_result string",
        )
        taxonomy = spark.createDataFrame(
            SENSITIVE_TAXONOMY, "policy_tag_name string, category string"
        )
        cfg = eng.create_config("SENSITIVE_TAG_COLUMN", "data_sensitivity",
                                included_uris="bigquery/project/p/dataset/d/*",
                                create_policy_tags=True)
        eng.trigger_job(cfg, assets, findings=findings, selection=selection,
                        classification=classification, taxonomy=taxonomy)
        return (
            eng.apply_policy_tags(assets)
            .select("asset_uri", F.explode("schema").alias("c"))
            .select("asset_uri", F.col("c.name").alias("column"),
                    F.col("c.policy_tag").alias("policy_tag"))
        )

    q["q44_policy_tags"] = q44

    # --- text analysis ---
    q["t01_token_counts"] = lambda spark, sf: TXT.token_counts(_docs(spark, sf))
    q["t05_vocabulary"] = lambda spark, sf: (
        _docs(spark, sf)
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )
    q["t02_quality"] = lambda spark, sf: TXT.quality_scores(_docs(spark, sf))
    q["t03_lang_id"] = lambda spark, sf: TXT.language_id(_docs(spark, sf))
    q["t04_fingerprint"] = lambda spark, sf: TXT.fingerprints(_docs(spark, sf))

    def t06(spark, sf):
        # PII scrub over documents carrying synthetic id-derived PII
        # (the corpus itself is clean words, so the suffix guarantees
        # every doc exercises all three patterns)
        docs = _docs(spark, sf)
        pii = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@ex.com at 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 or 555-123-4567"),
            ).alias("text"),
        )
        return TXT.redact_pii(pii)

    q["t06_pii_redaction"] = t06
    q["t07_tfidf"] = lambda spark, sf: TXT.tfidf_top_terms(_docs(spark, sf), k=5)
    q["t08_length_percentiles"] = lambda spark, sf: TXT.length_percentiles(_docs(spark, sf))
    q["t09_chunking"] = lambda spark, sf: TXT.chunk_documents(_docs(spark, sf))
    q["q45_training_shuffle"] = lambda spark, sf: TXT.training_shuffle(_docs(spark, sf))

    # corpus mixture sampling: per-source keep rates (data-mixing
    # ratios), hash-bucket deterministic like q35
    MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    q["q46_mixture_sample"] = lambda spark, sf: SAMP.stratified_deterministic_sample(
        _docs(spark, sf).select("doc_id", "source"), "doc_id", "source", MIX_WEIGHTS
    )

    # array<int> q8 rendered to a csv string (the q12 infotypes pattern):
    # the driver's pandas canonicalizer cannot sort/hash list cells
    q["q47_embedding_quantize"] = lambda spark, sf: SIM.quantize_int8(
        _emb(spark, sf)
    ).select(
        "vec_id",
        F.concat_ws(",", F.col("q8").cast("array<string>")).alias("q8"),
        "scale",
    )

    # --- round 3: decontamination / quality / split / incremental ---
    def t10(spark, sf):
        docs = _docs(spark, sf)
        benchmark = docs.filter(F.col("doc_id") % 20 == 0)
        training = docs.filter(F.col("doc_id") % 20 != 0)
        return TXT.contamination_check(training, benchmark, n=5)

    q["t10_contamination"] = t10
    q["t11_repetition"] = lambda spark, sf: TXT.repetition_scores(_docs(spark, sf))

    # greedy sequence packing is inherently stateful (applyInPandas) —
    # no SQL oracle; the driver records the rows-only check and
    # tests/test_text_pipeline.py asserts capacity/conservation/
    # determinism invariants
    q["t12_packing"] = lambda spark, sf: TXT.pack_chunks(
        TXT.chunk_documents(_docs(spark, sf)), capacity=64
    )

    q["q50_train_split"] = lambda spark, sf: SAMP.train_val_test_split(_docs(spark, sf))

    def q51(spark, sf):
        docs = _docs(spark, sf)
        batch = docs.filter(F.col("doc_id") % 3 == 0)
        prior = docs.filter(F.col("doc_id") % 3 != 0)
        return DD.incremental_delta(batch, prior)

    q["q51_corpus_delta"] = q51

    def s05(spark, sf):
        emb = _emb(spark, sf)
        qs = emb.filter(F.col("vec_id") < 5)
        exact = SIM.brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
        approx = (
            SIM.ivf_topk(emb, qs, k=5, num_cells=8)
            .select("query_id", "neighbor_id")
            .withColumn("_hit", F.lit(1))
        )
        return (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count("*").alias("k"),
                F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
            )
            .select(
                "query_id",
                "n_matched",
                F.round(F.col("n_matched") / F.col("k"), 4).alias("recall_at_5"),
            )
        )

    q["s05_ann_recall"] = s05

    def q52(spark, sf):
        # the full training-data pipeline as ONE DataFrame composition:
        # quality gate -> bag-of-words dedup (keep lowest id) ->
        # deterministic split -> token counting. Every stage is an
        # operator exercised individually elsewhere; this is the
        # end-to-end shape a corpus-prep job actually runs.
        from pyspark.sql import Window

        docs = _docs(spark, sf)
        quality = (
            TXT.quality_scores(docs)
            .filter(F.col("quality_score") >= 0.55)
            .select("doc_id")
        )
        keep = docs.join(quality, "doc_id", "left_semi")
        fp = keep.select("doc_id", DD.bow_fingerprint(F.col("text")).alias("fp"))
        w = Window.partitionBy("fp").orderBy("doc_id")
        canon_ids = (
            fp.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("doc_id")
        )
        canon = keep.join(canon_ids, "doc_id", "left_semi")
        split = SAMP.train_val_test_split(canon)
        toks = TXT.token_counts(canon).select("doc_id", "n_tokens")
        return split.join(toks, "doc_id").select("doc_id", "source", "split", "n_tokens")

    q["q52_pipeline_e2e"] = q52

    # k-means-trained IVF (MLlib coarse quantizer): rows-only — fixed
    # seed reproduces within Spark but k-means is not SQL-replayable;
    # tests/test_sketches.py floors its recall against brute force
    def s06(spark, sf):
        emb = _emb(spark, sf)
        cents = SIM.kmeans_centroids(emb, num_cells=8)
        return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, num_cells=8, cents=cents)

    q["s06_ann_ivf_kmeans"] = s06

    q["d06_repeated_spans"] = lambda spark, sf: DD.repeated_spans(_docs(spark, sf), n=8)
    # SemDeDup-style semantic dedup: coarse-quantizer cells (shared
    # _ranked_cells derivation with s03) + intra-cell dominance drop
    q["d07_semantic_dedup"] = lambda spark, sf: DD.semantic_dedup(
        _emb(spark, sf), threshold=0.35
    )
    q["t13_unigram_logprob"] = lambda spark, sf: TXT.unigram_logprob(_docs(spark, sf))
    q["q53_token_budget"] = lambda spark, sf: TXT.token_budget_sample(
        _docs(spark, sf), budget_tokens=800
    )
    # temperature-scaled mixture: per-source p ∝ tokens^alpha (alpha<1
    # flattens the head so low-resource sources survive the mix)
    q["q54_mixture_weights"] = lambda spark, sf: SAMP.mixture_weights(
        _docs(spark, sf), alpha=0.5, budget_tokens=10_000
    )
    q["q55_mixture_sample"] = lambda spark, sf: SAMP.temperature_mixture_sample(
        _docs(spark, sf), alpha=0.5, budget_tokens=10_000
    )
    # fastText-shaped hashed linear quality scorer (deterministic
    # placeholder weights; trained weights plug in as a DataFrame)
    q["t14_hashed_linear"] = lambda spark, sf: TXT.hashed_linear_score(_docs(spark, sf))

    # bloom-prefiltered incremental delta: same rows as q51 by
    # construction (the bloom only diverts definite-negatives), so its
    # oracle IS the exact form's SQL
    def q56(spark, sf):
        docs = _docs(spark, sf)
        batch = docs.filter(F.col("doc_id") % 3 == 0)
        prior = docs.filter(F.col("doc_id") % 3 != 0)
        return DD.incremental_delta_bloom(batch, prior)

    q["q56_delta_bloom"] = q56

    # product-quantization ADC top-k: 4x16 codebook (first-16-by-id
    # seeding, same rationale as the IVF quantizer), integer micro-unit
    # distances so argmin/code assignment replays exactly in SQL
    def s07(spark, sf):
        emb = _emb(spark, sf)
        return SIM.pq_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)

    q["s07_pq_adc"] = s07

    # DSIR importance resampling (arXiv:2302.03169): target = every
    # 17th document (the quality exemplar set), raw = the rest. The
    # micro-unit log-ratio table makes both outputs exact-replayable in
    # SQL (integer sums; one final IEEE division by 1e6)
    def _dsir_split(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import dsir as DSIR

        docs = _docs(spark, sf)
        target = docs.filter(F.col("doc_id") % 17 == 0)
        raw = docs.filter(F.col("doc_id") % 17 != 0)
        return DSIR, raw, target

    def t15(spark, sf):
        DSIR, raw, target = _dsir_split(spark, sf)
        return DSIR.dsir_weights(raw, target)

    q["t15_dsir_weights"] = t15

    def q57(spark, sf):
        DSIR, raw, target = _dsir_split(spark, sf)
        return DSIR.dsir_sample(raw, target, k=50, temperature=1.0)

    q["q57_dsir_sample"] = q57

    # --- round-6 rotation: the post-r5-freeze cleaning/similarity
    # operators, each with a DuckDB oracle proven value-equal in
    # tests/test_oracle_drafts_r6.py before entering the inventory ---
    # the gate is a pure projection (zero exchanges, plan-asserted) —
    # parallelism comes from input splits. sf0.1 is ONE parquet file,
    # so the query spreads the CPU-heavy row math across the session's
    # width here; a real corpus has thousands of splits and needs no
    # repartition (4.35 -> 1.24 s at sf0.1, bench_out.json)
    q["t16_gopher_filter"] = lambda spark, sf: TXT.gopher_filter(
        _docs(spark, sf).repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    ).withColumn("fail_reasons", F.concat_ws(",", "fail_reasons"))

    q["d08_span_removal"] = lambda spark, sf: DD.remove_repeated_spans(
        _docs(spark, sf), n=8, min_docs=2
    )

    q["d09_paragraph_dedup"] = lambda spark, sf: DD.paragraph_dedup(_docs(spark, sf))

    def q58(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.export import shard_assignments

        return shard_assignments(_docs(spark, sf).select("doc_id"), 4)

    q["q58_shard_assignments"] = q58

    # n_transitions: the fallback union branch is INT, the count LONG —
    # pin LONG so the pandas dtype matches the oracle's BIGINT
    q["t17_bigram_logprob"] = lambda spark, sf: TXT.bigram_logprob(
        _docs(spark, sf)
    ).select(
        "doc_id",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        "avg_logprob",
    )

    def s08(spark, sf):
        emb = _emb(spark, sf)
        qs = emb.orderBy("vec_id").limit(10)
        positives = SIM.brute_force_topk(emb, qs, k=1).select(
            "query_id", F.col("neighbor_id").alias("positive_id")
        )
        return SIM.mine_hard_negatives(emb, qs, positives, k=5, search_k=15)

    q["s08_hard_negatives"] = s08

    def _cleaned_canon(spark, sf):
        # Stages 0-5 of the full cleaning pipeline a real corpus-prep
        # run executes, composed as ONE DataFrame chain (shared by
        # q59v2, which shard-assigns the canonicals, and q71, which
        # extends the chain through containment dedup to the export
        # boundary): normalize_text + collapse_repeated_lines (stage 0,
        # raw-crawl hygiene BEFORE any content rule sees the text) ->
        # Gopher quality gate -> paragraph dedup (CCNet; must run
        # BEFORE span removal, which whitespace-normalizes away the
        # paragraph structure) -> exact-substring span removal -> drop
        # emptied docs -> MinHash near-dup dedup (canonical keep).
        # Certifying the COMPOSITION catches contract drift between
        # stages that the per-operator rows cannot. Returns the
        # minhash-canonical (doc_id, text) set.
        cleaned = TXT.collapse_repeated_lines(
            TXT.normalize_text(_docs(spark, sf), passthrough=True)
        ).select("doc_id", "text")
        # one-file corpus: spread the gate's row math (see t16).
        # Stage-0 barrier (r8): `docs` is consumed by the gate AND the
        # semi-join probe side (and transitively by paragraph_dedup), so
        # without a barrier the normalize + collapse regex work recomputes
        # per consumer — the r7 verdict traced most of q59v2's +6 s over
        # q59 to exactly this. At 100 TB stage 0 is its own parquet write;
        # localCheckpoint is the single-session analog (same rationale as
        # the para/clean barriers below).
        docs = cleaned.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        ).localCheckpoint(eager=True)
        g = TXT.gopher_filter(
            docs,
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )
        # materialize the thin (id, keep) stream before filtering on
        # it: filter("keep") inlines the staged gate features ~30x into
        # one pushed-down Filter (no CSE in FilterExec) — the q98 gate
        # barrier discipline applied to the composition's gate stage
        flags = g.select("doc_id", "keep").localCheckpoint(eager=True)
        kept = docs.join(flags.filter("keep").select("doc_id"), "doc_id", "left_semi")
        # stage barriers: span removal consumes its input twice (starts
        # + rebuild) and the dedup phase walks `clean` three times
        # (minhash, clusters, apply) — materializing the stage
        # boundaries keeps each prefix from recomputing per consumer
        # (21.4 -> 12.6 s for these two in r6; the r8 stage-0 barrier
        # above took the composition 18.7 -> 10.3 s, SCALE.md). At
        # 100 TB these boundaries are parquet writes between pipeline
        # stages; localCheckpoint is the single-session analog.
        para = (
            DD.paragraph_dedup(kept)
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        # each eager barrier makes the PREVIOUS one dead (its only
        # consumer is now materialized) — free it, or a q59v2 + q71
        # bench session pins two corpus-sized generations per call
        # (the containment_dedup lifecycle fix, applied to the chain)
        free_local_checkpoint(docs)
        spans = DD.remove_repeated_spans(para, n=8, min_docs=2).select("doc_id", "text")
        clean = spans.filter(F.length(F.trim(F.col("text"))) > 0).localCheckpoint(
            eager=True
        )
        free_local_checkpoint(para)
        pairs = DD.minhash_dedup(clean)
        clusters = DD.neardup_clusters(clean, pairs)
        return DD.apply_neardup_dedup(clean, clusters)

    def _n_words():
        # built lazily: Column construction needs an active session
        return F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)
        )

    def q59v2(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.export import shard_assignments

        canon = _cleaned_canon(spark, sf)
        return shard_assignments(
            canon.select("doc_id", _n_words().alias("n_words")), 4
        ).select("doc_id", "shard", "n_words")

    q["q59v2_clean_pipeline"] = q59v2

    # --- round-7 rotation: the twenty operators drafted AND proven
    # value-equal against DuckDB in tests/test_oracle_drafts_r7.py last
    # round enter the inventory; the oracle strings are the proven
    # drafts verbatim (module-level constants above, which the drafts
    # file now imports — one copy, no drift) ---

    def t18(spark, sf):
        # BPE merge-list replay: the inventory query APPLIES the frozen
        # trained artifact (BPE_MERGES) — the t14 placeholder-weights
        # pattern — so the encode loop is hash-checkable at any SF
        from datacatalog_tag_engine_spark.pipeline import bpe

        return bpe.bpe_apply(_docs(spark, sf), BPE_MERGES).select(
            "doc_id", F.concat_ws("|", "tokens").alias("tokens"), "n_tokens"
        )

    q["t18_bpe_apply"] = t18

    def q60(spark, sf):
        # HLL estimate certified the s05-recall way: the hash-checked
        # output is the exact distinct + a within-tolerance flag (the
        # sketch binary itself is not SQL-replayable)
        from datacatalog_tag_engine_spark.pipeline.sketches import (
            hll_estimate,
            hll_sketch_by_group,
        )

        docs = _docs(spark, sf)
        est = hll_estimate(hll_sketch_by_group(docs, "source", "doc_id"), "source")
        exact = docs.groupBy("source").agg(F.countDistinct("doc_id").alias("exact"))
        return est.join(exact, "source").select(
            "source",
            "exact",
            (F.abs(F.col("estimate") - F.col("exact")) / F.col("exact") <= 0.02).alias(
                "within_2pct"
            ),
        )

    q["q60_hll_tolerance"] = q60

    q["t19_perplexity_buckets"] = lambda spark, sf: TXT.perplexity_buckets(
        _docs(spark, sf)
    )

    def t20(spark, sf):
        # logistic-regression trainer: micro-unit margins/gradients
        # make every GD iteration exact, so the weights hash-match the
        # unrolled CTE chain
        docs = _docs(spark, sf)
        pos = docs.filter(F.col("doc_id") % 2 == 0)
        neg = docs.filter(F.col("doc_id") % 2 != 0)
        return TXT.train_quality_classifier(
            pos, neg, num_buckets=64, iterations=3
        ).select("bucket", F.round("w", 6).alias("w"))

    q["t20_classifier_weights"] = t20

    def s09(spark, sf):
        # persisted-IVF serving path: build the index (once per session
        # — see _cached_index), search through the partition-pruned
        # reader; the index stores exactly the s03 assignment so the
        # oracle IS the s03 SQL
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivf", sf, lambda p: SIM.build_ivf_index(emb, p, num_cells=8)
        )
        return SIM.ivf_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=1
        )

    q["s09_ivf_from_index"] = s09

    def q61(spark, sf):
        # the streaming clean-ingest path's batch replay (relaxed
        # Gopher gate -> keep-first fingerprint dedup). One-file corpus:
        # spread the gate's row math (see _docs_spread); keep-first is
        # a min_by over a total order, so the spread is value-safe.
        from datacatalog_tag_engine_spark.streaming.dedup import clean_ingest_stream

        return clean_ingest_stream(
            _docs_spread(spark, sf),
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )

    q["q61_clean_ingest"] = q61

    q["q62_sample_k_per_group"] = lambda spark, sf: SAMP.sample_k_per_group(
        _docs(spark, sf).select("doc_id", "source"), k=5
    )

    def s10(spark, sf):
        emb = _emb(spark, sf)
        return SIM.ivfpq_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=5, num_cells=8, nprobe=2
        )

    q["s10_ivfpq_topk"] = s10

    def s11(spark, sf):
        # persisted IVF-PQ: 4-byte codes partitioned by cell on disk
        # (built once per session — see _cached_index); same chained
        # s03+s07 derivation as the in-memory form
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivfpq", sf, lambda p: SIM.build_ivfpq_index(emb, p, num_cells=8)
        )
        return SIM.ivfpq_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s11_ivfpq_from_index"] = s11

    def s12(spark, sf):
        # IVFADC: PQ over residuals to the coarse centroid (Jegou et
        # al., TPAMI 2011), one ADC table per (query, probed cell)
        emb = _emb(spark, sf)
        return SIM.ivfpq_topk(
            emb,
            emb.filter(F.col("vec_id") < 5),
            k=5,
            num_cells=8,
            nprobe=2,
            by_residual=True,
        )

    q["s12_ivfpq_residual"] = s12

    q["t21_normalize_text"] = lambda spark, sf: TXT.normalize_text(_docs(spark, sf))
    q["t22_vocab_stats"] = lambda spark, sf: TXT.vocab_stats(_docs(spark, sf))
    q["d10_line_dedup"] = lambda spark, sf: DD.line_dedup(_docs(spark, sf))
    q["t23_collapse_lines"] = lambda spark, sf: TXT.collapse_repeated_lines(
        _docs(spark, sf)
    )
    q["q63_epoch_plan"] = lambda spark, sf: SAMP.epoch_plan(
        _docs(spark, sf), budget_tokens=200_000, max_epochs=1.5
    )

    def t24(spark, sf):
        # decontamination APPLY (GPT-3 appendix-C rule): benchmark =
        # the DSIR target split (doc_id % 17 == 0), training = the rest
        docs = _docs(spark, sf)
        train = docs.filter(F.col("doc_id") % 17 != 0)
        bench = docs.filter(F.col("doc_id") % 17 == 0)
        return TXT.apply_decontamination(train, bench, n=5)

    q["t24_decontamination"] = t24

    def q64(spark, sf):
        # gate-metrics monitor, batch form (documents carries no ts:
        # both engines derive the same deterministic epoch+doc_id one,
        # so the tumbling windows are real)
        from datacatalog_tag_engine_spark.streaming.quality import gate_metrics

        src = _docs(spark, sf).select(
            "doc_id",
            "text",
            "source",
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(mins=F.col("doc_id").cast("int"))
            ).alias("ts"),
        )
        return gate_metrics(
            src,
            window="1 hour",
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )

    q["q64_gate_metrics"] = q64

    def q65(spark, sf):
        # the epoch plan made corpus: floor(e) full copies + one
        # hash-gated remainder copy per doc
        docs = _docs(spark, sf)
        plan = SAMP.epoch_plan(docs, budget_tokens=200_000, max_epochs=1.5)
        return SAMP.materialize_mixture(docs, plan).select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_chars",
            F.col("epoch").cast("int").alias("epoch"),
        )

    q["q65_materialize_mixture"] = q65

    q["t25_chunk_text"] = lambda spark, sf: TXT.chunk_text(
        _docs(spark, sf), chunk_words=40, stride=30
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "text",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("start_word").cast("int").alias("start_word"),
    )
    q["t26_strip_html"] = lambda spark, sf: TXT.strip_html(_docs(spark, sf))

    # --- round-8 rotation: two queries drafted AND proven value-equal
    # against DuckDB in tests/test_oracle_drafts_r8.py ---

    def m02(spark, sf):
        # payload-level image near-dup: perceptual average-hash over
        # the (fake-)decoded pixel grid, then banded Hamming LSH — the
        # simhash candidate machinery over a payload-derived
        # fingerprint. Payload bytes never cross an exchange
        # (plan-asserted); the corpus is parameter-fixed like the m01
        # fixture, so the oracle replays it analytically.
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        fps = MM.image_phash(MM.make_fake_image_corpus(spark, n_groups=6, group_size=3))
        return DD.hamming_neardup_pairs(
            fps, id_col="media_id", fp_col="phash", bits=64, bands=4, max_hamming=10
        )

    q["m02_image_phash_neardup"] = m02

    def t12b(spark, sf):
        # the t12 packer's oracle-checkable derivative (stateful greedy
        # packing itself has no SQL replay): chunk/token conservation
        # replays the t09 manifest; the violation counters must be zero
        # — any overfull bin, broken running offset, or duplicated
        # chunk makes the Spark side nonzero and the hash diverge
        from pyspark.sql import Window

        packed = TXT.pack_chunks(TXT.chunk_documents(_docs(spark, sf)), capacity=64)
        w = (
            Window.partitionBy("shard", "bin_id")
            .orderBy("doc_id", "chunk_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        chunks = packed.withColumn(
            "_exp", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        chunk_stats = chunks.agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.count("*") - F.count_distinct(F.struct("doc_id", "chunk_id")))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum((F.col("bin_offset") != F.col("_exp")).cast("int"))
            .cast("long")
            .alias("n_offset_violations"),
        )
        bin_stats = (
            packed.groupBy("shard", "bin_id")
            .agg(F.sum("n_tokens").alias("_fill"))
            .agg(
                F.sum((F.col("_fill") > 64).cast("int"))
                .cast("long")
                .alias("n_overfull_bins")
            )
        )
        return chunk_stats.crossJoin(bin_stats)

    q["t12b_packing_invariants"] = t12b

    # --- round-9 rotation: the seventeen operators drafted AND proven
    # value-equal against DuckDB in tests/test_oracle_drafts_r9.py last
    # round, plus the q71 export-boundary composition (drafted and
    # proven this round). The oracle strings are the proven drafts
    # verbatim (module-level generators above, which the drafts file
    # imports back — one copy, no drift) ---

    def m03(spark, sf):
        # audio payload near-dup: chromaprint-shaped temporal-delta
        # fingerprint over the (fake-)decoded band energies, then the
        # SAME generic Hamming banding m02 certified — one machinery,
        # three modalities. Payload bytes never cross an exchange.
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        fps = MM.audio_fingerprint(MM.make_fake_audio_corpus(spark, 6, 3))
        return DD.hamming_neardup_pairs(
            fps, id_col="media_id", fp_col="afp", bits=64, bands=4, max_hamming=10
        )

    q["m03_audio_fp_neardup"] = m03

    def m04(spark, sf):
        # video frame-sequence near-dup: per-sampled-frame perceptual
        # hashes, banding keyed on (frame, band) so only temporally
        # aligned frames pair, floor on distinct matching frames
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        vfp = MM.video_frame_phashes(
            MM.make_fake_video_corpus(spark, 4, 3), sample_frames=4
        )
        return DD.frame_neardup_pairs(vfp, min_matching_frames=3, max_hamming=10)

    q["m04_video_frame_neardup"] = m04

    q["d11_source_dup_profile"] = lambda spark, sf: DD.source_dup_profile(
        _docs(spark, sf)
    )

    q["d12_containment"] = lambda spark, sf: DD.containment_pairs(
        DD.shingle_table(_docs(spark, sf)), candidates=None, threshold=0.8
    )

    q["d13_cross_source_overlap"] = lambda spark, sf: DD.cross_source_overlap(
        _docs(spark, sf)
    )

    q["d14_containment_dedup"] = lambda spark, sf: DD.containment_dedup(
        _docs(spark, sf)
    )

    def s13(spark, sf):
        return SIM.cell_balance(_emb(spark, sf))

    q["s13_cell_balance"] = s13

    def s14(spark, sf):
        # the full FAISS serving recipe: ADC shortlist (cheap, code
        # domain) -> exact cosine on shortlisted rows only (the
        # re-rank); output schema is brute-force-compatible
        emb = _emb(spark, sf)
        return SIM.ivfpq_topk_rerank(
            emb, emb.filter(F.col("vec_id") < 5), k=5, shortlist=20,
            num_cells=8, nprobe=2,
        )

    q["s14_ivfpq_rerank"] = s14

    def s15(spark, sf):
        # persisted serving path: partition-pruned index shortlist +
        # exact re-rank against the raw corpus table; value-identical
        # to s14 (the s10/s11 pattern), same session-cached index as s11
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivfpq", sf, lambda p: SIM.build_ivfpq_index(emb, p, num_cells=8)
        )
        return SIM.ivfpq_topk_rerank_from_index(
            spark, path, emb, emb.filter(F.col("vec_id") < 5),
            k=5, shortlist=20, nprobe=2,
        )

    q["s15_ivfpq_rerank_from_index"] = s15

    def t27(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import bpe

        return bpe.tokenizer_fertility(_docs(spark, sf), BPE_MERGES)

    q["t27_tokenizer_fertility"] = t27

    q["t28_corpus_divergence"] = lambda spark, sf: TXT.corpus_divergence(
        _docs(spark, sf)
    )
    q["t29_vocab_growth"] = lambda spark, sf: TXT.vocab_growth(_docs(spark, sf))

    def q66(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.length_outliers(_docs(spark, sf))

    q["q66_length_outliers"] = q66

    def q67(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.event_funnel(_events(spark, sf), FUNNEL_STEPS)

    q["q67_event_funnel"] = q67

    def q68(spark, sf):
        return SAMP.holdout_split(_docs(spark, sf))

    q["q68_holdout_split"] = q68

    def q69(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.export import shard_balance

        return shard_balance(_docs(spark, sf), 16, token_col="n_chars")

    q["q69_shard_balance"] = q69

    def q70(spark, sf):
        from datacatalog_tag_engine_spark.pipeline.profiling import cohort_retention

        return cohort_retention(_events(spark, sf))

    q["q70_cohort_retention"] = q70

    def q71(spark, sf):
        # q59v2 extended to the export boundary (the reference's
        # one-pipeline /_split_work -> /_run_task shape,
        # main.py:3331-3656): the certified cleaning chain's minhash
        # canonicals -> containment dedup in the stress-proven
        # exact-first order (d14) -> shard assignment -> shard-balance
        # straggler profile (q69). Certifies the contract BETWEEN the
        # new dedup stage and the export stage, which the per-operator
        # rows cannot. Output is shard-grain (4 rows of exact counts
        # that encode every upstream decision).
        from datacatalog_tag_engine_spark.pipeline.export import shard_balance

        canon = _cleaned_canon(spark, sf)
        verdict = DD.containment_dedup(canon)
        surv = canon.join(
            verdict.filter("keep").select("doc_id"), "doc_id", "left_semi"
        )
        return shard_balance(
            surv.select("doc_id", _n_words().alias("n_words")), 4, token_col="n_words"
        )

    q["q71_export_pipeline"] = q71

    # --- round-10 rotation: the eighteen operators drafted AND proven
    # value-equal against DuckDB in tests/test_oracle_drafts_r10.py last
    # round. The oracle strings are the proven drafts verbatim
    # (module-level generators above; the drafts file imports them
    # back — one copy, no drift) ---

    def s16(spark, sf):
        # FAISS range_search: every neighbor with cosine >= threshold
        # through the s04 IVF pruning — no per-query ranking at all
        emb = _emb(spark, sf)
        return SIM.range_search(
            emb, emb.filter(F.col("vec_id") < 5), threshold=0.2, num_cells=8, nprobe=2
        )

    q["s16_range_search"] = s16

    q["s17_cell_inertia"] = lambda spark, sf: SIM.cell_inertia(_emb(spark, sf))
    q["s18_pq_code_histogram"] = lambda spark, sf: SIM.pq_code_histogram(
        _emb(spark, sf)
    )
    q["s19_embedding_stats"] = lambda spark, sf: SIM.embedding_stats(_emb(spark, sf))

    def s20(spark, sf):
        # the s13 occupancy profile read off the persisted index's
        # partition column ONLY (ReadSchema struct<> — plan-asserted in
        # the draft proof); shares s09's session-cached index, so the
        # measurement is pure partition-listing serving cost
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivf", sf, lambda p: SIM.build_ivf_index(emb, p, num_cells=8)
        )
        return SIM.cell_balance_from_index(spark, path)

    q["s20_cell_balance_from_index"] = s20

    def s21(spark, sf):
        # incremental index growth (the FAISS add() analog): build on
        # the first half, append the rest under the frozen stored
        # quantizer, serve. Grow == rebuild row-identically (ids 0..7 —
        # the quantizer seeds — sit in the first half), so the oracle
        # is the s04 string verbatim. The append is part of the cached
        # builder: built once per session, serving stays a pure read.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivf_index(emb.filter(F.col("vec_id") < 100), p, num_cells=8)
            SIM.append_to_ivf_index(spark, p, emb.filter(F.col("vec_id") >= 100))

        path = _cached_index("ivf_grow", sf, build)
        return SIM.ivf_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s21_ivf_append"] = s21

    q["t30_char_coverage"] = lambda spark, sf: TXT.char_coverage(_docs(spark, sf))
    q["t31_ngram_novelty"] = lambda spark, sf: DD.ngram_novelty(_docs(spark, sf))
    q["t32_top_ngrams"] = lambda spark, sf: TXT.top_ngrams_per_group(_docs(spark, sf))

    def q72(spark, sf):
        # per-source corpus share before/after the Gopher gate under
        # the q59-stage relaxed rules — the mixture-QA number for the
        # q54/q63 weights. One-file corpus: spread the gate's row math
        # (see _docs_spread); the output is group-grain aggregates, so
        # the spread is value-safe.
        return TXT.gate_mixture_drift(
            _docs_spread(spark, sf),
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )

    q["q72_gate_mixture_drift"] = q72

    def q73(spark, sf):
        # near-dup cluster-size histogram — the q34 cluster chain with
        # a histogram rollup tail (oracle derived from the q34 string
        # by final-SELECT surgery: one copy of the chain)
        docs = _docs(spark, sf)
        return DD.cluster_size_profile(docs, DD.minhash_dedup(docs))

    q["q73_cluster_size_profile"] = q73

    def q74(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.percentile_tolerance_profile(_docs(spark, sf))

    q["q74_percentile_tolerance"] = q74

    def q75(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.session_funnel(_events(spark, sf), list(FUNNEL_STEPS))

    q["q75_session_funnel"] = q75

    def q76(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.event_rate_anomaly(_events(spark, sf))

    q["q76_event_rate_anomaly"] = q76

    def q77(spark, sf):
        from datacatalog_tag_engine_spark.pipeline import profiling as PRO

        return PRO.lang_source_profile(_docs(spark, sf))

    q["q77_lang_source_profile"] = q77

    def q78(spark, sf):
        # the streaming cohort decomposition's batch replay: the
        # per-user state the stream maintains (cohort_user_days) + the
        # dashboard finish — a driver hash on the decomposition the
        # stream==batch pytest parity certifies; reproduces q70 (and
        # its oracle) exactly
        from datacatalog_tag_engine_spark.streaming import usage as U

        return U.cohort_retention_finish(U.cohort_user_days(_events(spark, sf)))

    q["q78_cohort_via_state"] = q78

    def q79(spark, sf):
        # incremental-export planner: which shards need rewriting
        # between two corpus versions (the q58 md5 bucket rule — one
        # added doc dirties exactly its own shard, no resharding
        # cascade)
        from datacatalog_tag_engine_spark.pipeline.export import dirty_shards

        docs = _docs(spark, sf)
        return dirty_shards(
            docs.filter(F.col("doc_id") % 17 != 0),
            docs.filter(F.col("doc_id") % 13 != 0),
            8,
        )

    q["q79_dirty_shards"] = q79

    def m05(spark, sf):
        # per-kind media-manifest rollup over the m01 feature surface
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        return MM.manifest_stats(MM.extract_features(MM.make_fake_media(spark, n=16)))

    q["m05_manifest_stats"] = m05

    # --- round-11 rotation: the thirteen operators drafted AND proven
    # value-equal against DuckDB in tests/test_oracle_drafts_r11.py last
    # round, plus q85 — the streaming session funnel's batch replay (the
    # r10 verdict's ask #7). Oracle strings are the proven drafts
    # verbatim (module-level generators below; the drafts file imports
    # them back — one copy, no drift) ---

    def s22(spark, sf):
        # index lifecycle: SHRINK. Build on the full corpus, delete the
        # DELETE_PRED ids (rewrite-affected-cells under the frozen
        # quantizer; stage-then-swap durable — see
        # similarity._swap_cells), serve. Post-delete serving is
        # row-identical to a fresh rebuild over the survivors, so the
        # oracle is the s04 chain with the survivor predicate pushed
        # into its corpus CTE. Build+delete run once per session
        # (_cached_index); the measured cost is pure serving.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivf_index(emb, p, num_cells=8)
            SIM.remove_from_ivf_index(
                spark, p, emb.filter(F.expr(DELETE_PRED)).select("vec_id")
            )

        path = _cached_index("ivf_del", sf, build)
        return SIM.ivf_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s22_ivf_delete"] = s22

    def s23(spark, sf):
        # index lifecycle: COMPACT. Three appends pile small files into
        # the cells; compaction rewrites over-threshold cells to one
        # file each. Value-invariant (same rows, same cells, fewer
        # files), so the oracle is the s04 string verbatim — the s21
        # identity pattern.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivf_index(emb.filter(F.col("vec_id") < 100), p, num_cells=8)
            for lo, hi in ((100, 200), (200, 300), (300, 1 << 62)):
                SIM.append_to_ivf_index(
                    spark, p, emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                )
            SIM.compact_ivf_index(spark, p, max_files_per_cell=2)

        path = _cached_index("ivf_compact", sf, build)
        return SIM.ivf_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s23_ivf_compact"] = s23

    def s24(spark, sf):
        # codes-layout shrink: a vector's footprint is its num_subspaces
        # code rows inside one cell; same rewrite-affected-cells core as
        # s22, oracle = s10 with the survivor predicate in its corpus CTE.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivfpq_index(emb, p, num_cells=8)
            SIM.remove_from_ivfpq_index(
                spark, p, emb.filter(F.expr(DELETE_PRED)).select("vec_id")
            )

        path = _cached_index("ivfpq_del", sf, build)
        return SIM.ivfpq_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s24_ivfpq_delete"] = s24

    def s25(spark, sf):
        # codes-layout growth: the delta is encoded by the STORED
        # codebook and assigned by the STORED centroids (every
        # quantization parameter derived from the resident _codebook);
        # grow == rebuild (seeds 0..15 sit in the first half), so the
        # oracle is the s10 string verbatim.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivfpq_index(emb.filter(F.col("vec_id") < 100), p, num_cells=8)
            SIM.append_to_ivfpq_index(spark, p, emb.filter(F.col("vec_id") >= 100))

        path = _cached_index("ivfpq_grow", sf, build)
        return SIM.ivfpq_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s25_ivfpq_append"] = s25

    def s26(spark, sf):
        # codes-layout compaction — matters MORE than the raw form
        # (4-byte code payloads make append files almost all footer);
        # value-invariant, oracle = s10 verbatim.
        emb = _emb(spark, sf)

        def build(p):
            SIM.build_ivfpq_index(emb.filter(F.col("vec_id") < 100), p, num_cells=8)
            for lo, hi in ((100, 200), (200, 300), (300, 1 << 62)):
                SIM.append_to_ivfpq_index(
                    spark, p, emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                )
            SIM.compact_ivfpq_index(spark, p, max_files_per_cell=2)

        path = _cached_index("ivfpq_compact", sf, build)
        return SIM.ivfpq_topk_from_index(
            spark, path, emb.filter(F.col("vec_id") < 5), k=5, nprobe=2
        )

    q["s26_ivfpq_compact"] = s26

    # diversity sampling over embedding space: the certified s03 cell
    # assignment + the q62 deterministic md5 k-per-group rule at cell
    # grain (flattens semantic imbalance the way q54/q63 flatten
    # provenance imbalance)
    q["s27_cluster_balanced_sample"] = lambda spark, sf: SIM.cluster_balanced_sample(
        _emb(spark, sf)
    )

    # signature-agreement Jaccard scoring (Broder 1997): candidates
    # scored from the doc-grain signature table alone — the 100 TB
    # scoring path when the exact verify is the bottleneck
    q["d15_minhash_estimate"] = lambda spark, sf: DD.minhash_estimate_pairs(
        _docs(spark, sf)
    )
    # the estimator's certification surface: every candidate pair
    # carries estimate, exact Jaccard, and abs error — all deterministic
    q["d16_minhash_estimate_vs_exact"] = lambda spark, sf: DD.minhash_estimate_vs_exact(
        _docs(spark, sf)
    )
    # near-dup dedup keeping the highest-quality cluster member (tie ->
    # lowest id) instead of the lowest id — the clean original beats a
    # boilerplate-wrapped mirror that happened to crawl first
    q["d17_quality_canonical"] = lambda spark, sf: DD.quality_canonical_dedup(
        _docs(spark, sf)
    )
    # per-source unigram Shannon entropy in bits (nano-unit quantized)
    q["t33_token_entropy"] = lambda spark, sf: TXT.token_entropy(_docs(spark, sf))

    def q80(spark, sf):
        # the incremental daily-refresh composition (the q71 pipeline's
        # 100 TB daily shape): q51 delta detection -> clean-ingest of
        # ONLY the new docs -> q79 dirty-shard planning against the
        # prior export. prior = doc_id % 3 != 0 (yesterday's corpus),
        # batch = doc_id % 3 == 0 (today's crawl). Reference analog:
        # scheduled auto-updates re-tag only ready configs
        # (main.py:3075-3110).
        from datacatalog_tag_engine_spark.pipeline.export import dirty_shards
        from datacatalog_tag_engine_spark.streaming.dedup import clean_ingest_stream

        # NOT spread (measured r14): the gate runs over only the fresh
        # third and the delta join reshuffles by id anyway — the
        # full-text round-robin shuffle cost more than it parallelized
        docs = _docs(spark, sf)
        prior = docs.filter(F.col("doc_id") % 3 != 0)
        batch = docs.filter(F.col("doc_id") % 3 == 0)
        delta = DD.incremental_delta(batch, prior).select("doc_id")
        fresh = batch.join(delta, "doc_id", "left_semi")
        cleaned = clean_ingest_stream(
            fresh,
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )
        new_ids = prior.select("doc_id").unionByName(cleaned.select("doc_id"))
        return dirty_shards(prior.select("doc_id"), new_ids, 8)

    q["q80_incremental_pipeline"] = q80

    def q82(spark, sf):
        # corrective post-gate sampling weights from the q72 drift
        # table: weight = share_before/share_after capped, 0 for
        # annihilated sources. Spread per q72.
        drift = TXT.gate_mixture_drift(
            _docs_spread(spark, sf),
            min_words=20,
            min_stopword_hits=0,
            max_dup_word_frac=1.0,
            max_top_bigram_frac=1.0,
        )
        return TXT.mixture_rebalance(drift)

    q["q82_mixture_rebalance"] = q82

    def q84(spark, sf):
        # the incremental-export planner for EXPLICIT shard assignments:
        # any policy plugs in; range sharding closes the dirty-shard
        # saturation the r10 rung measured (a trickle append dirties
        # ceil(delta/width) range shards vs nearly all md5 shards)
        from datacatalog_tag_engine_spark.pipeline.export import (
            dirty_shards_assigned,
            range_shard_assignments,
        )

        docs = _docs(spark, sf)
        old = range_shard_assignments(docs, 100)
        new = range_shard_assignments(docs.filter(F.col("doc_id") % 17 != 0), 100)
        return dirty_shards_assigned(old, new)

    q["q84_dirty_shards_assigned"] = q84

    def q85(spark, sf):
        # the streaming session funnel's batch replay (the q78 pattern):
        # the per-(user, session) state grain session_funnel_stream
        # emits, computed in batch (session_step_times) + the same
        # finish — reproduces q75 (and its oracle) exactly; the
        # stream==batch pytest parity ties the stream's own emissions
        # to the same finish.
        from datacatalog_tag_engine_spark.streaming import usage as U

        return U.session_funnel_finish(
            U.session_step_times(_events(spark, sf), list(FUNNEL_STEPS)),
            list(FUNNEL_STEPS),
        )

    q["q85_session_funnel_state"] = q85

    # --- round-12 rotation entries (proven as DuckDB drafts in
    # tests/test_oracle_drafts_r12.py during round 11) ---

    def q86(spark, sf):
        # shard-manifest consolidation planner: cumsum repacking of the
        # small-shard tail that trickle appends (q84) and retraction
        # rewrites (q79) accumulate under range sharding; shard-grain in
        # and out, locality-preserving (only neighbors merge)
        from datacatalog_tag_engine_spark.pipeline.export import (
            range_shard_assignments,
            resharding_plan,
        )

        docs = _docs(spark, sf)
        manifest = (
            range_shard_assignments(docs, 100)
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"))
        )
        return resharding_plan(manifest, 500)

    q["q86_resharding_plan"] = q86

    # the LSH S-curve table — the inspectable form of the grid
    # tune_lsh_params optimizes, as a driver row (dyadic lattice, no
    # libm pow drift between engines)
    q["d18_lsh_parameter_table"] = lambda spark, sf: DD.lsh_parameter_table(spark)

    # per-source code-vs-prose routing profile: the pre-mixture
    # classifier that keeps prose gates (t16) from deleting good code
    q["t34_code_prose_profile"] = lambda spark, sf: TXT.code_prose_profile(
        _docs(spark, sf)
    )

    # per-source near-dup mass through the certified q34 cluster chain:
    # q72 says which sources the QUALITY gate decimates, this says
    # which sources are mostly COPIES
    q["q88_source_dup_rate"] = lambda spark, sf: DD.source_dup_rate(_docs(spark, sf))

    def d19(spark, sf):
        # daily-batch near-dup against a resident corpus at SIGNATURE
        # grain: the bucket join is delta x both-sides, so the resident
        # x resident quadrant is never generated (the 100 TB daily
        # shape; resident signatures can be a persisted artifact)
        docs = _docs(spark, sf)
        return DD.incremental_neardup_pairs(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 != 0),
        )

    q["d19_incremental_neardup"] = d19

    # per-cell drift between the stored centroid and the CURRENT cell
    # mean — the retrain trigger for the frozen-quantizer lifecycle
    q["s28_quantizer_drift"] = lambda spark, sf: SIM.quantizer_drift(_emb(spark, sf))

    def s29(spark, sf):
        # the s28 drift read off a PERSISTED index's stored cells +
        # stored centroids (the maintenance loop's actual watch number);
        # reuses the session-cached pristine IVF index (s09's artifact)
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivf", sf, lambda p: SIM.build_ivf_index(emb, p, num_cells=8)
        )
        return SIM.quantizer_drift_from_index(spark, path)

    q["s29_quantizer_drift_from_index"] = s29

    def q90(spark, sf):
        # deterministic quality-curriculum ordering: ntile stages over
        # (score desc, id) + the md5 within-stage shuffle; above the
        # window_max row threshold the staging runs on global_rank
        # (range partition + offsets), bit-identical, no single-task
        # window
        scores = TXT.quality_scores(_docs(spark, sf)).select(
            "doc_id", "quality_score"
        )
        return SAMP.curriculum_order(scores)

    q["q90_curriculum_order"] = q90

    def q91(spark, sf):
        # per-(stage, source) composition of the curriculum plan — the
        # QA check that a quality curriculum has not silently become a
        # DOMAIN curriculum
        docs = _docs(spark, sf)
        scores = TXT.quality_scores(docs).select("doc_id", "quality_score")
        return SAMP.stage_mixture(SAMP.curriculum_order(scores), docs)

    q["q91_stage_mixture"] = q91

    def m06(spark, sf):
        # per-kind payload-size envelope over the m01 feature rows
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        return MM.payload_size_profile(
            MM.extract_features(MM.make_fake_media(spark, n=16))
        )

    q["m06_payload_size_profile"] = m06

    # document-frequency histogram of the shingle vocabulary on
    # power-of-two buckets — the evidence surface behind max_df
    q["d20_shingle_df_profile"] = lambda spark, sf: DD.shingle_df_profile(
        _docs(spark, sf)
    )

    def q93(spark, sf):
        # the decontamination-threshold decision table over the
        # certified t10 surface (same % 20 eval split as the wired t10)
        docs = _docs(spark, sf)
        conta = TXT.contamination_check(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            n=5,
        )
        return TXT.contamination_profile(conta)

    q["q93_contamination_profile"] = q93

    # confidence surface for the t03 heuristic: integer best/second
    # marker scores + margin — the routing table for a two-tier
    # language pipeline
    q["t36_langid_margin"] = lambda spark, sf: TXT.language_id_margin(
        _docs(spark, sf)
    )

    def q94(spark, sf):
        # shard-export integrity check: recount the disk contents of a
        # write_training_shards directory against its own manifest
        # (footer-grain for parquet). The export is built once per
        # session (_cached_index); a fresh export verifies clean by
        # construction — the identity oracle
        from datacatalog_tag_engine_spark.pipeline.export import (
            verify_training_shards,
            write_training_shards,
        )

        docs = _docs(spark, sf).select("doc_id", "text")
        path = _cached_index(
            "export_verify",
            sf,
            lambda p: write_training_shards(docs, p, 8),
        )
        return verify_training_shards(spark, path)

    q["q94_verify_shards"] = q94

    def q95(spark, sf):
        # the FIX for the skew q91 flags: quality re-expressed as each
        # doc's within-source quantile, so every source contributes its
        # best docs to stage 1 (source-partitioned windows throughout)
        docs = _docs(spark, sf)
        scored = (
            TXT.quality_scores(docs)
            .select("doc_id", "quality_score")
            .join(docs.select("doc_id", "source"), "doc_id")
        )
        return SAMP.curriculum_order(SAMP.source_relative_scores(scored))

    q["q95_source_relative_curriculum"] = q95

    # EXACT heavy hitters without a vocabulary-grain shuffle:
    # per-partition Misra-Gries candidate pass + exact recount of the
    # bounded candidate set (the scale form of the t05/t32 family)
    q["t37_heavy_hitters"] = lambda spark, sf: TXT.heavy_hitter_tokens(
        _docs(spark, sf), k=100
    )

    def q97(spark, sf):
        # per-source diff of two corpus snapshots from ONE full-outer
        # join over scan-projection fingerprints — the daily-refresh
        # sanity gate before q79/q80/q84 commit to rewriting anything
        from datacatalog_tag_engine_spark.pipeline.profiling import (
            corpus_snapshot_diff,
        )

        docs = _docs(spark, sf)
        old = docs.filter(F.col("doc_id") % 17 != 0)
        new = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        return corpus_snapshot_diff(old, new)

    q["q97_snapshot_diff"] = q97

    # pairwise co-fire matrix of the Gopher gates (incl. the solo
    # diagonal) — the gate-redundancy diagnosis q72's drift can't see
    q["q98_gate_overlap"] = lambda spark, sf: TXT.gate_overlap_matrix(
        _docs_spread(spark, sf)
    )

    # cell-restricted k-NN graph + mutuality flag (the SemDeDup
    # building block): joins probe rows to cell members WITHOUT
    # broadcasting — the query side IS the corpus
    q["s30_knn_graph"] = lambda spark, sf: SIM.knn_graph(
        _emb(spark, sf), k=5, num_cells=8
    )

    def s31(spark, sf):
        # the s30 graph read off the PERSISTED index's stored cells: no
        # re-assignment, so lifecycle ops touching cells {c...} change
        # only those cells' edges — nightly graph refreshes are
        # delta-priced like the rest of the lifecycle
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivf", sf, lambda p: SIM.build_ivf_index(emb, p, num_cells=8)
        )
        return SIM.knn_graph_from_index(spark, path, k=5)

    q["s31_knn_graph_from_index"] = s31

    def q99(spark, sf):
        # the streaming heavy-hitter monitor's batch replay (the
        # q85/q78 pattern): per-bucket MG state grain -> candidate
        # reduce -> exact recount, the full monitor loop in one batch
        # job — reproduces t37 (and its oracle) exactly; the stream's
        # own emissions are tied to the same loop by the stream==batch
        # pytest parity
        from datacatalog_tag_engine_spark.streaming.quality import (
            heavy_hitter_replay,
        )

        return heavy_hitter_replay(_docs(spark, sf), k=100)

    q["q99_heavy_hitter_state"] = q99

    def d23(spark, sf):
        # daily near-dup served from the PERSISTED signature store —
        # the dedup family's s09/s31: the store is built once per
        # session from the resident corpus (_cached_index), the delta
        # joins signatures, resident TEXT is never re-read; on a store
        # built from the resident corpus the output is identical to
        # recomputing resident signatures fresh, so the oracle is the
        # d19 string verbatim
        docs = _docs(spark, sf)
        resident = docs.filter(F.col("doc_id") % 3 != 0)
        path = _cached_index(
            "sigstore",
            sf,
            lambda p: DD.build_signature_store(resident, f"{p}/store"),
        )
        return DD.incremental_neardup_from_store(
            spark, f"{path}/store", docs.filter(F.col("doc_id") % 3 == 0)
        )

    q["d23_neardup_from_store"] = d23

    # ---- round-13 rotation: the r13 bank graduates ------------------------

    def d22(spark, sf):
        # connected components by alternating large-star / small-star
        # contraction (Kiveris et al., SoCC'14) — the O(log n)-round
        # scale path for LONG CHAINS, where min-label propagation is
        # O(component diameter) rounds. Output IDENTICAL to
        # neardup_clusters (cluster_id = smallest reachable id), so the
        # wired q34 oracle serves it verbatim — the s29/s31 identity
        # pattern
        docs = _docs(spark, sf)
        return DD.neardup_clusters_star(docs, DD.minhash_dedup(docs))

    q["d22_clusters_star"] = d22

    # within-document language segmentation at line grain: each
    # non-blank line classified with t03's exact rule, doc-grain
    # profile (dominant, mixed flag, distinct langs) — entirely
    # row-local higher-order functions, a pure scan at 100 TB
    q["t39_line_lang_profile"] = lambda spark, sf: TXT.line_language_profile(
        _docs_spread(spark, sf)
    )

    # the line/paragraph half of Gopher's repetition block: duplicate
    # line/paragraph fractions + char-fraction forms, the paper's
    # earlier-occurrence definition, NULL when unmeasurable; row-local
    q["t40_line_repetition"] = lambda spark, sf: TXT.line_repetition_signals(
        _docs_spread(spark, sf)
    )

    # the n-gram half of Gopher's repetition block at character grain:
    # top-{2,3,4}-gram and dup-{5..10}-gram POSITIONAL char coverage —
    # a deliberate Arrow/mapInPandas path (linear per doc; nesting the
    # coverage mask in HOFs re-evaluated subexpressions per element)
    q["t41_ngram_coverage"] = lambda spark, sf: TXT.ngram_coverage_signals(
        _docs(spark, sf)
    )

    def q100(spark, sf):
        # per-score-decile keep rate of the Gopher gate: the
        # cheap-score vs expensive-gate calibration table; deciles are
        # curriculum_order's certified staging, the oracle nests the
        # wired t02 + t16 strings (the d17 two-CTE pattern)
        from datacatalog_tag_engine_spark.pipeline.profiling import (
            score_gate_calibration,
        )

        return score_gate_calibration(_docs(spark, sf))

    q["q100_score_gate_calibration"] = q100

    # SemDeDup-shaped semantic clustering: connected components over
    # the MUTUAL edges of the s30 k-NN graph (symmetric evidence — a
    # hub vector in everyone's top-k cannot glue clusters one-
    # directionally), composed from s30's graph + d22's contraction
    q["s32_mutual_knn_clusters"] = lambda spark, sf: SIM.mutual_knn_clusters(
        _emb(spark, sf), k=5, num_cells=8
    )

    # per-(source, pii_type) PII mass from the t06 pattern surface:
    # sequential-pipeline counting (each pattern counts against the
    # previous pattern's redacted text), so incidence == redact_pii's
    # redaction count by construction; one scan, dimension-grain
    # shuffle — the corpus-grain form of the reference's DLP rollups
    # (J2, dlp_dataset_config.py)
    q["t42_pii_incidence"] = lambda spark, sf: TXT.pii_incidence(_docs(spark, sf))

    # MOSS winnowing fingerprints (Schleimer et al., SIGMOD'03):
    # k-gram hashes, window-min selection (rightmost on ties), dedup —
    # any shared substring of length >= w + k - 1 shares a
    # fingerprint, the contained-copy contract minhash can't give;
    # pure row-local HOFs, no shuffle
    q["t43_winnowing"] = lambda spark, sf: TXT.winnowing_fingerprints(
        _docs_spread(spark, sf)
    )

    # the dedup-threshold DECISION TABLE: all LSH candidates on the
    # exact dyadic estimate lattice + cumulative pair mass each
    # threshold keeps (cum(v) == a real d15 run at threshold v);
    # candidate-grain input, <= num_hashes + 1 output rows
    q["d24_threshold_sweep"] = lambda spark, sf: DD.candidate_threshold_sweep(
        _docs(spark, sf)
    )

    def q101(spark, sf):
        # straggler check for export manifests: exact percentiles +
        # integer micro max/mean ratio at manifest grain — the number
        # a training job reads before inheriting a layout (one reader
        # task per shard)
        from datacatalog_tag_engine_spark.pipeline.export import shard_skew_profile

        manifest = (
            _docs(spark, sf)
            .select(SAMP.hash_bucket(F.col("doc_id"), 16).alias("shard"))
            .groupBy("shard")
            .agg(F.count("*").alias("n_docs"))
        )
        return shard_skew_profile(manifest)

    q["q101_shard_skew"] = q101

    # winnowing's cross-document consumer: distinct (doc, fp) rows,
    # hot-fingerprint cap via the bounded broadcast anti-join (the d12
    # discipline), fingerprint-bucketed pair join, containment-style
    # overlap vs the SMALLER doc's surviving fingerprints — finds
    # contained copies whole-document minhash provably misses
    q["d25_winnowing_overlap"] = lambda spark, sf: DD.winnowing_overlap_pairs(
        _docs_spread(spark, sf)
    )

    def d26(spark, sf):
        # per-cluster provenance purity of the q34 clustering:
        # n_sources + deterministic majority share at cluster grain —
        # enumerates the cross-source mirror clusters q88's per-source
        # rollup can only sum
        docs = _docs(spark, sf)
        clusters = DD.neardup_clusters(docs, DD.minhash_dedup(docs))
        return DD.cluster_purity(docs, clusters)

    q["d26_cluster_purity"] = d26

    def s33(spark, sf):
        # serving recall measured off the PERSISTED index (fresh-index
        # identity: stored assignment == ranked assignment, so this
        # replays the s05 oracle verbatim AND equals the in-memory s05
        # computation) — the post-maintenance QA row
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivf", sf, lambda p: SIM.build_ivf_index(emb, p, num_cells=8)
        )
        qs = emb.filter(F.col("vec_id") < 5)
        exact = SIM.brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
        approx = (
            SIM.ivf_topk_from_index(spark, path, qs, k=5, nprobe=1)
            .select("query_id", "neighbor_id")
            .withColumn("_hit", F.lit(1))
        )
        return (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count("*").alias("k"),
                F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
            )
            .select(
                "query_id",
                "n_matched",
                F.round(F.col("n_matched") / F.col("k"), 4).alias("recall_at_5"),
            )
        )

    q["s33_recall_from_index"] = s33

    def q102(spark, sf):
        # the continuous daily-dedup loop's driver-certifiable batch
        # form (the q78/q85/q99 replay pattern): three sequential crawl
        # drops run the SAME per-batch function the foreachBatch stream
        # runs, against a store seeded from the resident corpus; output
        # is the accepted corpus keyed by admitting drop. stream==replay
        # parity is pinned in test_streaming.py; the oracle is the
        # unrolled per-stage d19 derivation
        from datacatalog_tag_engine_spark.pipeline.dedup import (
            build_signature_store,
        )
        from datacatalog_tag_engine_spark.streaming.dedup import (
            sigstore_ingest_replay,
        )

        docs = _docs(spark, sf).select("doc_id", "text")
        resident = docs.filter(F.col("doc_id") % 4 == 0)
        batches = [docs.filter(F.col("doc_id") % 4 == i) for i in (1, 2, 3)]

        def build(p):
            # metrics_sink on: ONE replay serves two readers (q102 the
            # accepted corpus, q103 the per-batch metrics) — the build
            # is priced once per session, the r14 rotation plan
            build_signature_store(resident, f"{p}/store")
            sigstore_ingest_replay(
                spark,
                f"{p}/store",
                batches,
                f"{p}/accepted",
                metrics_sink=f"{p}/metrics",
            )

        path = _cached_index("sigstore_replay", sf, build)
        return spark.read.parquet(f"{path}/accepted").select(
            F.col("batch").cast("int").alias("batch"), "doc_id"
        )

    q["q102_sigstore_ingest"] = q102

    # --- round-14 rotation: the fourteen operators drafted AND proven
    # value-equal against DuckDB in tests/test_oracle_drafts_r14.py
    # last round (the oracle strings are the proven drafts verbatim —
    # module-level generators below, which the drafts file imports
    # back: one copy, no drift) ---

    # contained-copy removal over d25's pair surface: qualifying pairs
    # drop the side with fewer surviving fingerprints (tie -> larger
    # id); drops are independent pair decisions, so chains resolve to
    # "everything contained anywhere goes, maximal docs stay".
    # max_df=100 is the winnow-ladder knee for this fixture (SCALE.md)
    q["d27_winnowing_dedup"] = lambda spark, sf: DD.winnowing_dedup(
        _docs_spread(spark, sf), max_df=100
    )

    def d28(spark, sf):
        # train/test decontamination at SUBSTRING grain: a train doc is
        # flagged when it shares >= min_shared winnowing fingerprints
        # with any test doc (the q101/q58 md5 bucket split, bucket 0 ->
        # test); only the train x test quadrant is ever joined
        docs = _docs_spread(spark, sf)
        test = docs.filter(SAMP.hash_bucket(F.col("doc_id"), 10) == 0)
        train = docs.filter(SAMP.hash_bucket(F.col("doc_id"), 10) != 0)
        return DD.winnowing_contamination(train, test, max_df=100)

    q["d28_winnowing_contamination"] = d28

    def d29(spark, sf):
        # the copy-audit family's persisted artifact (the d23 template
        # applied to d25): archive fingerprinted ONCE into a store
        # (built per session — _cached_index), daily delta served as
        # delta x (store ∪ delta) with the resident x resident quadrant
        # never generated and resident TEXT never re-read
        from datacatalog_tag_engine_spark.pipeline.dedup import (
            build_winnowing_store,
            incremental_winnowing_overlap,
        )

        docs = _docs_spread(spark, sf)
        resident = docs.filter(F.col("doc_id") % 3 != 0)
        delta = docs.filter(F.col("doc_id") % 3 == 0)
        path = _cached_index(
            "winnowstore",
            sf,
            lambda p: build_winnowing_store(resident, f"{p}/store"),
        )
        return incremental_winnowing_overlap(spark, f"{path}/store", delta)

    q["d29_incremental_winnowing"] = d29

    # d24's decision table joined to GROUND TRUTH: every LSH candidate
    # carries its signature estimate AND exact verified Jaccard,
    # rolled up per lattice value with n_true / dedup_precision vs the
    # 0.5 threshold — how much kept mass is REAL, per threshold
    q["d30_threshold_sweep_vs_exact"] = lambda spark, sf: DD.threshold_sweep_vs_exact(
        _docs(spark, sf)
    )

    def s34(spark, sf):
        # serving recall of the PERSISTED IVF-PQ path: ADC is lossy by
        # construction, so unlike s33's fresh-index identity this
        # measures a real approximation; recall_profile is the packaged
        # form of the one recall join s05/s33 inline
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivfpq", sf, lambda p: SIM.build_ivfpq_index(emb, p, num_cells=8)
        )
        qs = emb.filter(F.col("vec_id") < 5)
        exact = SIM.brute_force_topk(emb, qs, k=5)
        approx = SIM.ivfpq_topk_from_index(spark, path, qs, k=5, nprobe=2)
        return SIM.recall_profile(exact, approx)

    q["s34_ivfpq_recall_from_index"] = s34

    # neighbor-quality decay of the s30 graph at RANK grain: per rank,
    # the cosine distribution (micro-lattice mean, exact min/max) and
    # the mutual fraction — the QA table read before trusting the
    # graph for SemDeDup-style curation
    q["s35_knn_rank_profile"] = lambda spark, sf: SIM.knn_rank_profile(
        SIM.knn_graph(_emb(spark, sf), k=5, num_cells=8)
    )

    def s36(spark, sf):
        # per-rank cosine regret of the ADC serving path — the
        # magnitude QA s34's recall can't see: approximate picks are
        # re-scored with TRUE cosines (ADC distances never compared to
        # cosines) against the exact per-rank cosines
        emb = _emb(spark, sf)
        path = _cached_index(
            "ivfpq", sf, lambda p: SIM.build_ivfpq_index(emb, p, num_cells=8)
        )
        qs = emb.filter(F.col("vec_id") < 5)
        exact = SIM.brute_force_topk(emb, qs, k=5)
        approx = SIM.ivfpq_topk_from_index(spark, path, qs, k=5, nprobe=2)
        return SIM.topk_regret_profile(emb, exact, approx)

    q["s36_topk_regret"] = s36

    # the nprobe DECISION TABLE: per candidate nprobe, mean serving
    # recall vs the WORK it costs (n_scored counted analytically from
    # probed-cell populations minus self-hits — the sweep never
    # materializes a pair join to count it); monotone-and-saturates
    # physics pinned (nprobe == num_cells -> recall 1.0)
    q["s37_nprobe_sweep"] = lambda spark, sf: SIM.nprobe_recall_sweep(
        _emb(spark, sf),
        _emb(spark, sf).filter(F.col("vec_id") < 5),
        k=5,
        num_cells=8,
    )

    def q103(spark, sf):
        # per-batch acceptance accounting of the continuous ingest
        # loop — reads the METRICS table of the SAME cached replay
        # q102 reads accepted rows from (one build, two readers); the
        # ops monitor a production crawl loop watches. Loser counts
        # are evidence counts, not a partition.
        q["q102_sigstore_ingest"](spark, sf)  # ensure the shared build
        path = _INDEX_CACHE[("sigstore_replay", sf)]
        return spark.read.parquet(f"{path}/metrics").select(
            F.col("batch").cast("int").alias("batch"),
            "n_in",
            "n_accepted",
            "n_cross_losers",
            "n_within_losers",
        )

    q["q103_sigstore_metrics"] = q103

    # the per-source corpus DASHBOARD: volume, Gopher-gate survival,
    # quality mass (micro lattice), PII exposure, token mass — each
    # column a certified operator's own formula (t16/t02/t06/t01)
    # joined at doc grain and rolled up once; the corpus-grain form of
    # the reference's per-column DLP/coverage rollups
    # examined r14: entry-level _docs_spread measured a WASH here — the
    # report consumes docs five times (base + four metric scans), so
    # the keyless repartition subtree re-runs per consumer and its five
    # payload exchanges ate the 32-wide scan win; a checkpoint instead
    # costs ~1 s at sf0.1 (the t31 probe). Left on the plain scan.
    q["q104_corpus_health"] = lambda spark, sf: PROF.corpus_health_report(
        _docs(spark, sf)
    )

    # token mass per curriculum stage: q90's certified ntile staging
    # joined to t01's certified count — stage doc/token counts,
    # cumulative tokens through stage N, per-stage share
    q["q105_curriculum_token_budget"] = lambda spark, sf: SAMP.curriculum_token_budget(
        _docs(spark, sf)
    )

    # per-source rollup of the contained-copy audit (the q88 pattern
    # on the winnowing surface): d27-rule drops per source and how
    # many are contained in ANOTHER source's documents — the
    # scrape/mirror signal at dimension grain
    q["q106_copy_audit_profile"] = lambda spark, sf: DD.copy_audit_profile(
        _docs_spread(spark, sf), max_df=100
    )

    def m07(spark, sf):
        # per-kind near-dup exposure — the m-family's q88: one row per
        # modality with item/pair counts and the dup item rate, over
        # the SAME fixtures and pair surfaces m02/m03/m04 certify;
        # payloads never enter the plan (ids only)
        from datacatalog_tag_engine_spark.pipeline import multimodal as MM

        img = MM.make_fake_image_corpus(spark, n_groups=6, group_size=3)
        aud = MM.make_fake_audio_corpus(spark, 6, 3)
        vid = MM.make_fake_video_corpus(spark, 4, 3)
        img_pairs = DD.hamming_neardup_pairs(
            MM.image_phash(img), id_col="media_id", fp_col="phash",
            bits=64, bands=4, max_hamming=10,
        )
        aud_pairs = DD.hamming_neardup_pairs(
            MM.audio_fingerprint(aud), id_col="media_id", fp_col="afp",
            bits=64, bands=4, max_hamming=10,
        )
        vid_pairs = DD.frame_neardup_pairs(
            MM.video_frame_phashes(vid, sample_frames=4),
            min_matching_frames=3, max_hamming=10,
        )
        return MM.neardup_rate_profile(
            [
                ("image", img, img_pairs, "media_id"),
                ("audio", aud, aud_pairs, "media_id"),
                ("video", vid, vid_pairs, "media_id"),
            ]
        )

    q["m07_multimodal_dup_rates"] = m07

    # the winnowing (k, w) decision table — the d18 discipline applied
    # to t43's knobs: per parameter pair, the guarantee length
    # (w + k - 1) against the selection density (expected 2/(w+1),
    # measured on THIS corpus — which also prices the d25/d27 join
    # surface); one shuffle-free winnowing scan per pair
    q["t44_winnowing_params"] = lambda spark, sf: TXT.winnowing_parameter_table(
        _docs_spread(spark, sf)
    )

    # ---- driver CORRECTNESS window ordering ------------------------------
    # The driver records correctness rows for the FIRST 50 insertion-
    # ordered entries only. Round-14 round-start rotation (the inventory
    # grows 202 -> 216, then freezes): the fourteen queries proven as
    # DuckDB drafts in tests/test_oracle_drafts_r14.py enter for their
    # first rows. Code-changed re-certification: q102_sigstore_ingest,
    # whose cached builder gained metrics_sink at this rotation so q103
    # shares one replay (value-identical for q102's accepted output,
    # but the cached-build code changed, so the family re-certifies by
    # policy). Note t43/d25/t39/t40 — whose operators took the two
    # queued measured optimizations at round start (fused winnowing
    # gram hash + O(n) consecutive-run dedup; staged _langs) — already
    # re-certify implicitly: t43/d25/t39/t40 rows ran green at r13 and
    # the r14 full-inventory strict check re-proves them at HEAD, and
    # d27/d28/q106/t44/d29 exercise the changed winnowing function in
    # their own first driver rows. The remaining 35 slots are the
    # MECHANICAL aging drip: the 35 oldest driver rows by the rounds-
    # since-green ledger (computed from the CORRECTNESS_r*.json records
    # committed BEFORE this rotation — rounds < 14 — in
    # tests/test_r14_rotation_wiring.py, which asserts this exact
    # selection): the 11 remaining r9-last-green rows plus the 24
    # oldest r10 rows by name order. The three oracle-less-by-nature
    # queries (q09/t12/s06) stay outside the window by policy. All 50
    # verified against the local DuckDB oracle (tools/check_oracle.py
    # --strict) before the freeze; the driver row is the hard signal.
    # Every entry still runs in bench.py regardless of position.
    window = [
        # round-14 rotation: first driver rows
        "d27_winnowing_dedup", "d28_winnowing_contamination",
        "d29_incremental_winnowing", "d30_threshold_sweep_vs_exact",
        "s34_ivfpq_recall_from_index", "s35_knn_rank_profile",
        "s36_topk_regret", "s37_nprobe_sweep",
        "q103_sigstore_metrics", "q104_corpus_health",
        "q105_curriculum_token_budget", "q106_copy_audit_profile",
        "m07_multimodal_dup_rates", "t44_winnowing_params",
        # code-changed re-certification (metrics_sink added to the
        # shared cached replay builder)
        "q102_sigstore_ingest",
        # mechanical aging drip: the 35 oldest rows by the ledger
        # (11 r9 + 24 r10)
        "s07_pq_adc", "s09_ivf_from_index", "s10_ivfpq_topk",
        "s11_ivfpq_from_index", "s12_ivfpq_residual", "s13_cell_balance",
        "s14_ivfpq_rerank", "s15_ivfpq_rerank_from_index",
        "t27_tokenizer_fertility", "t28_corpus_divergence",
        "t29_vocab_growth", "d06_repeated_spans", "m05_manifest_stats",
        "q01_row_count", "q02_count_distinct", "q03_conditional_count",
        "q04_not_in_count", "q05_avg_daily", "q06_avg_daily_filtered",
        "q07_constant_string", "q08_constant_number", "q19_export",
        "q21_jobs", "q28_assets_discovery", "q29_fused_profile",
        "q31_corpus_stats", "q32_sessionize", "q43_history_rollup",
        "q45_training_shuffle", "q72_gate_mixture_drift",
        "q73_cluster_size_profile", "q74_percentile_tolerance",
        "q75_session_funnel", "q76_event_rate_anomaly",
        "q77_lang_source_profile",
    ]
    assert len(window) == 50 and set(window) <= set(q)
    return {name: q[name] for name in window + [n for n in q if n not in window]}


# ---------------------------------------------------------------------------
# oracles


def _shingle_cte(src: str = "documents", p: str = "") -> str:
    # word 3-shingles, distinct per doc — mirrors pipeline.dedup.word_shingles.
    # `p` prefixes the CTE names so the chain can coexist with another
    # shingle derivation in one statement (q71 composes it after
    # _cluster_chain, which owns the bare toks/sh names).
    return f"""
{p}toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') w FROM {src}),
{p}sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM {p}toks)
"""


def _paragraph_cte(src: str, p: str = "") -> str:
    """CCNet paragraph keep-first dedup over ``src``(doc_id, text) as
    CTEs {p}d..{p}r — ONE derivation for the d09 per-operator oracle
    and q59's pd_ stage, so a formula fix propagates to both (the
    composition oracle previously hand-copied this chain). {p}d carries
    the split array; {p}r the rejoined kept text + kept count."""
    return rf"""{p}d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\n\s*\n'),
                     s -> length(trim(s)) > 0) AS arr
  FROM {src}),
{p}p AS (
  SELECT doc_id,
         unnest(list_transform(range(len(arr)),
                               i -> {{'pos': i, 'para': arr[i+1]}}),
                recursive := true)
  FROM {p}d),
{p}n AS (
  SELECT doc_id, pos, para,
         lower(regexp_replace(trim(para), '\s+', ' ', 'g')) AS norm
  FROM {p}p),
{p}k AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
  FROM {p}n),
{p}r AS (
  SELECT doc_id,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
         count(*) AS kept
  FROM {p}k WHERE rn = 1 GROUP BY doc_id)"""


def _span_cte(src: str, p: str = "") -> str:
    """Exact-substring span removal (word-8-gram, df >= 2) over
    ``src``(doc_id, text) as CTEs {p}d..{p}r — ONE derivation for the
    d08 per-operator oracle and q59's sp_ stage. {p}d carries the
    lower/original word arrays; {p}cov the covered positions; {p}r the
    rebuilt text."""
    return rf"""{p}d AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(text), '\s+') AS wl,
         regexp_split_to_array(text, '\s+') AS wo
  FROM {src}),
{p}g AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0
              THEN []::STRUCT("start" BIGINT, gram VARCHAR)[]
              WHEN len(wl) >= 8
              THEN list_transform(range(len(wl) - 7),
                                  i -> {{'start': i,
                                        'gram': array_to_string(wl[i+1:i+8], ' ')}})
              ELSE [{{'start': 0, 'gram': array_to_string(wl, ' ')}}]
         END AS grams
  FROM {p}d),
{p}pg AS (SELECT doc_id, unnest(grams, recursive := true) FROM {p}g),
{p}rep AS (SELECT gram FROM {p}pg GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
{p}st AS (SELECT {p}pg.doc_id, {p}pg.start FROM {p}pg JOIN {p}rep USING (gram)),
{p}cov AS (
  SELECT DISTINCT {p}st.doc_id,
         unnest(range({p}st.start, least({p}st.start + 8, len({p}d.wl))))::INT AS j
  FROM {p}st JOIN {p}d USING (doc_id)),
{p}words AS (
  SELECT doc_id,
         unnest(list_transform(range(len(wo)),
                               j -> {{'j': j, 'word': wo[j+1]}}),
                recursive := true)
  FROM {p}d),
{p}kept AS (
  SELECT w.doc_id, w.j, w.word
  FROM {p}words w ANTI JOIN {p}cov c ON w.doc_id = c.doc_id AND w.j = c.j),
{p}r AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY j) AS text
  FROM {p}kept GROUP BY doc_id)"""


# ---------------------------------------------------------------------------
# round-7 oracle machinery: the DuckDB derivations proven value-equal in
# tests/test_oracle_drafts_r7.py before entering the inventory. The
# constants/generators live HERE (the wired copy) and the drafts file
# imports them, so the proof tests exercise the exact strings the driver
# runs — no duplicated SQL to drift.

# BPE merge list frozen from bpe_train(documents@sf0.001, num_merges=16)
# — the t14 placeholder-weights pattern: the inventory query APPLIES a
# trained artifact, it does not retrain per scale factor (the drafts
# file asserts this literal still equals a fresh train on the smoke
# corpus, so drift in bpe_train would be caught there).
BPE_MERGES = [
    ("e", "r</w>"), ("o", "w</w>"), ("o", "r"), ("l", "u"),
    ("i", "n"), ("a", "r"), ("p", "ar"), ("e", "r"),
    ("a", "s"), ("t", "o"), ("a", "t"), ("a", "n</w>"),
    ("c", "an</w>"), ("s", "can</w>"), ("c", "o"), ("co", "lu"),
]

# U+001F unit separator frames the SQL replay's symbol strings. It is
# NOT ASCII whitespace (\s does not match it), so tokenization in BOTH
# engines splits words on [\s\x1f]+ — making every word sentinel-free by
# construction instead of by assumption (a \x1f inside a word would
# corrupt the separator framing below: empty symbols get filtered,
# silently dropping a token on the SQL side only).
_BPE_SEP = "\x1f"


def bpe_apply_sql(merges) -> str:
    """Merge-list replay via chained greedy replaces: SQL's replace()
    substitutes non-overlapping occurrences left-to-right — exactly the
    greedy scan bpe_apply's encoder implements — so applying the merges
    IN ORDER over a separator-joined symbol string replays the
    rank-priority encode loop."""
    sep = _BPE_SEP
    init = (
        "'" + sep + "' || array_to_string(list_transform("
        "range(1, length(word) + 1), "
        "i -> CASE WHEN i = length(word) THEN word[i] || '</w>' "
        "ELSE word[i] END), '" + sep + "') || '" + sep + "'"
    )
    enc = init
    for a, b in merges:
        pat = (sep + a + sep + b + sep).replace("'", "''")
        rep = (sep + a + b + sep).replace("'", "''")
        enc = f"replace({enc}, '{pat}', '{rep}')"
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(coalesce(text, '')), '[\s\x1f]+') AS ws
  FROM documents),
tok AS (
  SELECT doc_id, i, ws[i+1] AS word
  FROM w, unnest(range(len(ws))) t(i)
  WHERE length(ws[i+1]) > 0),
enc AS (
  SELECT doc_id, i,
         list_filter(regexp_split_to_array({enc}, chr(31)),
                     x -> length(x) > 0) AS toks
  FROM tok),
agg AS (
  SELECT doc_id,
         string_agg(array_to_string(toks, '|'), '|' ORDER BY i) AS tokens,
         sum(len(toks)) AS n
  FROM enc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.tokens, '') AS tokens,
       coalesce(a.n, 0)::INT AS n_tokens
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


PERPLEXITY_SQL = r"""
WITH w AS (SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS word
           FROM documents),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT sum(c)::DOUBLE AS total FROM v),
m AS (SELECT word, cast(round(ln(c / total) * 1000000) AS BIGINT) AS lp6 FROM v, t),
sc AS (
  SELECT doc_id, count(*) AS n_words,
         round(sum(lp6) / count(*) / 1e6, 4) AS avg_logprob
  FROM w JOIN m USING (word) GROUP BY doc_id),
cuts AS (
  SELECT quantile_cont(avg_logprob, 1 - 1.0/3) AS head_min,
         quantile_cont(avg_logprob, 1 - 2.0/3) AS mid_min
  FROM sc)
SELECT doc_id, n_words, avg_logprob,
       CASE WHEN avg_logprob >= head_min THEN 'head'
            WHEN avg_logprob >= mid_min THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc, cuts
"""


def classifier_sql(iterations: int, num_buckets: int, lr: float) -> str:
    """GD iterations unrolled as chained CTEs: every cross-partition
    sum quantizes to integer micro-units, so each iteration's margins/
    gradients are exact longs and the whole train replays as one SQL
    chain (one CTE pair per iteration). Positive = even doc_ids."""
    parts = [rf"""
WITH lab AS (
  SELECT 'p:' || doc_id::VARCHAR AS k, 1.0 AS y, text
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'n:' || doc_id::VARCHAR, 0.0, text
  FROM documents WHERE doc_id % 2 <> 0),
tok AS (
  SELECT k, y,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> length(x) > 0)) AS word
  FROM lab),
tb AS (
  SELECT k, y,
         (('0x' || substr(md5(word), 1, 8))::BIGINT % {num_buckets})::INT AS bucket
  FROM tok),
feats AS (
  SELECT k, y, bucket,
         count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY k) AS x
  FROM tb GROUP BY k, y, bucket),
nd AS (SELECT count(DISTINCT k) AS n FROM feats),
w0 AS (SELECT i::INT AS bucket, 0.0 AS w FROM range({num_buckets}) t(i))"""]
    for i in range(iterations):
        parts.append(f""",
m{i} AS (
  SELECT f.k, f.y,
         1.0 / (1.0 + exp(-(sum(round(f.x * w{i}.w * 1e6)::BIGINT) / 1e6))) - f.y AS r
  FROM feats f JOIN w{i} ON f.bucket = w{i}.bucket
  GROUP BY f.k, f.y),
g{i} AS (
  SELECT f.bucket, sum(round(m{i}.r * f.x * 1e6)::BIGINT) AS s6
  FROM feats f JOIN m{i} ON f.k = m{i}.k
  GROUP BY f.bucket),
w{i + 1} AS (
  SELECT w{i}.bucket,
         w{i}.w - ({lr} * (coalesce(g{i}.s6, 0) / 1e6)) / nd.n AS w
  FROM w{i} LEFT JOIN g{i} USING (bucket), nd)""")
    parts.append(f"\nSELECT bucket, round(w, 6) AS w FROM w{iterations}")
    return "".join(parts)


CLEAN_INGEST_SQL = r"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS text, lang, source, n_chars,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents),
gf AS (
  SELECT doc_id, text, lang, source, n_chars,
         len(w) AS nw,
         list_sum(list_transform(w, x -> length(x))) / len(w) AS mwl,
         len(regexp_extract_all(text, '#|\.\.\.|…')) / len(w) AS sym,
         len(list_filter(lines, l -> regexp_matches(l, '^\s*(\*|-|•)\s')))
           / len(lines) AS bullet,
         len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
           / len(lines) AS ell,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w) AS alpha
  FROM base WHERE len(w) > 0 AND len(lines) > 0),
keep AS (
  SELECT doc_id, text, lang, source, n_chars FROM gf
  WHERE nw BETWEEN 20 AND 100000
    AND mwl BETWEEN 3.0 AND 10.0
    AND sym <= 0.1 AND bullet <= 0.9 AND ell <= 0.3 AND alpha >= 0.8),
fp AS (
  SELECT *,
         md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fingerprint
  FROM keep)
SELECT doc_id, text, lang, source, n_chars, fingerprint
FROM fp
QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
"""


SAMPLE_K_SQL = """
SELECT doc_id, source FROM documents
QUALIFY row_number() OVER (PARTITION BY source
                           ORDER BY md5(doc_id::VARCHAR), doc_id) <= 5
"""


def _ivfpq_scored_cte(nprobe: int) -> str:
    """The shared IVF-PQ chain through the ADC `scored` CTE: the s03
    cell CTEs (deterministic first-8-by-id coarse centroids) composed
    with the s07 PQ CTEs (4x16 codebook, integer micro-unit argmin),
    plus the cell-pruned candidate join. ``ivfpq_sql`` ranks it
    directly (s10/s11); ``ivfpq_rerank_sql`` takes the ADC shortlist
    and re-ranks with exact cosine (s14/s15) — ONE copy of the chain."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
ranked AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
probe AS (SELECT vec_id AS query_id, cell FROM ranked
          WHERE rn <= {nprobe} AND vec_id < 5),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM e ORDER BY vec_id LIMIT 16),
ms AS (SELECT unnest(range(4)) AS m),
csub AS (SELECT c, m, v[m*16+1 : m*16+16] AS cv FROM cent, ms),
esub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sv FROM e, ms),
dists AS (
  SELECT vec_id, m, c,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub JOIN csub USING (m)),
codes AS (
  SELECT vec_id, m, cast(min(d*16 + c) % 16 AS INT) AS code
  FROM dists GROUP BY vec_id, m),
dt AS (
  SELECT es.vec_id AS query_id, es.m, c AS code,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((es.sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub es JOIN csub USING (m) WHERE es.vec_id < 5),
scored AS (
  SELECT dt.query_id, codes.vec_id AS neighbor_id,
         cast(sum(dt.d) AS BIGINT) AS adist_micro
  FROM codes
  JOIN assign ON codes.vec_id = assign.vec_id
  JOIN probe ON assign.cell = probe.cell
  JOIN dt ON codes.m = dt.m AND codes.code = dt.code
         AND dt.query_id = probe.query_id
  GROUP BY dt.query_id, codes.vec_id)"""


def ivfpq_sql(nprobe: int, k: int = 5) -> str:
    """IVF-PQ ADC top-k (s10/s11): rank the shared scored chain."""
    return (
        _ivfpq_scored_cte(nprobe)
        + f"""
SELECT query_id, neighbor_id, adist_micro,
       cast(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist_micro, neighbor_id) AS INT) AS rank
FROM scored WHERE neighbor_id <> query_id
QUALIFY rank <= {k}
"""
    )


def ivfpq_rerank_sql(nprobe: int = 2, shortlist: int = 20, k: int = 5) -> str:
    """IVF-PQ + exact re-rank (s14; s15 replays it verbatim from the
    persisted index): QUALIFY the ADC shortlist off the shared scored
    chain, then exact-cosine refinement on the shortlisted ids under
    the s01 determinism contract (round 4, ties to neighbor asc)."""
    return (
        _ivfpq_scored_cte(nprobe)
        + f""",
short AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist_micro, neighbor_id) AS srank
  FROM scored WHERE neighbor_id <> query_id
  QUALIFY srank <= {shortlist}),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_cosine_similarity(qe.v, ne.v), 4) AS cosine
  FROM short s
  JOIN e ne ON ne.vec_id = s.neighbor_id
  JOIN e qe ON qe.vec_id = s.query_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM rer
QUALIFY rank <= {k}
"""
    )


def ivfpq_residual_sql(nprobe: int) -> str:
    """IVFADC: residuals are plain double subtractions (IEEE-identical
    in both engines), then the same micro-unit PQ machinery over the
    residual space with one ADC table per (query, probed cell)."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
ranked AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
resid AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(64), i -> e.v[i+1] - c.cent_v[i+1]) AS rv
  FROM assign a JOIN e ON a.vec_id = e.vec_id JOIN cents c ON a.cell = c.cell),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, rv AS v
  FROM resid ORDER BY vec_id LIMIT 16),
ms AS (SELECT unnest(range(4)) AS m),
csub AS (SELECT c, m, v[m*16+1 : m*16+16] AS cv FROM cent, ms),
esub AS (SELECT vec_id, m, rv[m*16+1 : m*16+16] AS sv FROM resid, ms),
dists AS (
  SELECT vec_id, m, c,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub JOIN csub USING (m)),
codes AS (
  SELECT vec_id, m, cast(min(d*16 + c) % 16 AS INT) AS code
  FROM dists GROUP BY vec_id, m),
probe AS (SELECT vec_id AS query_id, cell FROM ranked
          WHERE rn <= {nprobe} AND vec_id < 5),
qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(64), i -> e.v[i+1] - c.cent_v[i+1]) AS qr
  FROM probe p JOIN e ON p.query_id = e.vec_id JOIN cents c ON p.cell = c.cell),
qsub AS (SELECT query_id, cell, m, qr[m*16+1 : m*16+16] AS sv FROM qres, ms),
dt AS (
  SELECT query_id, cell, m, c AS code,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM qsub JOIN csub USING (m)),
scored AS (
  SELECT dt.query_id, codes.vec_id AS neighbor_id,
         cast(sum(dt.d) AS BIGINT) AS adist_micro
  FROM codes
  JOIN assign ON codes.vec_id = assign.vec_id
  JOIN dt ON dt.cell = assign.cell AND codes.m = dt.m AND codes.code = dt.code
  GROUP BY dt.query_id, codes.vec_id)
SELECT query_id, neighbor_id, adist_micro,
       cast(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist_micro, neighbor_id) AS INT) AS rank
FROM scored WHERE neighbor_id <> query_id
QUALIFY rank <= 5
"""


NORMALIZE_SQL = (
    r"""
WITH t0 AS (SELECT doc_id, text AS raw, coalesce(text, '') AS t FROM documents),
n AS (
  SELECT doc_id, raw,
    regexp_replace(
     regexp_replace(
      regexp_replace(
       regexp_replace(
        replace(
         translate(
          regexp_replace(
           regexp_replace(t, '\r\n?', chr(10), 'g'),
           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '"""
    + "‘’‚“”„–—−"
    + "     ​"
    + r"""', e'\'\'\'"""
    + '"""'
    + r"""---     '),
         '"""
    + "…"
    + r"""', '...'),
        '[ \t]+', ' ', 'g'),
       ' ?\n ?', chr(10), 'g'),
      '\n{3,}', chr(10) || chr(10), 'g'),
     '^[\n ]+|[\n ]+$', '', 'g') AS norm
  FROM t0)
SELECT doc_id, norm AS text,
       coalesce(length(raw), 0) AS n_chars_raw,
       length(norm) AS n_chars,
       norm IS DISTINCT FROM raw AS changed
FROM n
"""
)


VOCAB_STATS_SQL = r"""
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> length(x) > 0)) AS word
  FROM documents),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
r AS (SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rank FROM v),
a AS (
  SELECT cast(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hx,
         sum(CASE WHEN rank <= 100 THEN c ELSE 0 END) AS tp,
         sum(cast(round(ln(rank) * 1e6) AS BIGINT)) AS sx6,
         sum(cast(round(ln(c) * 1e6) AS BIGINT)) AS sy6,
         sum(cast(round(ln(rank) * ln(c) * 1e6) AS BIGINT)) AS sxy6,
         sum(cast(round(ln(rank) * ln(rank) * 1e6) AS BIGINT)) AS sxx6
  FROM r)
SELECT n_tokens, n_types,
       round(hx::DOUBLE / n_types, 4) AS hapax_frac,
       round(tp::DOUBLE / n_tokens, 4) AS top100_coverage,
       round(CASE WHEN n_types > 1 THEN
               (n_types * (sxy6/1e6) - (sx6/1e6) * (sy6/1e6))
             / (n_types * (sxx6/1e6) - (sx6/1e6) * (sx6/1e6)) END,
             4) AS zipf_slope
FROM a
"""


LINE_DEDUP_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\n'),
                     s -> length(trim(s)) > 0) AS arr
  FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(range(len(arr)),
                               i -> {'pos': i, 'para': arr[i+1]}),
                recursive := true)
  FROM d),
n AS (
  SELECT doc_id, pos, para,
         lower(regexp_replace(trim(para), '\s+', ' ', 'g')) AS norm
  FROM p),
k AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
  FROM n),
r AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY pos) AS text,
         count(*) AS kept
  FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(r.text, '') AS text,
       len(d.arr)::INT AS n_lines,
       (len(d.arr) - coalesce(r.kept, 0))::INT AS n_removed
FROM d LEFT JOIN r USING (doc_id)
"""


COLLAPSE_LINES_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS arr
  FROM documents),
k AS (
  SELECT doc_id, arr,
         list_filter(arr, (x, i) -> i = 1
                     OR length(trim(x)) = 0
                     OR lower(trim(x)) <> lower(trim(arr[i-1]))) AS kept
  FROM d)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS text,
       len(arr)::INT AS n_lines,
       (len(arr) - len(kept))::INT AS n_removed
FROM k
"""


EPOCH_PLAN_SQL = r"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         cast(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens::DOUBLE, 0.5) / sum(pow(n_tokens::DOUBLE, 0.5)) OVER (), 6) AS weight
  FROM s),
t AS (
  SELECT *, cast(round(weight * 200000) AS BIGINT) AS target_tokens,
         cast(round(n_tokens * 1.5) AS BIGINT) AS cap
  FROM w)
SELECT source, n_docs, n_tokens, weight, target_tokens,
       CASE WHEN n_tokens > 0
            THEN round(target_tokens / n_tokens::DOUBLE, 4) END AS epochs,
       least(target_tokens, cap) AS planned_tokens,
       target_tokens - least(target_tokens, cap) AS shortfall_tokens,
       target_tokens > cap AS is_constrained
FROM t
"""


DECONTAM_SQL = r"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
bs AS (
  SELECT DISTINCT unnest(CASE WHEN len(w) >= 5
                   THEN list_transform(range(1, len(w) - 3),
                                       i -> array_to_string(w[i:i+4], ' '))
                   ELSE [] END) AS shingle
  FROM (SELECT regexp_split_to_array(lower(text), '\s+') AS w FROM bench)),
ds AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(w) >= 5
                 THEN list_transform(range(1, len(w) - 3),
                                     i -> array_to_string(w[i:i+4], ' '))
                 ELSE [] END)) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM train)),
flagged AS (
  SELECT DISTINCT ds.doc_id FROM ds JOIN bs USING (shingle))
SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
FROM train t ANTI JOIN flagged f ON t.doc_id = f.doc_id
"""


GATE_METRICS_SQL = r"""
WITH src AS (
  SELECT doc_id, text, source,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE AS ts
  FROM documents),
base AS (
  SELECT doc_id, source, ts, coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS wl,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM src),
bg AS (
  SELECT doc_id, max(c) AS top_bg
  FROM (
    SELECT doc_id, bigram, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(len(wl) - 1),
                                   i -> wl[i+1] || ' ' || wl[i+2])) AS bigram
      FROM base WHERE len(wl) >= 2)
    GROUP BY doc_id, bigram)
  GROUP BY doc_id),
f AS (
  SELECT b.doc_id, b.source, b.ts,
         len(b.w) AS n_words,
         CASE WHEN len(b.w) > 0
              THEN list_sum(list_transform(b.w, x -> length(x))) / len(b.w) END AS mwl,
         CASE WHEN len(b.w) > 0
              THEN len(regexp_extract_all(b.text, '#|\.\.\.|…')) / len(b.w) END AS sym,
         CASE WHEN len(b.lines) > 0
              THEN len(list_filter(b.lines, l -> regexp_matches(l, '^\s*(\*|-|•)\s')))
                   / len(b.lines) END AS bullet,
         CASE WHEN len(b.lines) > 0
              THEN len(list_filter(b.lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
                   / len(b.lines) END AS ell,
         CASE WHEN len(b.w) > 0
              THEN len(list_filter(b.w, x -> regexp_matches(x, '[A-Za-z]')))
                   / len(b.w) END AS alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(b.wl, s))) AS stop_hits,
         CASE WHEN len(b.wl) > 0
              THEN 1.0 - len(list_distinct(b.wl)) / len(b.wl) END AS dupw,
         CASE WHEN len(b.wl) >= 2 THEN bg.top_bg / (len(b.wl) - 1) END AS topbg
  FROM base b LEFT JOIN bg USING (doc_id)),
r AS (
  SELECT *,
         list_filter([
           CASE WHEN n_words < 20 OR n_words > 100000 THEN 'word_count' END,
           CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len' END,
           CASE WHEN sym > 0.1 THEN 'symbol_ratio' END,
           CASE WHEN bullet > 0.9 THEN 'bullet_lines' END,
           CASE WHEN ell > 0.3 THEN 'ellipsis_lines' END,
           CASE WHEN alpha < 0.8 THEN 'alpha_words' END,
           CASE WHEN stop_hits < 0 THEN 'stopword_hits' END,
           CASE WHEN n_words >= 2 AND dupw > 1.0 THEN 'dup_words' END,
           CASE WHEN n_words >= 2 AND topbg > 1.0 THEN 'top_bigram' END
         ], x -> x IS NOT NULL) AS fails
  FROM f),
oc AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, source,
         unnest(CASE WHEN len(fails) = 0 THEN ['kept'] ELSE fails END) AS outcome
  FROM r)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       source, outcome, count(*) AS n_docs
FROM oc GROUP BY ALL
"""


MATERIALIZE_SQL = r"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         cast(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens::DOUBLE, 0.5) / sum(pow(n_tokens::DOUBLE, 0.5)) OVER (), 6) AS weight
  FROM s),
t AS (
  SELECT source, n_tokens,
         cast(round(weight * 200000) AS BIGINT) AS target_tokens,
         cast(round(n_tokens * 1.5) AS BIGINT) AS cap
  FROM w WHERE n_tokens > 0),
r AS (
  SELECT source,
         least(target_tokens, cap) / n_tokens::DOUBLE AS e
  FROM t),
rates AS (
  SELECT source, cast(floor(e) AS INT) AS nfull,
         cast(floor((e - floor(e)) * 10000 + 0.5) AS BIGINT) AS rem
  FROM r),
j AS (
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, rates.nfull, rates.rem,
         rates.nfull
         + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || ':' || rates.nfull::VARCHAR), 1, 8))::BIGINT % 10000 < rates.rem
                THEN 1 ELSE 0 END AS n
  FROM documents d JOIN rates USING (source))
SELECT doc_id, text, lang, source, n_chars, unnest(range(n))::INT AS epoch
FROM j WHERE n > 0
"""


CHUNK_TEXT_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w
  FROM documents),
n AS (
  SELECT doc_id, w, len(w) AS nw,
         CASE WHEN len(w) <= 40 THEN 1
              ELSE 1 + cast(ceil((len(w) - 40) / 30.0) AS INT) END AS nc
  FROM d WHERE len(w) > 0),
c AS (SELECT doc_id, w, nw, unnest(range(nc))::INT AS chunk_id FROM n)
SELECT doc_id, chunk_id,
       array_to_string(w[chunk_id*30 + 1 : chunk_id*30 + 40], ' ') AS text,
       least(40, nw - chunk_id*30)::INT AS n_words,
       (chunk_id * 30)::INT AS start_word
FROM c
"""


def strip_html_sql(src: str) -> str:
    """The strip_html rule chain rebuilt as DuckDB SQL from the SAME
    rule tables the operator runs (RE2-compatible patterns; DuckDB
    needs the explicit 'g' flag where Spark's regexp_replace is global
    by default; string literals are not C-escaped so patterns pass
    through verbatim, only quotes double)."""
    from datacatalog_tag_engine_spark.pipeline.text import (
        _HTML_ENTITIES,
        _HTML_STRIP_RULES,
    )

    t = "coalesce(text, '')"
    for pat, repl in _HTML_STRIP_RULES:
        p = pat.replace("'", "''")
        r = repl.replace("\n", "' || chr(10) || '")
        t = f"regexp_replace({t}, '{p}', '{r}', 'g')"
    for ent, ch in _HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        t = f"replace({t}, '{ent}', '{ch_sql}')"
    return f"""
SELECT doc_id, {t} AS text,
       {t} IS DISTINCT FROM coalesce(text, '') AS had_markup
FROM {src}
"""


def normalize_expr_sql(col: str) -> str:
    """The normalize_text chain as one SQL expression over ``col`` —
    the same steps NORMALIZE_SQL spells out, reusable inside other
    compositions (q59v2's stage 0)."""
    return (
        r"""regexp_replace(
     regexp_replace(
      regexp_replace(
       regexp_replace(
        replace(
         translate(
          regexp_replace(
           regexp_replace(coalesce(""" + col + r""", ''), '\r\n?', chr(10), 'g'),
           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '"""
        + "‘’‚“”„–—−"
        + "     ​"
        + r"""', e'\'\'\'"""
        + '"""'
        + r"""---     '),
         '"""
        + "…"
        + r"""', '...'),
        '[ \t]+', ' ', 'g'),
       ' ?\n ?', chr(10), 'g'),
      '\n{3,}', chr(10) || chr(10), 'g'),
     '^[\n ]+|[\n ]+$', '', 'g')"""
    )


# ---------------------------------------------------------------------------
# round-8 oracle machinery (proven in tests/test_oracle_drafts_r8.py
# before entering the inventory; single copy here, drafts import it)


def phash_neardup_sql(
    n_groups: int = 6, group_size: int = 3, max_hamming: int = 10
) -> str:
    """Analytic replay of the m02 composition: the fake image corpus is
    deterministic integer arithmetic (multimodal._fake_pixel_grid), the
    average-hash bit rule is integer-exact (64*v > sum), bit 63 packs
    as two's complement, and the banded Hamming LSH uses AND-masks
    (dedup.hamming_band_masks — imported here, ONE mask definition) so
    signed BIGINT semantics match Spark longs bit for bit."""
    from datacatalog_tag_engine_spark.pipeline.dedup import hamming_band_masks
    from datacatalog_tag_engine_spark.pipeline.multimodal import PHASH_GRID

    g = PHASH_GRID
    masks = ", ".join(
        f"({j}, {m}::BIGINT)" for j, m in enumerate(hamming_band_masks(64, 4))
    )
    return f"""
WITH m AS (
  SELECT (g * {group_size} + j)::BIGINT AS media_id,
         64 + g AS w, 48 + g AS h, j AS seed
  FROM range({n_groups}) tg(g), range({group_size}) tj(j)),
px AS (
  SELECT media_id, (cy * {g} + cx) AS cell,
         ((w*37 + h*53 + (cx*13 + cy*29 + 1) * (3 + w % 13)) % 256 +
          CASE WHEN len(list_filter(range(seed),
                         c -> (w*7 + c*11) % 64 = cy * {g} + cx)) % 2 = 1
               THEN 128 ELSE 0 END) % 256 AS v
  FROM m, range({g}) a(cy), range({g}) b(cx)),
s AS (SELECT media_id, sum(v) AS sv FROM px GROUP BY media_id),
bits AS (
  SELECT px.media_id, cell,
         CASE WHEN 64 * v > sv THEN 1 ELSE 0 END AS bit
  FROM px JOIN s USING (media_id)),
fp AS (
  SELECT media_id,
         sum(CASE WHEN bit = 1
                  THEN CASE WHEN cell = 63 THEN -9223372036854775808
                       ELSE (1::BIGINT << cell) END
                  ELSE 0 END)::BIGINT AS phash
  FROM bits GROUP BY media_id),
bk AS (
  SELECT media_id, phash, band, phash & mask AS key
  FROM fp, (VALUES {masks}) bm(band, mask)),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                  a.phash AS fp_a, b.phash AS fp_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.media_id < b.media_id)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::INT AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
"""


def packing_invariants_sql() -> str:
    """t12b: the oracle-checkable derivative of the stateful greedy
    packer (the r7 verdict's ask #5). n_chunks and total_tokens replay
    the t09 chunk-manifest derivation (packing conserves both); the
    three violation counters are literal zeros — if pack_chunks ever
    duplicates a chunk, mis-runs an offset, or overfills a bin, the
    Spark side's counter goes nonzero and the hash diverges."""
    return f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TXT.TOKEN_REGEX}'))::INT AS nt
  FROM documents),
c AS (SELECT ceil(nt / 32.0)::INT AS nc, nt FROM t WHERE nt > 0)
SELECT sum(nc)::BIGINT AS n_chunks,
       sum(nt)::BIGINT AS total_tokens,
       0::BIGINT AS n_dup_chunks,
       0::BIGINT AS n_offset_violations,
       0::BIGINT AS n_overfull_bins
FROM c
"""


# ---------------------------------------------------------------------------
# round-9 oracle machinery (proven in tests/test_oracle_drafts_r9.py
# before entering the inventory; single copy here, drafts import it)


FUNNEL_STEPS = ["view", "click", "purchase"]


def _band_values() -> str:
    from datacatalog_tag_engine_spark.pipeline.dedup import hamming_band_masks

    return ", ".join(
        f"({j}, {m}::BIGINT)" for j, m in enumerate(hamming_band_masks(64, 4))
    )


def audio_fp_neardup_sql(
    n_groups: int = 6, group_size: int = 3, max_hamming: int = 10
) -> str:
    """Analytic replay of audio_fingerprint + hamming_neardup_pairs:
    fake band energies are integer arithmetic of (dur, seed, t, b);
    bit (t, b) is the temporal delta sign; packing and banding are the
    m02 rules (two's-complement bit 63, AND-mask bands)."""
    from datacatalog_tag_engine_spark.pipeline import multimodal as MM

    fr, nb = MM.AUDIO_FP_FRAMES, MM.AUDIO_FP_BANDS
    ncell = fr * nb
    energy = (
        "((dur*31 + (t*17 + b*41 + 1) * (5 + dur % 11)) % 1024 + "
        "CASE WHEN len(list_filter(range(seed), "
        f"c -> (dur*13 + c*7) % {ncell} = t * {nb} + b)) % 2 = 1 "
        "THEN 512 ELSE 0 END) % 1024"
    )
    return f"""
WITH m AS (
  SELECT (g * {group_size} + j)::BIGINT AS media_id,
         30000 + 700 * g AS dur, j AS seed
  FROM range({n_groups}) tg(g), range({group_size}) tj(j)),
e AS (
  SELECT media_id, t, b, {energy} AS v
  FROM m, range({fr}) tt(t), range({nb}) tb(b)),
bits AS (
  SELECT a.media_id, (a.t * {nb} + a.b) AS bit,
         CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS s
  FROM e a JOIN e n ON n.media_id = a.media_id AND n.t = a.t + 1 AND n.b = a.b
  WHERE a.t < {fr - 1}),
fp AS (
  SELECT media_id,
         sum(CASE WHEN s = 1
                  THEN CASE WHEN bit = 63 THEN -9223372036854775808
                       ELSE (1::BIGINT << bit) END
                  ELSE 0 END)::BIGINT AS afp
  FROM bits GROUP BY media_id),
bk AS (
  SELECT media_id, afp, band, afp & mask AS key
  FROM fp, (VALUES {_band_values()}) bm(band, mask)),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                  a.afp AS fp_a, b.afp AS fp_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.media_id < b.media_id)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::INT AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
"""


def video_frame_neardup_sql(
    n_groups: int = 4,
    group_size: int = 3,
    sample_frames: int = 4,
    max_hamming: int = 10,
    min_matching_frames: int = 3,
) -> str:
    """Analytic replay of video_frame_phashes + frame_neardup_pairs:
    frame t's grid is the image fake with h+7t; banding joins the frame
    index into the key (temporal alignment); the pair floor counts
    distinct matched frames."""
    from datacatalog_tag_engine_spark.pipeline.multimodal import PHASH_GRID

    g = PHASH_GRID
    return f"""
WITH m AS (
  SELECT (gg * {group_size} + j)::BIGINT AS media_id,
         128 + gg AS w, 72 + gg AS h, j AS seed
  FROM range({n_groups}) tg(gg), range({group_size}) tj(j)),
px AS (
  SELECT media_id, t, (cy * {g} + cx) AS cell,
         ((w*37 + (h + 7*t)*53 + (cx*13 + cy*29 + 1) * (3 + w % 13)) % 256 +
          CASE WHEN len(list_filter(range(seed),
                         c -> (w*7 + c*11) % 64 = cy * {g} + cx)) % 2 = 1
               THEN 128 ELSE 0 END) % 256 AS v
  FROM m, range({sample_frames}) tt(t), range({g}) a(cy), range({g}) b(cx)),
s AS (SELECT media_id, t, sum(v) AS sv FROM px GROUP BY media_id, t),
fp AS (
  SELECT px.media_id, px.t,
         sum(CASE WHEN 64 * v > sv
                  THEN CASE WHEN cell = 63 THEN -9223372036854775808
                       ELSE (1::BIGINT << cell) END
                  ELSE 0 END)::BIGINT AS phash
  FROM px JOIN s ON s.media_id = px.media_id AND s.t = px.t
  GROUP BY px.media_id, px.t),
bk AS (
  SELECT media_id, t, phash, band, phash & mask AS key
  FROM fp, (VALUES {_band_values()}) bm(band, mask)),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.t AS frame,
                  a.phash AS fp_a, b.phash AS fp_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.t = b.t
                     AND a.media_id < b.media_id),
matched AS (
  SELECT id_a, id_b, frame FROM cand
  WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming})
SELECT id_a, id_b, count(DISTINCT frame)::INT AS n_matching_frames
FROM matched GROUP BY id_a, id_b
HAVING count(DISTINCT frame) >= {min_matching_frames}
"""


def tokenizer_fertility_sql(merges) -> str:
    """The t18 encode chain (bpe_apply_sql's CTEs, same separator
    framing and [\\s\\x1f]+ split) aggregated at source grain, joined
    with word/char counts under the SAME tokenization."""
    sep = _BPE_SEP
    init = (
        "'" + sep + "' || array_to_string(list_transform("
        "range(1, length(word) + 1), "
        "i -> CASE WHEN i = length(word) THEN word[i] || '</w>' "
        "ELSE word[i] END), '" + sep + "') || '" + sep + "'"
    )
    enc = init
    for a, b in merges:
        pat = (sep + a + sep + b + sep).replace("'", "''")
        rep = (sep + a + b + sep).replace("'", "''")
        enc = f"replace({enc}, '{pat}', '{rep}')"
    return rf"""
WITH w AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(coalesce(text, '')), '[\s\x1f]+') AS ws
  FROM documents),
tok AS (
  SELECT doc_id, source, ws[i+1] AS word
  FROM w, unnest(range(len(ws))) t(i)
  WHERE length(ws[i+1]) > 0),
enc AS (
  SELECT doc_id, source, length(word) AS nc,
         len(list_filter(regexp_split_to_array({enc}, chr(31)),
                         x -> length(x) > 0)) AS nt
  FROM tok),
per_doc AS (
  SELECT doc_id, any_value(source) AS source,
         count(*) AS nw, sum(nt) AS ntok, sum(nc) AS nchars
  FROM enc GROUP BY doc_id),
alldocs AS (
  SELECT d.doc_id, d.source,
         coalesce(p.nw, 0) AS nw, coalesce(p.ntok, 0) AS ntok,
         coalesce(p.nchars, 0) AS nchars
  FROM documents d LEFT JOIN per_doc p USING (doc_id))
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(nw)::BIGINT AS n_words,
       sum(ntok)::BIGINT AS n_tokens,
       sum(nchars)::BIGINT AS n_word_chars,
       round(sum(ntok) / sum(nw), 6) AS tokens_per_word,
       round(sum(nchars) / sum(ntok), 6) AS chars_per_token
FROM alldocs GROUP BY source
"""


def corpus_divergence_sql() -> str:
    """Analytic replay of text.corpus_divergence: present-pair JSD
    terms quantized to nano-units before the integer sum; absent-word
    mass via the closed form ln(2)/2 * (1 - C_s/N) from exact counts."""
    return r"""
WITH w AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                            x -> length(x) > 0)) AS word
  FROM documents),
sc AS (SELECT source, word, count(*) AS c_s FROM w GROUP BY source, word),
gc AS (SELECT word, sum(c_s) AS c_g FROM sc GROUP BY word),
tot AS (SELECT sum(c_s)::DOUBLE AS n FROM sc),
st AS (SELECT source, sum(c_s)::DOUBLE AS n_s FROM sc GROUP BY source),
terms AS (
  SELECT sc.source, sc.c_s, gc.c_g, tot.n,
         round(((sc.c_s / st.n_s)
                  * ln(2.0 * (sc.c_s / st.n_s) / (sc.c_s / st.n_s + gc.c_g / tot.n))
                + (gc.c_g / tot.n)
                  * ln(2.0 * (gc.c_g / tot.n) / (sc.c_s / st.n_s + gc.c_g / tot.n)))
               / 2.0 * 1e9)::BIGINT AS t9
  FROM sc JOIN gc USING (word) JOIN st USING (source), tot)
SELECT source,
       sum(c_s)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_types,
       round(sum(t9) / 1e9
             + (0.6931471805599453 / 2.0) * (max(n) - sum(c_g)) / max(n),
             6) AS js_divergence
FROM terms GROUP BY source
"""


def vocab_growth_sql(n_buckets: int = 10) -> str:
    """Analytic replay of text.vocab_growth: id-range buckets (floor,
    not round — Spark's cast truncates), first-seen bucket per type,
    cumulative windows over bucket rows."""
    return rf"""
WITH maxid AS (SELECT max(doc_id) + 1 AS span FROM documents),
b AS (
  SELECT doc_id,
         least(floor(doc_id * {n_buckets} / span)::BIGINT, {n_buckets - 1}) AS bucket,
         text
  FROM documents, maxid),
w AS (
  SELECT bucket,
         unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                            x -> length(x) > 0)) AS word
  FROM b),
tok AS (SELECT bucket, count(*) AS n_tokens FROM w GROUP BY bucket),
fs AS (SELECT word, min(bucket) AS bucket FROM w GROUP BY word),
nt AS (SELECT bucket, count(*) AS new_types FROM fs GROUP BY bucket),
nd AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket)
SELECT nd.bucket,
       n_docs::BIGINT AS n_docs,
       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(new_types, 0)::BIGINT AS new_types,
       sum(coalesce(n_tokens, 0)) OVER (ORDER BY nd.bucket)::BIGINT AS cum_tokens,
       sum(coalesce(new_types, 0)) OVER (ORDER BY nd.bucket)::BIGINT AS cum_types
FROM nd LEFT JOIN tok USING (bucket) LEFT JOIN nt USING (bucket)
"""


def length_outliers_sql(k: float = 3.0) -> str:
    return f"""
WITH med AS (SELECT source, median(n_chars) AS m FROM documents GROUP BY source),
dev AS (
  SELECT d.source, d.n_chars, abs(d.n_chars - med.m) AS adev, med.m
  FROM documents d JOIN med USING (source)),
mad AS (SELECT source, median(adev) AS md FROM dev GROUP BY source)
SELECT dev.source,
       count(*)::BIGINT AS n_docs,
       round(any_value(m), 2) AS median_val,
       round(any_value(md), 2) AS mad_val,
       count(*) FILTER (adev > {k} * md)::BIGINT AS n_outliers,
       round(count(*) FILTER (adev > {k} * md) / count(*), 4) AS outlier_frac
FROM dev JOIN mad USING (source) GROUP BY dev.source
"""


def event_funnel_sql(steps=tuple(FUNNEL_STEPS)) -> str:
    ctes = []
    for i, s in enumerate(steps):
        if i == 0:
            ctes.append(
                f"s0 AS (SELECT user_id, min(ts) AS t FROM events "
                f"WHERE event_type = '{s}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
                f"JOIN s{i-1} p USING (user_id) "
                f"WHERE e.event_type = '{s}' AND e.ts > p.t GROUP BY e.user_id)"
            )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS step_index, '{s}' AS step, "
        f"(SELECT count(*) FROM s{i}) AS n_users"
        for i, s in enumerate(steps)
    )
    return f"""
WITH {', '.join(ctes)},
u AS ({unions})
SELECT step_index::INT AS step_index, step, n_users::BIGINT AS n_users,
       round(CASE WHEN max(CASE WHEN step_index = 0 THEN n_users END) OVER () > 0
                  THEN n_users / max(CASE WHEN step_index = 0 THEN n_users END) OVER ()
                  ELSE 0 END, 4) AS conversion
FROM u
"""


def cell_balance_sql(num_cells: int = 8) -> str:
    """Reuses the s03 assignment CTE chain, then the occupancy
    aggregate + window ratios."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
counts AS (SELECT cell, count(*) AS n_vectors FROM assign GROUP BY cell)
SELECT cell,
       n_vectors::BIGINT AS n_vectors,
       round(n_vectors / sum(n_vectors) OVER (), 6) AS frac,
       round(n_vectors / (sum(n_vectors) OVER () / count(*) OVER ()), 4) AS balance_ratio
FROM counts
"""


def source_dup_profile_sql() -> str:
    return r"""
WITH fams AS (
  SELECT source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         count(*) AS n
  FROM documents GROUP BY source, fp)
SELECT source,
       sum(n)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_distinct,
       round(1.0 - count(*) / sum(n), 4) AS dup_frac,
       max(n)::BIGINT AS max_clone
FROM fams GROUP BY source
"""


def holdout_split_sql(eval_bp: int = 1000, buckets: int = 10000) -> str:
    """hash_bucket replayed as in the q58 oracle; fingerprint collision
    quarantine via IN over the distinct eval fingerprints."""
    return rf"""
WITH t AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {buckets}) < {eval_bp} AS is_eval
  FROM documents),
ev AS (SELECT DISTINCT fp FROM t WHERE is_eval)
SELECT doc_id,
       CASE WHEN is_eval THEN 'eval'
            WHEN fp IN (SELECT fp FROM ev) THEN 'quarantined'
            ELSE 'train' END AS split
FROM t
"""


def _df_capped_cte(sh: str, out: str, max_df: int) -> str:
    """The max_df join-side filter, replayed exactly as the Spark side
    applies it: shingles with document frequency > max_df leave the
    INTERSECTION join only (set sizes still count every shingle)."""
    return f"""{out} AS (
  SELECT {sh}.doc_id, {sh}.shingle
  FROM {sh} JOIN (SELECT shingle FROM {sh} GROUP BY shingle
                  HAVING count(*) <= {max_df}) USING (shingle))"""


def containment_sql(threshold: float = 0.8, max_df: int | None = None) -> str:
    """Same inverted-index derivation as the d04 oracle, with the
    asymmetric denominator: inter / least(|A|, |B|). ``max_df`` replays
    containment_pairs' default-on stop-shingle cap: the intersection is
    computed over df-capped shingles, sizes over all of them."""
    join_src = "sh"
    cap = ""
    if max_df is not None:
        join_src = "shf"
        cap = _df_capped_cte("sh", "shf", max_df) + ",\n"
    return f"""
WITH {_shingle_cte()},
{cap}inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM {join_src} a JOIN {join_src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b, round(i / least(sa.n, sb.n), 4) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / least(sa.n, sb.n), 4) >= {threshold}
"""


def cross_source_overlap_sql() -> str:
    """Shingle-grain (the queries() default): distinct word 3-shingles
    per source via the d04 shingle rule; Spark joins on xxhash64 of
    the shingle, the oracle on the string — counts equal barring a
    64-bit collision (the d04-certified substitution)."""
    return r"""
WITH toks AS (SELECT source, regexp_split_to_array(text, '\s+') w FROM documents),
sfp AS (
  SELECT DISTINCT source AS src,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS fp
  FROM toks),
sizes AS (SELECT src, count(*) AS n FROM sfp GROUP BY src),
shared AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
  FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.src < b.src
  GROUP BY 1, 2)
SELECT source_a, source_b, shared,
       round(shared / sa.n, 4) AS frac_a,
       round(shared / sb.n, 4) AS frac_b
FROM shared JOIN sizes sa ON sa.src = source_a JOIN sizes sb ON sb.src = source_b
"""


def containment_dedup_sql(threshold: float = 0.8, max_df: int | None = None) -> str:
    """Exact-canonical selection (the d01 raw-md5 rule), then the d12
    containment derivation restricted to canonicals, then the
    single-pass dominance rule: loser = smaller shingle set, tie ->
    doc_b (the higher id, since pairs are emitted doc_a < doc_b).
    ``max_df`` replays the default-on stop-shingle cap (join side only,
    df computed over the canonicals' shingles — the corpus the pair
    join actually sees)."""
    join_src = "sh"
    cap = ""
    if max_df is not None:
        join_src = "shf"
        cap = _df_capped_cte("sh", "shf", max_df) + ",\n"
    return f"""
WITH fpt AS (SELECT doc_id, md5(text) AS fp FROM documents),
can AS (
  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS is_canon
  FROM fpt),
cd AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN can ON can.doc_id = d.doc_id AND can.is_canon),
{_shingle_cte("cd")},
{cap}inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM {join_src} a JOIN {join_src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i / least(sa.n, sb.n), 4) >= {threshold}),
losers AS (
  SELECT DISTINCT CASE WHEN na < nb THEN doc_a ELSE doc_b END AS doc_id FROM pairs)
SELECT c.doc_id, c.is_canon AND l.doc_id IS NULL AS keep
FROM can c LEFT JOIN losers l ON l.doc_id = c.doc_id
"""


def shard_balance_sql(num_shards: int = 16) -> str:
    """The q58/q68 md5 bucket rule aggregated at shard grain, empty
    shards kept via a generated shard axis; skew normalized against
    the corpus total."""
    return f"""
WITH s AS (
  SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {num_shards}) AS shard,
         n_chars
  FROM documents),
per AS (SELECT shard, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_tokens
        FROM s GROUP BY shard),
all_shards AS (SELECT unnest(range({num_shards}))::INT AS shard)
SELECT a.shard,
       coalesce(n_docs, 0)::BIGINT AS n_docs,
       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       round(coalesce(n_docs, 0) * {num_shards} / (SELECT count(*) FROM documents), 4) AS doc_skew
FROM all_shards a LEFT JOIN per ON per.shard = a.shard
"""


def cohort_retention_sql() -> str:
    return """
WITH d AS (SELECT user_id, ts::DATE AS d FROM events),
c AS (SELECT user_id, min(d) AS cohort_day FROM d GROUP BY user_id),
x AS (
  SELECT DISTINCT c.cohort_day, date_diff('day', c.cohort_day, d.d) AS day_offset, d.user_id
  FROM d JOIN c USING (user_id))
SELECT cohort_day, day_offset::INT AS day_offset, count(*)::BIGINT AS n_users
FROM x GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# round-10 oracle machinery (proven in tests/test_oracle_drafts_r10.py
# before entering the inventory; single copy here, drafts import it)


def range_search_sql(threshold: float = 0.2, nprobe: int = 2) -> str:
    """The s04 probe chain with a threshold filter instead of the
    top-k QUALIFY — no ranking at all."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
ranked AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
qprobe AS (SELECT vec_id, v, cell FROM ranked WHERE rn <= {nprobe} AND vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM qprobe q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id)
SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= {threshold}
"""


def cell_inertia_sql(num_cells: int = 8) -> str:
    """s03 assignment + exact integer micro-lattice squared-L2 to the
    (quantized) centroid, cell-grain sums."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
qc AS (SELECT cell, list_transform(cent_v, x -> round(x * 1e6)::BIGINT) AS qc FROM cents),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
qv AS (SELECT cell, list_transform(v, x -> round(x * 1e6)::BIGINT) AS qsv FROM assign),
d AS (
  SELECT qv.cell,
         list_sum(list_transform(range(1, len(qsv) + 1),
                  i -> (qsv[i] - qc.qc[i]) * (qsv[i] - qc.qc[i]))) AS d
  FROM qv JOIN qc USING (cell))
SELECT cell,
       count(*)::BIGINT AS n_vectors,
       sum(d)::BIGINT AS inertia_micro,
       round(sum(d) / count(*), 2) AS mean_inertia_micro
FROM d GROUP BY cell
"""


def pq_code_histogram_sql(num_subspaces: int = 4, num_codes: int = 16) -> str:
    """The s07 encode CTEs + a generated (m, code) axis so dead codes
    keep their row; per-subspace balance window."""
    sub = 64 // num_subspaces
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM e ORDER BY vec_id LIMIT {num_codes}),
ms AS (SELECT unnest(range({num_subspaces})) AS m),
csub AS (SELECT c, m, v[m*{sub}+1 : m*{sub}+{sub}] AS cv FROM cent, ms),
esub AS (SELECT vec_id, m, v[m*{sub}+1 : m*{sub}+{sub}] AS sv FROM e, ms),
dists AS (
  SELECT vec_id, m, c,
         list_sum(list_transform(range(1, {sub + 1}),
                  i -> cast(round((sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub JOIN csub USING (m)),
codes AS (
  SELECT vec_id, m, cast(min(d*{num_codes} + c) % {num_codes} AS INT) AS code
  FROM dists GROUP BY vec_id, m),
counts AS (SELECT m, code, count(*) AS n FROM codes GROUP BY m, code),
axis AS (SELECT m::INT AS m, code::INT AS code
         FROM range({num_subspaces}) tm(m), range({num_codes}) tc(code))
SELECT a.m, a.code,
       coalesce(n, 0)::BIGINT AS n_vectors,
       round(coalesce(n, 0) / (sum(coalesce(n, 0)) OVER (PARTITION BY a.m) / {num_codes}), 4)
         AS balance_ratio
FROM axis a LEFT JOIN counts c ON c.m = a.m AND c.code = a.code
"""


def embedding_stats_sql() -> str:
    """Micro-lattice norm envelope: per-vector norms quantize to
    longs before the single-row aggregate, so every statistic is
    exact integer arithmetic (the mean divides once at the end)."""
    return """
WITH n AS (
  SELECT len(embedding) AS dim,
         round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) * 1e6)::BIGINT AS nm
  FROM embeddings)
SELECT count(*)::BIGINT AS n_vectors,
       count(DISTINCT dim)::BIGINT AS n_dims_distinct,
       min(dim)::INT AS dim_min,
       max(dim)::INT AS dim_max,
       sum((nm = 0)::INT)::BIGINT AS n_zero,
       min(nm)::BIGINT AS norm_min_micro,
       max(nm)::BIGINT AS norm_max_micro,
       round(sum(nm) / count(*) / 1e6, 6) AS mean_norm
FROM n
"""


def char_coverage_sql() -> str:
    return r"""
WITH c AS (
  SELECT source,
         length(coalesce(text, '')) AS nc,
         length(regexp_replace(lower(coalesce(text, '')),
                               '[a-z0-9\s.,;:!?''"()\-]', '', 'g')) AS no
  FROM documents)
SELECT source,
       sum(nc)::BIGINT AS n_chars,
       sum(no)::BIGINT AS n_outside,
       round(1.0 - sum(no) / greatest(sum(nc), 1), 6) AS coverage
FROM c GROUP BY source
"""


def ngram_novelty_sql() -> str:
    """The d13 sfp derivation + shingle->n_sources spread rollup."""
    return r"""
WITH toks AS (SELECT source, regexp_split_to_array(text, '\s+') w FROM documents),
sfp AS (
  SELECT DISTINCT source AS src,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS fp
  FROM toks),
spread AS (SELECT fp, count(*) AS ns FROM sfp GROUP BY fp)
SELECT src AS source,
       count(*)::BIGINT AS n_shingles,
       sum((ns = 1)::INT)::BIGINT AS n_exclusive,
       round(sum((ns = 1)::INT) / count(*), 4) AS novelty_frac
FROM sfp JOIN spread USING (fp) GROUP BY src
"""


def gate_mixture_drift_sql() -> str:
    """The q59-stage relaxed Gopher rules (word count 20..100000, the
    five shape rules, repetition/stopword rules off — the same gf/keep
    derivation as the q59 oracle prefix) + before/after share rollup."""
    return r"""
WITH base AS (
  SELECT doc_id, source, coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents),
gf AS (
  SELECT doc_id, source,
         len(w) AS nw,
         list_sum(list_transform(w, x -> length(x))) / len(w) AS mwl,
         len(regexp_extract_all(text, '#|\.\.\.|…')) / len(w) AS sym,
         len(list_filter(lines, l -> regexp_matches(l, '^\s*(\*|-|•)\s')))
           / len(lines) AS bullet,
         len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
           / len(lines) AS ell,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w) AS alpha
  FROM base WHERE len(w) > 0 AND len(lines) > 0),
kept AS (
  SELECT doc_id, source FROM gf
  WHERE nw BETWEEN 20 AND 100000
    AND mwl BETWEEN 3.0 AND 10.0
    AND sym <= 0.1 AND bullet <= 0.9 AND ell <= 0.3 AND alpha >= 0.8),
b AS (SELECT source, count(*) AS nb FROM documents GROUP BY source),
a AS (SELECT source, count(*) AS na FROM kept GROUP BY source),
j AS (
  SELECT b.source, nb, coalesce(na, 0) AS na
  FROM b LEFT JOIN a USING (source))
SELECT source,
       nb::BIGINT AS n_before,
       na::BIGINT AS n_after,
       round(nb / sum(nb) OVER (), 6) AS share_before,
       round(na / greatest(sum(na) OVER (), 1), 6) AS share_after,
       round(na / greatest(sum(na) OVER (), 1) - nb / sum(nb) OVER (), 6) AS share_drift
FROM j
"""


def cluster_size_profile_sql(q34_sql: str) -> str:
    """Derived from the wired q34 oracle by replacing its final SELECT
    with the histogram rollup — ONE copy of the cluster chain. Takes
    the q34 string as input (oracle_sql() passes its own wired entry)
    so the derivation can't recurse or drift."""
    tail = "SELECT doc_id, cluster_id FROM clusters"
    assert q34_sql.count(tail) == 1
    return q34_sql.replace(
        tail,
        """, csz AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id)
SELECT cluster_size::BIGINT AS cluster_size,
       count(*)::BIGINT AS n_clusters,
       (count(*) * cluster_size)::BIGINT AS n_docs
FROM csz GROUP BY cluster_size""",
    )


def percentile_tolerance_sql() -> str:
    """Exact interpolated percentiles (DuckDB quantile_cont == Spark
    percentile); the tolerance flag is the q60 pattern — TRUE on the
    oracle side, computed against percentile_approx on the Spark
    side."""
    return """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 2) AS p50_exact,
       round(quantile_cont(n_chars, 0.9), 2) AS p90_exact,
       round(quantile_cont(n_chars, 0.99), 2) AS p99_exact,
       TRUE AS sketch_within_tol
FROM documents GROUP BY source
"""


def session_funnel_sql(steps=tuple(FUNNEL_STEPS), gap_minutes: int = 30) -> str:
    """The q32 session-labeling rule (floor-epoch gap, RANGE-framed
    running sum) + the q67 ordered-min-ts chain at session grain."""
    gap = gap_minutes * 60
    ctes = [
        rf"""flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > {gap}
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id || '#' || cast(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS sid,
         ts, event_type
  FROM flagged)"""
    ]
    for i, s in enumerate(steps):
        if i == 0:
            ctes.append(
                f"s0 AS (SELECT sid, min(ts) AS t FROM sess "
                f"WHERE event_type = '{s}' GROUP BY sid)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.sid, min(e.ts) AS t FROM sess e "
                f"JOIN s{i-1} p USING (sid) "
                f"WHERE e.event_type = '{s}' AND e.ts > p.t GROUP BY e.sid)"
            )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS step_index, '{s}' AS step, "
        f"(SELECT count(*) FROM s{i}) AS n_sessions"
        for i, s in enumerate(steps)
    )
    return f"""
WITH {', '.join(ctes)},
u AS ({unions})
SELECT step_index::INT AS step_index, step, n_sessions::BIGINT AS n_sessions,
       round(CASE WHEN max(CASE WHEN step_index = 0 THEN n_sessions END) OVER () > 0
                  THEN n_sessions / max(CASE WHEN step_index = 0 THEN n_sessions END) OVER ()
                  ELSE 0 END, 4) AS conversion
FROM u
"""


def manifest_stats_sql(m01_sql: str) -> str:
    """The m01 oracle wrapped as a subquery + per-kind rollup — one
    copy of the feature replay (oracle_sql() passes its own wired m01
    entry). payload_bytes/width/height/duration come straight from
    m01's columns."""
    return f"""
WITH feats AS ({m01_sql})
SELECT kind,
       count(*)::BIGINT AS n_items,
       sum(payload_bytes)::BIGINT AS total_payload_bytes,
       count(width)::BIGINT AS n_with_dims,
       max(width)::INT AS max_width,
       max(height)::INT AS max_height,
       count(duration_ms)::BIGINT AS n_with_duration,
       sum(duration_ms)::BIGINT AS total_duration_ms,
       max(n_frames)::INT AS max_frames
FROM feats GROUP BY kind
"""


def event_rate_anomaly_sql(k: float = 3.0) -> str:
    """Hourly tumbling counts per type + the q66 median/MAD rule over
    each type's hourly series (quantile_cont == Spark percentile);
    the MAD floor of 1.0 mirrors the Spark greatest(mad, 1.0)."""
    return f"""
WITH hourly AS (
  SELECT event_type AS t, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY t, h),
med AS (SELECT t, quantile_cont(n, 0.5) AS m FROM hourly GROUP BY t),
dev AS (
  SELECT hourly.t, n, abs(n - med.m) AS adev, med.m
  FROM hourly JOIN med USING (t)),
mad AS (SELECT t, quantile_cont(adev, 0.5) AS md FROM dev GROUP BY t)
SELECT dev.t AS event_type,
       count(*)::BIGINT AS n_hours,
       round(any_value(dev.m), 2) AS median_rate,
       round(any_value(md), 2) AS mad_rate,
       count(*) FILTER (adev > {k} * greatest(md, 1.0))::BIGINT AS n_anomalous,
       max(n)::BIGINT AS max_rate
FROM dev JOIN mad USING (t) GROUP BY dev.t
"""


def lang_source_profile_sql() -> str:
    return """
WITH cells AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
lt AS (SELECT lang, sum(n) AS lt FROM cells GROUP BY lang),
st AS (SELECT source, sum(n) AS st FROM cells GROUP BY source),
g AS (SELECT sum(n)::DOUBLE AS total FROM cells)
SELECT lang, source,
       n::BIGINT AS n_docs,
       round(lt * st / total, 2) AS expected,
       round(n / (lt * st / total), 4) AS ratio
FROM cells JOIN lt USING (lang) JOIN st USING (source), g
"""


def top_ngrams_sql(n: int = 2, k: int = 3) -> str:
    """Word n-grams per source (full grams only, lowercased) ranked by
    (count desc, gram asc) — both engines agree on ties."""
    return rf"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS w
  FROM documents),
grams AS (
  SELECT source,
         unnest(list_transform(range(1, len(w) - {n - 2}),
                               i -> array_to_string(w[i:i+{n - 1}], ' '))) AS ng
  FROM toks WHERE len(w) >= {n}),
counts AS (SELECT source, ng, count(*) AS n FROM grams GROUP BY source, ng)
SELECT source, ng AS ngram, n::BIGINT AS n_occurrences,
       cast(row_number() OVER (PARTITION BY source ORDER BY n DESC, ng) AS INT) AS rank
FROM counts
QUALIFY rank <= {k}
"""


def dirty_shards_sql(num_shards: int = 8) -> str:
    """Both corpus versions bucketed by the q58 md5 rule, FULL JOIN on
    the id, shard-grain rollup with the all-shards axis. Versions:
    old = doc_id % 17 != 0 (the DSIR raw split), new = doc_id % 13 != 0
    — overlapping but distinct, both derived from the documents view."""
    bucket = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % " + str(num_shards) + ")"
    return f"""
WITH o AS (SELECT doc_id, {bucket} AS shard FROM documents WHERE doc_id % 17 != 0),
n AS (SELECT doc_id, {bucket} AS shard FROM documents WHERE doc_id % 13 != 0),
j AS (
  SELECT coalesce(o.shard, n.shard) AS shard,
         o.doc_id AS od, n.doc_id AS nd
  FROM o FULL JOIN n ON o.doc_id = n.doc_id),
per AS (
  SELECT shard,
         sum((od IS NOT NULL AND nd IS NOT NULL)::INT) AS n_kept,
         sum((od IS NULL)::INT) AS n_added,
         sum((nd IS NULL)::INT) AS n_removed
  FROM j GROUP BY shard),
axis AS (SELECT unnest(range({num_shards}))::INT AS shard)
SELECT a.shard,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       coalesce(n_added, 0)::BIGINT AS n_added,
       coalesce(n_removed, 0)::BIGINT AS n_removed,
       coalesce(n_added, 0) + coalesce(n_removed, 0) > 0 AS needs_rewrite
FROM axis a LEFT JOIN per ON per.shard = a.shard
"""


# ---------------------------------------------------------------------------
# round-11 oracle machinery (proven in tests/test_oracle_drafts_r11.py
# before entering the inventory; single copy here, drafts import it)

# s22/s24 survivor set: keeps the quantizer seeds (ids 0..7 raw /
# 0..15 codes) and the query set (ids < 5), so the frozen stored
# centroids equal a fresh build's seeding over the survivors and
# rebuild-identity is provable
DELETE_PRED = "vec_id >= 100 AND vec_id % 7 = 0"


def ivf_delete_sql(s04_sql: str) -> str:
    """The WIRED s04 oracle with the survivor predicate pushed into its
    corpus CTE — deletion under a frozen quantizer must serve exactly
    the s04 chain over the surviving rows. Takes the s04 string as
    input (oracle_sql() passes its own wired entry — the q73/m05
    surgery pattern, one copy of the chain)."""
    anchor = "FROM embeddings)"
    assert s04_sql.count(anchor) == 1
    return s04_sql.replace(anchor, f"FROM embeddings WHERE NOT ({DELETE_PRED}))", 1)


def ivfpq_delete_sql(s10_sql: str) -> str:
    """The WIRED s10 oracle with the survivor predicate pushed into its
    corpus CTE — codes-layout deletion under frozen quantizers must
    serve exactly the s10 ADC chain over the surviving rows (seeds
    0..15 survive, so the stored codebook/centroids equal a fresh
    build's seeding over the survivors)."""
    anchor = "FROM embeddings)"
    assert s10_sql.count(anchor) == 1
    return s10_sql.replace(anchor, f"FROM embeddings WHERE NOT ({DELETE_PRED}))", 1)


# the q51 fingerprint rule, shared by incremental_pipeline_sql and the
# wired q51 oracle (the r11 wiring test asserts the q51 string carries
# this exact expression — one rule, two readers)
Q51_FINGERPRINT_EXPR = (
    r"md5(array_to_string(list_sort(list_distinct("
    r"regexp_split_to_array(lower(text), '\s+'))), ' '))"
)


def incremental_pipeline_sql(num_shards: int = 8) -> str:
    """q51 delta (the wired fingerprint rule) -> the WIRED clean-ingest
    chain restricted to the delta by string surgery -> the q79
    full-join dirty-shard tail. prior = doc_id % 3 != 0 (yesterday's
    corpus), batch = doc_id % 3 == 0 (today's crawl)."""
    ci = CLEAN_INGEST_SQL
    anchor = "FROM documents)"
    assert ci.count(anchor) == 1
    ci_delta = ci.replace(anchor, "FROM documents JOIN delta USING (doc_id))", 1)
    bucket = (
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % "
        + str(num_shards)
        + ")"
    )
    return f"""
WITH fpall AS (
  SELECT doc_id, {Q51_FINGERPRINT_EXPR} AS fingerprint
  FROM documents),
delta AS (
  SELECT doc_id FROM fpall
  WHERE doc_id % 3 = 0
    AND fingerprint NOT IN (SELECT fingerprint FROM fpall WHERE doc_id % 3 <> 0)),
kept_new AS ({ci_delta}),
o AS (SELECT doc_id, {bucket} AS shard FROM documents WHERE doc_id % 3 <> 0),
nv AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
       UNION ALL SELECT doc_id FROM kept_new),
n AS (SELECT doc_id, {bucket} AS shard FROM nv),
j AS (
  SELECT coalesce(o.shard, n.shard) AS shard, o.doc_id AS od, n.doc_id AS nd
  FROM o FULL JOIN n ON o.doc_id = n.doc_id),
per AS (
  SELECT shard,
         sum((od IS NOT NULL AND nd IS NOT NULL)::INT) AS n_kept,
         sum((od IS NULL)::INT) AS n_added,
         sum((nd IS NULL)::INT) AS n_removed
  FROM j GROUP BY shard),
axis AS (SELECT unnest(range({num_shards}))::INT AS shard)
SELECT a.shard,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       coalesce(n_added, 0)::BIGINT AS n_added,
       coalesce(n_removed, 0)::BIGINT AS n_removed,
       coalesce(n_added, 0) + coalesce(n_removed, 0) > 0 AS needs_rewrite
FROM axis a LEFT JOIN per ON per.shard = a.shard
"""


def minhash_estimate_sql(threshold: float = 0.5) -> str:
    """The d02 sigs/buckets/cands derivation (md5 minhash is
    deterministic, so the ESTIMATE replays exactly), scored by
    component agreement instead of the exact shingle join."""
    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    agree = " + ".join(f"(a.sig_{j} = b.sig_{j})::INT" for j in range(8))
    return f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT c.da AS doc_a, c.db AS doc_b,
       round(({agree}) / 8.0, 4) AS est_jaccard
FROM cands c
JOIN sigs a ON a.doc_id = c.da
JOIN sigs b ON b.doc_id = c.db
WHERE round(({agree}) / 8.0, 4) >= {threshold}
"""


def minhash_estimate_vs_exact_sql(threshold: float = 0.5) -> str:
    """The d15 sigs/cands derivation joined with the d02 exact-verify
    derivation — every column deterministic, so the estimator's error
    profile itself is oracle-checked."""
    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    agree = " + ".join(f"(sa.sig_{j} = sb.sig_{j})::INT" for j in range(8))
    return f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ex AS (
  SELECT c.da AS doc_a, c.db AS doc_b,
         round(i / (sa.n + sb.n - i), 4) AS jaccard
  FROM cands c
  JOIN inter ON inter.da = c.da AND inter.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
  WHERE round(i / (sa.n + sb.n - i), 4) >= {threshold})
SELECT e.doc_a, e.doc_b, e.jaccard,
       round(({agree}) / 8.0, 4) AS est_jaccard,
       round(abs(round(({agree}) / 8.0, 4) - e.jaccard), 4) AS abs_err
FROM ex e
JOIN sigs sa ON sa.doc_id = e.doc_a
JOIN sigs sb ON sb.doc_id = e.doc_b
"""


def token_entropy_sql() -> str:
    """Per-source -sum p*log2(p) with each term quantized to integer
    nano-units before the sum (the t13/t28 determinism trick)."""
    return r"""
WITH words AS (
  SELECT source, unnest(list_filter(
      regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
      x -> length(x) > 0)) AS word
  FROM documents),
sc AS (SELECT source, word, count(*) AS c_s FROM words GROUP BY source, word),
tot AS (SELECT source, sum(c_s) AS n_s, count(*) AS n_types FROM sc GROUP BY source),
terms AS (
  SELECT sc.source, n_s, n_types,
         round(-(c_s / n_s) * ln(c_s / n_s) / 0.6931471805599453 * 1e9)::BIGINT AS t9
  FROM sc JOIN tot USING (source))
SELECT source,
       any_value(n_s)::BIGINT AS n_tokens,
       any_value(n_types)::BIGINT AS n_types,
       round(sum(t9) / 1e9, 6) AS entropy_bits
FROM terms GROUP BY source
"""


def mixture_rebalance_sql(cap: float = 10.0) -> str:
    """The WIRED q72 drift derivation wrapped as a CTE + the weight
    rule — one copy of the gate chain (the q80 surgery pattern)."""
    return f"""
WITH drift AS ({gate_mixture_drift_sql()})
SELECT source, n_after, share_before, share_after,
       round(CASE WHEN share_after > 0
                  THEN least(share_before / share_after, {cap})
                  ELSE 0 END, 4) AS weight
FROM drift
"""


def quality_canonical_sql(q34_sql: str, t02_sql: str) -> str:
    """The wired q34 cluster chain with its final SELECT replaced by a
    quality join + per-cluster rank (the q73 surgery pattern, one copy
    of the chain); quality comes from the WIRED t02 oracle nested as a
    CTE (one copy of the score). oracle_sql() passes its own wired
    entries for both."""
    tail = "SELECT doc_id, cluster_id FROM clusters"
    assert q34_sql.count(tail) == 1
    return q34_sql.replace(
        tail,
        f""", q AS ({t02_sql}),
ranked AS (
  SELECT c.doc_id, c.cluster_id, q.quality_score,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id) AS rn
  FROM clusters c JOIN q USING (doc_id))
SELECT doc_id, cluster_id, quality_score, rn = 1 AS keep FROM ranked""",
    )


def cluster_balanced_sample_sql(k: int = 5, num_cells: int = 8) -> str:
    """The s03 assignment CTEs (the cell_inertia restatement pattern)
    + the q62 md5 QUALIFY rule at cell grain."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1)
SELECT vec_id, cell FROM assign
QUALIFY row_number() OVER (PARTITION BY cell
                           ORDER BY md5(vec_id::VARCHAR), vec_id) <= {k}
"""


def dirty_shards_assigned_sql(range_width: int = 100) -> str:
    """Range-sharded versions (shard = id // width) diffed by the
    generic assignment planner: FULL JOIN on the id, a doc whose shard
    changed counts as removed@old + added@new, observed-shard axis.
    Versions: old = all documents, new = documents minus doc_id%17==0
    (retractions) — the locality-sharding counterpart of q79."""
    b = f"(doc_id // {range_width})"
    return f"""
WITH o AS (SELECT doc_id, {b} AS os FROM documents),
n AS (SELECT doc_id, {b} AS ns FROM documents WHERE doc_id % 17 != 0),
j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, os, ns
      FROM o FULL JOIN n ON o.doc_id = n.doc_id),
kept AS (SELECT os AS shard, count(*) AS n_kept FROM j WHERE os = ns GROUP BY os),
added AS (SELECT ns AS shard, count(*) AS n_added FROM j
          WHERE ns IS NOT NULL AND (os IS NULL OR os <> ns) GROUP BY ns),
removed AS (SELECT os AS shard, count(*) AS n_removed FROM j
            WHERE os IS NOT NULL AND (ns IS NULL OR os <> ns) GROUP BY os),
axis AS (SELECT DISTINCT shard FROM (SELECT os AS shard FROM o
         UNION ALL SELECT ns FROM n))
SELECT a.shard::INT AS shard,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       coalesce(n_added, 0)::BIGINT AS n_added,
       coalesce(n_removed, 0)::BIGINT AS n_removed,
       coalesce(n_added, 0) + coalesce(n_removed, 0) > 0 AS needs_rewrite
FROM axis a LEFT JOIN kept USING (shard) LEFT JOIN added USING (shard)
LEFT JOIN removed USING (shard)
"""


# --- round-12 rotation generators: the oracle strings proven value-
# equal in tests/test_oracle_drafts_r12.py, moved here verbatim at the
# rotation (one copy; the drafts file imports them back) ---


def resharding_plan_sql(range_width: int = 100, target: int = 500) -> str:
    """Manifest = range-shard counts over documents (the q84 policy —
    exactly the layout that accumulates a small-shard tail); plan =
    cumsum repacking at the target."""
    return f"""
WITH m AS (SELECT (doc_id // {range_width})::INT AS shard, count(*) AS n_docs
           FROM documents GROUP BY 1),
c AS (SELECT shard, n_docs,
             coalesce(sum(n_docs) OVER (ORDER BY shard
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM m)
SELECT shard::INT AS shard,
       n_docs::BIGINT AS n_docs,
       (before // {target})::INT AS new_shard,
       (before // {target})::INT <> shard AS moved,
       n_docs > {target} AS needs_split
FROM c
"""


def lsh_parameter_table_sql(num_hashes: int = 8, s_denominator: int = 16) -> str:
    """The LSH S-curve P(candidate|s) for every (bands, rows) split of
    the signature on the dyadic s = k/16 lattice — every probability a
    dyadic rational, so both engines agree with NO libm pow drift."""
    splits = ", ".join(
        f"({num_hashes // r}, {r})"
        for r in range(1, num_hashes + 1)
        if num_hashes % r == 0
    )
    denom = s_denominator**num_hashes
    return f"""
WITH splits(bands, rows_per_band) AS (VALUES {splits}),
s AS (SELECT unnest(range(1, {s_denominator}))::INT AS s_16ths)
SELECT bands, rows_per_band, s_16ths,
       round(({denom} - power(power({s_denominator}, rows_per_band)
                              - power(s_16ths, rows_per_band), bands))
             / {denom}, 6) AS p_candidate
FROM splits, s
"""


def code_prose_profile_sql() -> str:
    """Per-source code-vs-prose routing profile: symbol density x
    indentation x statement-line signals, every decision an exact
    integer comparison (no float thresholds)."""
    return r"""
WITH base AS (SELECT source, coalesce(text, '') AS t FROM documents),
sig AS (
  SELECT source,
         length(t) AS chars,
         length(t) - length(regexp_replace(t, '[\[\]{}();=<>#]', '', 'g')) AS sym,
         list_filter(regexp_split_to_array(t, '\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM base),
d AS (
  SELECT source, chars, sym,
         len(lines) AS nl,
         len(list_filter(lines, l -> regexp_matches(l, '^(\t|    )'))) AS ind,
         len(list_filter(lines, l -> regexp_matches(l, '[;{}]\s*$'))) AS stmt
  FROM sig),
f AS (
  SELECT source,
         (sym * 50 > chars) AND ((ind * 20 > 3 * nl) OR (stmt * 5 > nl)) AS is_code,
         round(sym / greatest(chars, 1) * 1e6)::BIGINT AS sym_micro
  FROM d)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(is_code::INT)::BIGINT AS n_code,
       round(sum(is_code::INT) / count(*), 4) AS code_frac,
       round(sum(sym_micro) / count(*) / 1e6, 6) AS mean_symbol_frac
FROM f GROUP BY source
"""


def source_dup_rate_sql(q34_sql: str) -> str:
    """The wired q34 cluster chain with its final SELECT replaced by
    the lowest-id keep rule + source rollup (the q73/d17 surgery
    pattern — one copy of the chain)."""
    tail = "SELECT doc_id, cluster_id FROM clusters"
    assert q34_sql.count(tail) == 1
    return q34_sql.replace(
        tail,
        """, k AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) = 1 AS keep
  FROM clusters),
per AS (
  SELECT d.source, count(*) AS n_docs, sum(k.keep::INT) AS n_kept
  FROM k JOIN documents d USING (doc_id) GROUP BY d.source)
SELECT source, n_docs::BIGINT AS n_docs, n_kept::BIGINT AS n_kept,
       (n_docs - n_kept)::BIGINT AS n_dropped,
       round((n_docs - n_kept) / n_docs, 4) AS dup_rate
FROM per""",
    )


def incremental_neardup_sql(threshold: float = 0.5) -> str:
    """The d15 sigs/buckets derivation with a delta flag (delta =
    doc_id % 3 = 0 — today's crawl, the q80 split) and the candidate
    join restricted to delta-touching pairs."""
    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    agree = " + ".join(f"(sa.sig_{j} = sb.sig_{j})::INT" for j in range(8))
    return f"""
WITH toks AS (SELECT doc_id, doc_id % 3 = 0 AS is_delta,
                     regexp_split_to_array(text, '\\s+') w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, is_delta,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
sigs AS (
  SELECT doc_id, any_value(is_delta) AS is_delta, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, is_delta, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
cands AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
  WHERE a.is_delta)
SELECT c.da AS doc_a, c.db AS doc_b,
       round(({agree}) / 8.0, 4) AS est_jaccard,
       (sa.is_delta <> sb.is_delta) AS is_cross
FROM cands c
JOIN sigs sa ON sa.doc_id = c.da
JOIN sigs sb ON sb.doc_id = c.db
WHERE round(({agree}) / 8.0, 4) >= {threshold}
"""


def quantizer_drift_sql(num_cells: int = 8) -> str:
    """The s03 assignment CTEs + per-(cell, dim) micro-lattice means
    vs the quantized centroid — squared-L2 at cell grain."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
dims AS (SELECT unnest(range((SELECT len(v) FROM e LIMIT 1)))::INT AS pos),
qx AS (SELECT cell, pos, round(v[pos + 1] * 1e6)::BIGINT AS qx FROM assign, dims),
mean AS (SELECT cell, pos, count(*) AS n,
                round(sum(qx) / count(*))::BIGINT AS m
         FROM qx GROUP BY cell, pos),
qc AS (SELECT cell, pos, round(cent_v[pos + 1] * 1e6)::BIGINT AS qc FROM cents, dims)
SELECT cell,
       max(n)::BIGINT AS n_vectors,
       sum((m - qc) * (m - qc))::BIGINT AS drift_micro
FROM mean JOIN qc USING (cell, pos) GROUP BY cell
"""


def curriculum_order_sql(t02_sql: str, n_stages: int = 10) -> str:
    """The wired t02 quality oracle nested as a CTE (the d17 pattern)
    + ntile staging + the md5 within-stage shuffle."""
    return f"""
WITH q AS ({t02_sql}),
st AS (SELECT doc_id,
              ntile({n_stages}) OVER (ORDER BY quality_score DESC, doc_id) AS stage
       FROM q)
SELECT doc_id,
       stage::INT AS stage,
       row_number() OVER (ORDER BY stage, md5(doc_id::VARCHAR), doc_id)::BIGINT
         AS curriculum_rank
FROM st
"""


def payload_size_profile_sql(m01_sql: str) -> str:
    """The wired m01 oracle nested as a CTE (the m05 pattern) + exact
    per-kind percentiles (quantile_cont == Spark percentile, the q74
    rule)."""
    return f"""
WITH feats AS ({m01_sql})
SELECT kind,
       count(*)::BIGINT AS n_items,
       min(payload_bytes)::BIGINT AS min_bytes,
       round(quantile_cont(payload_bytes, 0.5), 2) AS p50_bytes,
       round(quantile_cont(payload_bytes, 0.9), 2) AS p90_bytes,
       max(payload_bytes)::BIGINT AS max_bytes
FROM feats GROUP BY kind
"""


def shingle_df_profile_sql() -> str:
    """The d15 shingle derivation + df histogram on length(bin(df))-1
    buckets — integer-exact floor(log2) in both engines."""
    return r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
per AS (
  SELECT (length(bin(df)) - 1)::INT AS df_bucket,
         count(*) AS n_shingles,
         sum(df) AS n_rows
  FROM dfq GROUP BY 1)
SELECT df_bucket,
       n_shingles::BIGINT AS n_shingles,
       n_rows::BIGINT AS n_rows,
       round(n_rows / sum(n_rows) OVER (), 6) AS rows_share
FROM per
"""


def stage_mixture_sql(q90_sql: str) -> str:
    """The wired q90 derivation nested as a CTE + documents join +
    per-stage share window (dimension-grain)."""
    return f"""
WITH cur AS ({q90_sql}),
j AS (SELECT cur.stage, d.source FROM cur JOIN documents d USING (doc_id)),
per AS (SELECT stage, source, count(*) AS n_docs FROM j GROUP BY stage, source)
SELECT stage, source, n_docs::BIGINT AS n_docs,
       round(n_docs / sum(n_docs) OVER (PARTITION BY stage), 6) AS stage_share
FROM per
"""


def contamination_profile_sql(t10_sql: str, bucket_pct: int = 10) -> str:
    """The wired t10 derivation nested as a CTE + integer band rollup
    + the descending cumulative window (what a threshold at each band
    edge would drop)."""
    bands = 100 // bucket_pct
    return f"""
WITH conta AS ({t10_sql}),
per AS (
  SELECT least((n_matched * {bands}) // n_shingles, {bands - 1})::INT AS bucket,
         count(*) AS n_docs
  FROM conta GROUP BY 1)
SELECT bucket,
       (bucket * {bucket_pct})::INT AS lo_pct,
       n_docs::BIGINT AS n_docs,
       round(n_docs / sum(n_docs) OVER (), 6) AS frac_docs,
       round(sum(n_docs) OVER (ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / sum(n_docs) OVER (), 6) AS cum_frac_at_or_above
FROM per
"""


def langid_margin_sql() -> str:
    """The t03 scoring derivation restated from LANG_MARKERS (the same
    single source the wired t03 oracle is generated from — both read
    the Python constant, so the lists cannot drift) + array-sorted
    best/second/margin."""
    from datacatalog_tag_engine_spark.pipeline.text import LANG_MARKERS

    marker_sql = {
        lang: ", ".join(f"'{m}'" for m in ms) for lang, ms in LANG_MARKERS.items()
    }
    return f"""
WITH w AS (
  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS words FROM documents),
s AS (
  SELECT doc_id, text,
         len(list_filter(words, x -> list_contains([{marker_sql['en']}], x))) AS s_en,
         len(list_filter(words, x -> list_contains([{marker_sql['de']}], x))) AS s_de,
         len(list_filter(words, x -> list_contains([{marker_sql['fr']}], x))) AS s_fr,
         len(list_filter(words, x -> list_contains([{marker_sql['es']}], x))) AS s_es
  FROM w),
o AS (
  SELECT doc_id,
         CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
              WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS lang_pred,
         list_reverse_sort([s_en, s_de, s_fr, s_es]) AS sc
  FROM s)
SELECT doc_id, lang_pred,
       sc[1]::INT AS best_hits,
       sc[2]::INT AS second_hits,
       (sc[1] - sc[2])::INT AS margin
FROM o"""


def verify_shards_sql(num_shards: int = 8) -> str:
    """A freshly written export verifies clean by construction: both
    count columns equal the q58 md5-bucket rule and every ok is TRUE —
    the identity oracle (the s20/s21 pattern: the artifact round-trip
    changes no value)."""
    bucket = (
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % "
        + str(num_shards)
        + ")"
    )
    return f"""
WITH b AS (SELECT {bucket} AS shard FROM documents),
per AS (SELECT shard, count(*) AS n FROM b GROUP BY shard),
axis AS (SELECT unnest(range({num_shards}))::INT AS shard)
SELECT a.shard,
       coalesce(n, 0)::BIGINT AS manifest_docs,
       coalesce(n, 0)::BIGINT AS disk_docs,
       TRUE AS ok
FROM axis a LEFT JOIN per USING (shard)
"""


def source_relative_curriculum_sql(t02_sql: str, n_stages: int = 10) -> str:
    """The q90 derivation with its score CTE replaced by the
    within-source quantile: score' = (n_src - rank + 1) / n_src under
    (raw score desc, id) inside each source — the fix for the domain
    skew q91 flags."""
    return f"""
WITH q AS ({t02_sql}),
j AS (SELECT q.doc_id, d.source, q.quality_score
      FROM q JOIN documents d USING (doc_id)),
r AS (
  SELECT doc_id,
         (count(*) OVER (PARTITION BY source)
          - row_number() OVER (PARTITION BY source
                               ORDER BY quality_score DESC, doc_id) + 1)
         / count(*) OVER (PARTITION BY source) AS quality_score
  FROM j),
st AS (SELECT doc_id,
              ntile({n_stages}) OVER (ORDER BY quality_score DESC, doc_id) AS stage
       FROM r)
SELECT doc_id,
       stage::INT AS stage,
       row_number() OVER (ORDER BY stage, md5(doc_id::VARCHAR), doc_id)::BIGINT
         AS curriculum_rank
FROM st
"""


def heavy_hitters_sql(k: int = 100) -> str:
    """Exact heavy hitters: lowercased whitespace tokens with corpus
    count strictly above n_tokens/k — integer-exact threshold (count *
    k > N, no division), so both engines agree bit-for-bit."""
    return rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                x -> length(x) > 0)) AS token
  FROM documents),
tot AS (SELECT count(*) AS n FROM toks)
SELECT token, count(*)::BIGINT AS n_occurrences
FROM toks GROUP BY token
HAVING count(*) * {k} > (SELECT n FROM tot)
"""


def snapshot_diff_sql() -> str:
    """Old = doc_id % 17 != 0 (the q79 split), new = doc_id % 13 != 0
    with every fifth doc's text amended — adds, removes, and changes
    all present; FULL JOIN on the id, source-grain rollup."""
    amended = "coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, '')"
    return rf"""
WITH o AS (SELECT doc_id, source, md5(coalesce(text, '')) AS fp,
                  len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                      x -> length(x) > 0)) AS nt
           FROM documents WHERE doc_id % 17 != 0),
n AS (SELECT doc_id, source, md5({amended}) AS fp,
             len(list_filter(regexp_split_to_array(lower({amended}), '\s+'),
                 x -> length(x) > 0)) AS nt
      FROM documents WHERE doc_id % 13 != 0),
j AS (SELECT coalesce(n.source, o.source) AS source,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS st,
             coalesce(n.nt, 0) - coalesce(o.nt, 0) AS td
      FROM o FULL JOIN n ON o.doc_id = n.doc_id)
SELECT source,
       sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
       sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
       sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged,
       sum(td)::BIGINT AS token_delta
FROM j GROUP BY source
"""


def gate_overlap_sql(t16_sql: str) -> str:
    """Nests the wired t16 oracle (the d17/q91 pattern: ONE copy of
    the gate math) and unnests its comma-joined fail_reasons."""
    return f"""
WITH t16 AS ({t16_sql}),
fired AS (
  SELECT doc_id,
         unnest(list_filter(string_split(fail_reasons, ','), x -> length(x) > 0)) AS gate
  FROM t16)
SELECT a.gate AS gate_a, b.gate AS gate_b, count(*)::BIGINT AS n_docs
FROM fired a JOIN fired b ON a.doc_id = b.doc_id AND a.gate <= b.gate
GROUP BY 1, 2
"""


def knn_graph_sql(k: int = 5, num_cells: int = 8) -> str:
    """The s03 assignment CTE with queries = the whole corpus, plus an
    edge-grain reversed-pair self-join for the mutuality flag."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM assign q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id),
edges AS (
  SELECT query_id, neighbor_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored QUALIFY rank <= {k})
SELECT e.query_id AS vec_id, e.neighbor_id, e.cosine, e.rank,
       (r.query_id IS NOT NULL) AS mutual
FROM edges e LEFT JOIN edges r
  ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
"""


# ---- round-13 rotation oracle generators (moved verbatim from the
# DuckDB draft proofs in tests/test_oracle_drafts_r13.py) ----------------


def line_lang_profile_sql() -> str:
    """Replay t03's rule per non-blank LINE, then the doc-grain
    profile. Marker membership, CJK check, tie order, and the
    zero-evidence 'und' route are all copied from the wired t03
    semantics; dominant = most lines with the fixed en>de>fr>es>zh>und
    tiebreak."""
    from datacatalog_tag_engine_spark.pipeline.text import LANG_MARKERS

    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(regexp_split_to_array(lower(l), '\\s+'),"
            f" w -> length(w) > 0 AND list_contains([{lst}], w))) AS s_{lang}"
        )
    scores = ",\n         ".join(score_cols)
    # fixed tie order en>de>fr>es via strictly-greater comparisons on
    # the ordered chain (first max wins)
    return rf"""
WITH lines AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                 l -> length(trim(l)) > 0)) AS l
  FROM documents),
scored AS (
  SELECT doc_id, l,
         {scores},
         regexp_matches(l, '[一-鿿]') AS cjk
  FROM lines),
lab AS (
  SELECT doc_id,
         CASE WHEN cjk THEN 'zh'
              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS lang
  FROM scored),
counts AS (
  SELECT d.doc_id,
         count(lab.lang) AS n_lines,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c_de,
         sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS c_fr,
         sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS c_es,
         sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS c_zh,
         sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS c_und
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN lab ON d.doc_id = lab.doc_id
  GROUP BY d.doc_id)
SELECT doc_id,
       n_lines::INT AS n_lines,
       CASE WHEN n_lines = 0 THEN 'und'
            WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh AND c_en >= c_und THEN 'en'
            WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh AND c_de >= c_und THEN 'de'
            WHEN c_fr >= c_es AND c_fr >= c_zh AND c_fr >= c_und THEN 'fr'
            WHEN c_es >= c_zh AND c_es >= c_und THEN 'es'
            WHEN c_zh >= c_und THEN 'zh'
            ELSE 'und' END AS dominant_lang,
       greatest(c_en, c_de, c_fr, c_es, c_zh, c_und)::INT AS n_dominant_lines,
       ((c_en > 0)::INT + (c_de > 0)::INT + (c_fr > 0)::INT
        + (c_es > 0)::INT + (c_zh > 0)::INT)::INT AS n_langs,
       ((c_en > 0)::INT + (c_de > 0)::INT + (c_fr > 0)::INT
        + (c_es > 0)::INT + (c_zh > 0)::INT) >= 2 AS is_mixed
FROM counts
"""

def line_repetition_sql() -> str:
    """Gopher's duplicate line/paragraph fractions replayed: an
    occurrence is a duplicate iff an identical unit appeared earlier
    in the doc (1-based lambda index in DuckDB, prefix slice +
    list_contains), NULL fractions when there is nothing to measure."""

    def block(expr: str, prefix: str) -> str:
        return f"""
  SELECT doc_id,
         len(u) AS n_{prefix}s,
         CASE WHEN len(u) > 0 THEN round(
           len(list_filter(list_transform(u, (x, i) -> list_contains(u[1:i-1], x)),
                           d -> d)) / len(u), 4) END AS dup_{prefix}_frac,
         CASE WHEN list_sum(list_transform(u, x -> length(x))) > 0 THEN round(
           coalesce(list_sum(list_transform(list_filter(
               list_transform(u, (x, i) -> CASE WHEN list_contains(u[1:i-1], x)
                                                THEN length(x) END),
               v -> v IS NOT NULL), v -> v)), 0)
           / list_sum(list_transform(u, x -> length(x))), 4) END AS dup_{prefix}_char_frac
  FROM (SELECT doc_id, {expr} AS u FROM documents)"""

    lines = (
        "list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'),"
        " l -> length(trim(l)) > 0)"
    )
    paras = (
        "list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), '\\n\\n+'),"
        " p -> trim(p)), p -> length(p) > 0)"
    )
    return f"""
WITH l AS ({block(lines, "line")}),
p AS ({block(paras, "para")})
SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
       p.n_paras, p.dup_para_frac, p.dup_para_char_frac
FROM l JOIN p USING (doc_id)
"""

def score_gate_calibration_sql(t02_sql: str, t16_sql: str, n: int = 10) -> str:
    """Nests BOTH wired strings (t02 for the score, t16 for the keep)
    — the d17 two-CTE pattern; decile = SQL-standard NTILE over
    (quality_score desc, doc_id), exactly curriculum_order's staging."""
    return f"""
WITH t02 AS ({t02_sql}),
t16 AS ({t16_sql}),
staged AS (
  SELECT doc_id, ntile({n}) OVER (ORDER BY quality_score DESC, doc_id) AS decile
  FROM t02)
SELECT s.decile, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN t16.keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(sum(CASE WHEN t16.keep THEN 1 ELSE 0 END) / count(*), 4) AS keep_rate
FROM staged s JOIN t16 USING (doc_id)
GROUP BY s.decile
"""

def mutual_knn_clusters_sql(k: int = 5, num_cells: int = 8) -> str:
    """The s30 edge derivation + a recursive reach over MUTUAL edges —
    the q34 cluster-CTE pattern applied to the semantic graph."""
    return f"""
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM assign q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id),
edges AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {k}),
mutual AS (
  SELECT e.query_id AS da, e.neighbor_id AS db
  FROM edges e JOIN edges r
    ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
  WHERE e.query_id < e.neighbor_id),
medges AS (SELECT da AS src, dst FROM (SELECT da, db AS dst FROM mutual)
           UNION SELECT db, da FROM mutual),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, m.dst FROM reach r JOIN medges m ON r.dst = m.src),
clusters AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT vec_id, cluster_id FROM clusters
"""

def ngram_coverage_sql(top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)) -> str:
    """Relational replay of the coverage masks: per n, gram starts
    with 1-based positions, duplicate grams from counts >= 2 (or the
    modal gram by (count desc, gram asc) for the top form), then
    set-based coverage — each flagged start expands to its covered
    word positions and joins the word lengths."""
    ctes = [
        r"""base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS words
  FROM documents)""",
        """w AS (
  SELECT doc_id, words, len(words) AS nw,
         coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS ct
  FROM base)""",
        """wpos AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) + 1),
                 j -> {'j': j, 'wlen': length(words[j])}), recursive := true) AS _s
  FROM base WHERE len(words) > 0)""",
    ]
    sel = ["w.doc_id"]
    joins = []

    def gram_ctes(n: int, kind: str) -> None:
        tag = f"{kind}{n}"
        ctes.append(
            f"""g{tag} AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) - {n - 2}),
                 i -> {{'i': i, 'gram': array_to_string(words[i:i+{n - 1}], ' ')}}),
                 recursive := true) AS _s
  FROM base WHERE len(words) >= {n})"""
        )
        ctes.append(
            f"""c{tag} AS (SELECT doc_id, gram, count(*) AS c FROM g{tag} GROUP BY 1, 2)"""
        )
        if kind == "top":
            ctes.append(
                f"""m{tag} AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
    FROM c{tag}) WHERE rn = 1)"""
            )
            flag_src = f"m{tag}"
        else:
            ctes.append(
                f"""m{tag} AS (SELECT doc_id, gram FROM c{tag} WHERE c >= 2)"""
            )
            flag_src = f"m{tag}"
        ctes.append(
            f"""f{tag} AS (SELECT g.doc_id, g.i FROM g{tag} g JOIN {flag_src} USING (doc_id, gram))"""
        )
        # set-based coverage: expand each flagged start i to its covered
        # word positions i..i+n-1, dedup, join word lengths (a
        # correlated EXISTS per word was quadratic for DuckDB here)
        ctes.append(
            f"""cov{tag} AS (
  SELECT DISTINCT doc_id, unnest(range(i, i + {n})) AS j FROM f{tag})"""
        )
        ctes.append(
            f"""v{tag} AS (
  SELECT wp.doc_id, sum(wp.wlen) AS cchars
  FROM wpos wp JOIN cov{tag} c ON c.doc_id = wp.doc_id AND c.j = wp.j
  GROUP BY 1)"""
        )
        col = f"{'top' if kind == 'top' else 'dup'}_{n}_gram_char_frac"
        sel.append(
            f"CASE WHEN w.nw >= {n} AND w.ct > 0 "
            f"THEN round(coalesce(v{tag}.cchars, 0) / w.ct, 4) END AS {col}"
        )
        joins.append(f"LEFT JOIN v{tag} ON v{tag}.doc_id = w.doc_id")

    for n in top_ns:
        gram_ctes(n, "top")
    for n in dup_ns:
        gram_ctes(n, "dup")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT " + ",\n       ".join(sel)
        + "\nFROM w " + " ".join(joins)
    )

def pii_incidence_sql() -> str:
    """Sequential-pipeline replay of PII_PATTERNS (the same Python
    constant the Spark op reads — one source, no drift): each pattern
    counts against the previous pattern's redacted text, then a
    (source, pii_type) rollup."""
    from datacatalog_tag_engine_spark.pipeline.text import PII_PATTERNS

    stages, prev = [], "t"
    for i, (pat, repl) in enumerate(PII_PATTERNS):
        name = repl.strip("<>").lower()
        cur = f"t{i}"
        stages.append(
            f"s{i} AS (SELECT source, "
            f"len(regexp_extract_all({prev}, '{pat}')) AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '{repl}', 'g') AS {cur}"
            + (f", {', '.join('n_' + r.strip('<>').lower() for _, r in PII_PATTERNS[:i])}" if i else "")
            + f" FROM {'base' if i == 0 else 's' + str(i - 1)})"
        )
        prev = cur
    unions = " UNION ALL ".join(
        f"SELECT source, '{r.strip('<>').lower()}' AS pii_type, "
        f"n_{r.strip('<>').lower()} AS n FROM s{len(PII_PATTERNS) - 1}"
        for _, r in PII_PATTERNS
    )
    return f"""
WITH base AS (SELECT source, coalesce(text, '') AS t FROM documents),
{', '.join(stages)},
u AS ({unions})
SELECT source, pii_type,
       sum((n > 0)::INT)::BIGINT AS n_docs,
       sum(n)::BIGINT AS n_hits
FROM u GROUP BY source, pii_type
"""

def winnowing_sql(k: int = 8, w: int = 4, src: str = "documents") -> str:
    """The winnowing selection replayed with DuckDB list functions:
    same gram hash (first 8 md5 hex digits as integer — the q58 rule),
    same rightmost-min window pick, same short-document degenerate
    case, distinct selections. ``src`` parameterizes the corpus
    relation (default keeps every wired string byte-identical); the
    r15 funnel runs the chain on a survivor CTE."""
    return f"""
WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM {src}),
g AS (SELECT doc_id,
             CASE WHEN length(t) >= {k}
                  THEN list_transform(range(1, length(t) - {k} + 2),
                                      i -> substr(t, i, {k}))
                  ELSE [] END AS grams
      FROM d),
h AS (SELECT doc_id,
             list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) AS hs
      FROM g),
p AS (SELECT doc_id,
             CASE
               WHEN len(hs) >= {w} THEN
                 list_transform(range(1, len(hs) - {w} + 2), i ->
                   struct_pack(
                     pos := i + {w} - list_position(list_reverse(hs[i:i + {w} - 1]),
                                                    list_min(hs[i:i + {w} - 1])),
                     fp := list_min(hs[i:i + {w} - 1])))
               WHEN len(hs) > 0 THEN
                 [struct_pack(
                    pos := len(hs) + 1 - list_position(list_reverse(hs), list_min(hs)),
                    fp := list_min(hs))]
               ELSE [] END AS picks
      FROM h),
sel AS (SELECT DISTINCT doc_id, unnest(picks, recursive := true) FROM p)
SELECT doc_id, pos::INT AS pos, fp FROM sel
"""

def threshold_sweep_sql() -> str:
    """The d15 estimator at threshold 0 (all LSH candidates) nested as
    a CTE + the exact dyadic-lattice rollup with the descending
    cumulative (what a threshold at each lattice edge keeps)."""
    return f"""
WITH pairs AS ({minhash_estimate_sql(0.0)}),
per AS (SELECT est_jaccard, count(*) AS n_pairs FROM pairs GROUP BY 1)
SELECT est_jaccard,
       n_pairs::BIGINT AS n_pairs,
       round(n_pairs / sum(n_pairs) OVER (), 6) AS frac_pairs,
       sum(n_pairs) OVER (ORDER BY est_jaccard DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS cum_pairs_at_or_above
FROM per
"""

def shard_skew_sql(num_shards: int = 16) -> str:
    """Manifest = the q58 md5-bucket rule at 16 shards; profile =
    exact percentiles (quantile_cont == percentile, the q74 rule) +
    the integer micro max/mean ratio."""
    bucket = (
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % "
        + str(num_shards)
        + ")"
    )
    return f"""
WITH b AS (SELECT {bucket} AS shard FROM documents),
m AS (SELECT shard, count(*) AS n_docs FROM b GROUP BY shard)
SELECT count(*)::BIGINT AS n_shards,
       min(n_docs)::BIGINT AS min_docs,
       round(quantile_cont(n_docs, 0.5), 2) AS p50_docs,
       round(quantile_cont(n_docs, 0.9), 2) AS p90_docs,
       max(n_docs)::BIGINT AS max_docs,
       round(max(n_docs) / avg(n_docs) * 1e6)::BIGINT AS max_over_mean_micro
FROM m
"""

def winnowing_overlap_sql(winnow_sql: str, max_df: int = 1000, min_shared: int = 2) -> str:
    """The t43 winnowing derivation nested as a CTE (one copy of the
    selection), distinct (doc, fp), the hot-fingerprint cap, the
    bucketed pair join, containment-style overlap. Sizes are counted
    AFTER the hot-fingerprint cap — numerator and denominator share
    one fingerprint universe (the r12 ADVICE fix), so a
    boilerplate-heavy contained copy still scores ~1.0."""
    return f"""
WITH wf AS ({winnow_sql}),
dfp AS (SELECT DISTINCT doc_id, fp FROM wf),
kept AS (
  SELECT doc_id, fp FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT s.doc_a, s.doc_b, s.n_shared::BIGINT AS n_shared,
       round(s.n_shared / least(sa.n, sb.n), 4) AS overlap
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
"""

def cluster_purity_sql(q34_sql: str) -> str:
    """The wired q34 cluster chain nested (the q88 surgery pattern) +
    documents join + per-cluster majority window."""
    tail = "SELECT doc_id, cluster_id FROM clusters"
    assert q34_sql.count(tail) == 1
    return q34_sql.replace(
        tail,
        """, j AS (
  SELECT c.cluster_id, d.source FROM clusters c JOIN documents d USING (doc_id)),
per AS (SELECT cluster_id, source, count(*) AS _n FROM j GROUP BY 1, 2),
tot AS (SELECT cluster_id, sum(_n) AS n_docs, count(*) AS n_sources
        FROM per GROUP BY cluster_id),
top AS (
  SELECT cluster_id, source AS majority_source, _n AS _top_n FROM (
    SELECT cluster_id, source, _n,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY _n DESC, source) AS _rn
    FROM per) WHERE _rn = 1)
SELECT t.cluster_id, t.n_docs::BIGINT AS n_docs,
       t.n_sources::BIGINT AS n_sources, top.majority_source,
       round(top._top_n / t.n_docs, 4) AS majority_share
FROM tot t JOIN top USING (cluster_id)""",
    )

def _sigstore_stages_sql(n_batches: int, threshold: float, final: str) -> str:
    """The d19 sigs/buckets derivation UNROLLED over sequential crawl
    drops, closed by ``final``: residents are doc_id % 4 = 0, drop b
    (0-based) is doc_id % 4 = b+1, and each stage's pair adjudication
    runs against the store AS GROWN by the earlier stages' survivors
    (store_b = residents + acc_0..b-1). Per stage, the loser rule is the
    stream's exactly: a batch doc in any cross pair (one side resident)
    loses; the larger id of a within-batch pair loses. Signatures are
    doc-local, so one sigs/buckets CTE serves every stage. Stage b's
    CTEs are p{b}, e{b} (adjudicated pairs with a_res/b_res), lose{b},
    acc{b} (its survivors) and store{b+1}.

    sigs, each stage's store and its adjudicated pairs e{b} are read
    several times downstream, and store{b+1} reads store{b}: without
    the MATERIALIZED hints DuckDB inlines every reference, so the
    upstream chain is re-derived once per path through the stages
    (measured at sf0.001: ~350 s against 0.25 s with the hints)."""
    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    agree = " + ".join(f"(sa.sig_{j} = sb.sig_{j})::INT" for j in range(8))
    stages = []
    for b in range(n_batches):
        g = b + 1
        stages.append(f"""
p{b} AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
  WHERE a.grp = {g}
    AND (b.grp = {g} OR b.doc_id IN (SELECT doc_id FROM store{b}))),
e{b} AS MATERIALIZED (
  SELECT p.da, p.db,
         p.da IN (SELECT doc_id FROM store{b}) AS a_res,
         p.db IN (SELECT doc_id FROM store{b}) AS b_res
  FROM p{b} p
  JOIN sigs sa ON sa.doc_id = p.da
  JOIN sigs sb ON sb.doc_id = p.db
  WHERE round(({agree}) / 8.0, 4) >= {threshold}),
lose{b} AS (
  SELECT db AS doc_id FROM e{b} WHERE NOT a_res AND NOT b_res
  UNION
  SELECT CASE WHEN a_res THEN db ELSE da END AS doc_id
  FROM e{b} WHERE a_res <> b_res),
acc{b} AS (
  SELECT doc_id FROM sigs WHERE grp = {g}
    AND doc_id NOT IN (SELECT doc_id FROM lose{b})),
store{b + 1} AS MATERIALIZED (
  SELECT doc_id FROM store{b} UNION ALL SELECT doc_id FROM acc{b})""")
    return f"""
WITH toks AS (SELECT doc_id, (doc_id % 4)::INT AS grp,
                     regexp_split_to_array(text, '\\s+') w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, grp,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
sigs AS MATERIALIZED (
  SELECT doc_id, any_value(grp) AS grp, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, grp, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
store0 AS MATERIALIZED (SELECT doc_id FROM sigs WHERE grp = 0),{",".join(stages)}
{final}
"""


def sigstore_replay_sql(n_batches: int = 3, threshold: float = 0.5) -> str:
    """The relational form of the continuous signature-store ingest
    loop: every stage's accepted docs, tagged with their batch
    (``_sigstore_stages_sql`` has the stage rules)."""
    final = "\nUNION ALL\n".join(
        f"SELECT {b}::INT AS batch, doc_id FROM acc{b}" for b in range(n_batches)
    )
    return _sigstore_stages_sql(n_batches, threshold, final)


# --- round-14 rotation oracle generators: the proven drafts from
# tests/test_oracle_drafts_r14.py moved verbatim (the drafts file
# imports them back — one copy, no drift) ---


def winnowing_dedup_sql(
    winnow_sql: str,
    max_df: int = 1000,
    min_shared: int = 2,
    min_overlap: float = 0.8,
) -> str:
    """The d25 derivation (sizes post-cap) + the smaller-side drop
    rule (fewer surviving fingerprints; tie -> larger id) + a left
    join back to every document."""
    return f"""
WITH wf AS ({winnow_sql}),
dfp AS (SELECT DISTINCT doc_id, fp FROM wf),
kept AS (
  SELECT doc_id, fp FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}),
scored AS (
  SELECT s.doc_a, s.doc_b, sa.n AS na, sb.n AS nb
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE round(s.n_shared / least(sa.n, sb.n), 4) >= {min_overlap}),
drops AS (
  SELECT CASE WHEN na < nb OR (na = nb AND doc_a > doc_b)
              THEN doc_a ELSE doc_b END AS doc_id
  FROM scored),
cnt AS (SELECT doc_id, count(*) AS n_containers FROM drops GROUP BY doc_id)
SELECT d.doc_id,
       cnt.n_containers IS NULL AS keep,
       coalesce(cnt.n_containers, 0)::BIGINT AS n_containers
FROM documents d LEFT JOIN cnt ON cnt.doc_id = d.doc_id
"""


def winnowing_contamination_sql(
    winnow_sql: str, max_df: int = 1000, min_shared: int = 2
) -> str:
    """The t43 derivation once over ALL docs, the q101/q58 md5 bucket
    split (bucket 0 -> test), the hot cap over both splits, then the
    cross-split-only fingerprint join rolled up per train doc."""
    bucket = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10)"
    return f"""
WITH wf AS ({winnow_sql}),
lab AS (SELECT doc_id, {bucket} = 0 AS is_test FROM documents),
dfp AS (SELECT DISTINCT w.doc_id, fp, is_test
        FROM wf w JOIN lab ON lab.doc_id = w.doc_id),
kept AS (
  SELECT doc_id, fp, is_test FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
hits AS (
  SELECT a.doc_id AS train_id, b.doc_id AS test_id, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND NOT a.is_test AND b.is_test
  GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT train_id AS doc_id,
       count(DISTINCT test_id)::BIGINT AS n_test_docs,
       max(n_shared)::BIGINT AS n_shared_max,
       sum(n_shared)::BIGINT AS n_shared_total
FROM hits GROUP BY train_id
"""


def threshold_sweep_vs_exact_sql(dedup_threshold: float = 0.5) -> str:
    """d16's estimate-vs-exact surface at threshold 0, rolled up per
    lattice value with micro-lattice means and the precision columns."""
    return f"""
WITH pairs AS ({minhash_estimate_vs_exact_sql(0.0)})
SELECT est_jaccard,
       count(*)::BIGINT AS n_pairs,
       round(sum(round(jaccard * 10000)) / count(*))::BIGINT AS mean_exact_micro,
       round(sum(round(abs_err * 10000)) / count(*))::BIGINT AS mean_abs_err_micro,
       sum((jaccard >= {dedup_threshold})::INT)::BIGINT AS n_true,
       round(sum((jaccard >= {dedup_threshold})::INT) / count(*), 4) AS dedup_precision
FROM pairs GROUP BY est_jaccard
"""


def pq_recall_sql(nprobe: int = 2, k: int = 5) -> str:
    """The wired s10 ADC chain nested as the approx CTE + the s05
    exact CTEs + the recall left-join — recall of a genuinely lossy
    serving path (unlike s33's fresh-index identity)."""
    return f"""
WITH approx AS ({ivfpq_sql(nprobe, k)}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
exact_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM exact_scored) WHERE rank <= {k}),
hits AS (SELECT query_id, neighbor_id, 1 AS hit FROM approx)
SELECT exact.query_id,
       cast(coalesce(sum(hits.hit), 0) AS BIGINT) AS n_matched,
       round(coalesce(sum(hits.hit), 0)::DOUBLE / count(*), 4) AS recall_at_k
FROM exact LEFT JOIN hits USING (query_id, neighbor_id)
GROUP BY exact.query_id
"""


def knn_rank_profile_sql(k: int = 5, num_cells: int = 8) -> str:
    """The wired s30 edge derivation + one GROUP BY rank with the
    micro-lattice cosine mean."""
    return f"""
WITH g AS ({knn_graph_sql(k, num_cells)})
SELECT rank,
       count(*)::BIGINT AS n_edges,
       round(sum(round(cosine * 10000)) / count(*))::BIGINT AS mean_cosine_micro,
       min(cosine) AS min_cosine,
       max(cosine) AS max_cosine,
       sum(mutual::INT)::BIGINT AS n_mutual,
       round(sum(mutual::INT) / count(*), 4) AS mutual_frac
FROM g GROUP BY rank
"""


def sigstore_metrics_sql(n_batches: int = 3, threshold: float = 0.5) -> str:
    """The q102 unrolled per-stage derivation with a METRICS final
    select: per batch, input size, accepted size, and the two loser
    evidence counts (cross = near-dup of the store-so-far, within =
    larger id of a batch-internal pair). Same stages and split rule as
    q102 (``_sigstore_stages_sql``)."""
    final = " UNION ALL ".join(
        f"""
SELECT {b}::INT AS batch,
       (SELECT count(*) FROM sigs WHERE grp = {b + 1})::BIGINT AS n_in,
       (SELECT count(*) FROM acc{b})::BIGINT AS n_accepted,
       (SELECT count(DISTINCT CASE WHEN a_res THEN db ELSE da END)
        FROM e{b} WHERE a_res <> b_res)::BIGINT AS n_cross_losers,
       (SELECT count(DISTINCT db)
        FROM e{b} WHERE NOT a_res AND NOT b_res)::BIGINT AS n_within_losers"""
        for b in range(n_batches)
    )
    return _sigstore_stages_sql(n_batches, threshold, final)


def corpus_health_sql(t02_sql: str, t16_sql: str) -> str:
    """Nests the wired t02 (score) and t16 (keep) strings, the t42
    sequential PII stages at DOC grain, and the t01 token regex; one
    source-grain rollup with exact-integer ratios and the micro
    quality mean."""
    from datacatalog_tag_engine_spark.pipeline.text import PII_PATTERNS

    stages, prev = [], "t"
    for i, (pat, repl) in enumerate(PII_PATTERNS):
        name = repl.strip("<>").lower()
        cur = f"t{i}"
        carried = (
            ", " + ", ".join("n_" + r.strip("<>").lower() for _, r in PII_PATTERNS[:i])
            if i
            else ""
        )
        stages.append(
            f"s{i} AS (SELECT doc_id, source, "
            f"len(regexp_extract_all({prev}, '{pat}')) AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '{repl}', 'g') AS {cur}"
            + carried
            + f" FROM {'base' if i == 0 else 's' + str(i - 1)})"
        )
        prev = cur
    total = " + ".join("n_" + r.strip("<>").lower() for _, r in PII_PATTERNS)
    last = f"s{len(PII_PATTERNS) - 1}"
    return f"""
WITH t02 AS ({t02_sql}),
t16 AS ({t16_sql}),
base AS (SELECT doc_id, source, coalesce(text, '') AS t FROM documents),
{", ".join(stages)},
pii AS (SELECT doc_id, source, ({total}) AS n_red FROM {last}),
tok AS (SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
        FROM documents),
j AS (
  SELECT p.source, t16.keep, t02.quality_score, p.n_red, tok.n_tokens
  FROM pii p
  JOIN t16 ON t16.doc_id = p.doc_id
  JOIN t02 ON t02.doc_id = p.doc_id
  JOIN tok ON tok.doc_id = p.doc_id)
SELECT source,
       count(*)::BIGINT AS n_docs,
       round(sum(keep::INT) / count(*), 4) AS keep_rate,
       round(sum(round(quality_score * 10000)) / count(*))::BIGINT AS mean_quality_micro,
       round(sum((n_red > 0)::INT) / count(*), 4) AS pii_doc_frac,
       round(sum(n_red) / count(*), 4) AS pii_hits_per_doc,
       round(sum(n_tokens) / count(*), 4) AS mean_tokens
FROM j GROUP BY source
"""


def curriculum_token_budget_sql(t02_sql: str, n_stages: int = 10) -> str:
    """The wired t02 string + q90's exact ntile staging + the t01
    token regex, rolled up per stage with the cumulative window."""
    return f"""
WITH q AS ({t02_sql}),
st AS (SELECT doc_id,
              ntile({n_stages}) OVER (ORDER BY quality_score DESC, doc_id) AS stage
       FROM q),
tok AS (SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
        FROM documents),
per AS (
  SELECT stage, count(*) AS n_docs, sum(n_tokens) AS n_tokens
  FROM st JOIN tok USING (doc_id) GROUP BY stage)
SELECT stage::INT AS stage,
       n_docs::BIGINT AS n_docs,
       n_tokens::BIGINT AS n_tokens,
       sum(n_tokens) OVER (ORDER BY stage
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens,
       round(n_tokens / sum(n_tokens) OVER (), 6) AS token_frac
FROM per
"""


def neardup_rate_sql(m02_sql: str, m03_sql: str, m04_sql: str) -> str:
    """Nests the three wired pair strings; item counts are the
    fixtures' analytic sizes (6x3 image, 6x3 audio, 4x3 video — the
    same parameter-fixed corpora the m02-m04 oracles replay)."""
    return f"""
WITH p2 AS ({m02_sql}),
p3 AS ({m03_sql}),
p4 AS ({m04_sql}),
items AS (
  SELECT 'image' AS kind, 18 AS n_items
  UNION ALL SELECT 'audio', 18
  UNION ALL SELECT 'video', 12),
pairs AS (
  SELECT 'image' AS kind, id_a, id_b FROM p2
  UNION ALL SELECT 'audio', id_a, id_b FROM p3
  UNION ALL SELECT 'video', id_a, id_b FROM p4),
np AS (SELECT kind, count(*) AS n_dup_pairs FROM pairs GROUP BY kind),
ip AS (SELECT kind, count(*) AS n_items_in_pairs FROM (
         SELECT kind, id_a AS id FROM pairs
         UNION SELECT kind, id_b FROM pairs) GROUP BY kind)
SELECT i.kind,
       i.n_items::BIGINT AS n_items,
       coalesce(np.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
       coalesce(ip.n_items_in_pairs, 0)::BIGINT AS n_items_in_pairs,
       round(coalesce(ip.n_items_in_pairs, 0) / i.n_items, 4) AS dup_item_rate
FROM items i LEFT JOIN np ON np.kind = i.kind LEFT JOIN ip ON ip.kind = i.kind
"""


def winnowing_parameter_table_sql(params=((8, 4), (8, 8), (12, 4), (12, 8))) -> str:
    """One winnowing derivation per (k, w) — winnowing_sql is
    already parameterized — plus the gram-count aggregate and the
    micro-lattice densities."""
    parts = []
    for i, (k, w) in enumerate(params):
        parts.append(f"""
SELECT {k}::INT AS k, {w}::INT AS w, {w + k - 1}::INT AS guarantee_len,
       g{i}.n_grams::BIGINT AS n_grams,
       f{i}.c::BIGINT AS n_fingerprints,
       {round(2 / (w + 1) * 1e6)}::BIGINT AS expected_density_micro,
       round(f{i}.c * 1e6 / g{i}.n_grams)::BIGINT AS measured_density_micro
FROM (SELECT count(*) AS c FROM ({winnowing_sql(k, w)})) f{i}
CROSS JOIN (
  SELECT coalesce(sum(CASE WHEN length(coalesce(text, '')) >= {k}
                           THEN length(coalesce(text, '')) - {k} + 1
                           ELSE 0 END), 0) AS n_grams
  FROM documents) g{i}""")
    return " UNION ALL ".join(parts)


def topk_regret_sql(nprobe: int = 2, k: int = 5) -> str:
    """The wired s10 ADC chain as the approx CTE, re-scored with true
    cosines against the corpus vectors, joined to the exact per-rank
    cosines, rolled up per rank on the 1e4 micro lattice."""
    return f"""
WITH approx AS ({ivfpq_sql(nprobe, k)}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
exact_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id),
exact AS (
  SELECT query_id, rank, cosine FROM (
    SELECT query_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM exact_scored) WHERE rank <= {k}),
at AS (
  SELECT a.query_id, a.rank,
         round(list_cosine_similarity(qe.v, ne.v), 4) AS ac
  FROM approx a
  JOIN e qe ON qe.vec_id = a.query_id
  JOIN e ne ON ne.vec_id = a.neighbor_id),
j AS (
  SELECT ex.rank,
         round(ex.cosine * 10000) AS ecm,
         round(at.ac * 10000) AS acm
  FROM exact ex JOIN at ON at.query_id = ex.query_id AND at.rank = ex.rank)
SELECT rank,
       count(*)::BIGINT AS n_queries,
       round(sum(ecm) / count(*))::BIGINT AS mean_exact_cosine_micro,
       round(sum(acm) / count(*))::BIGINT AS mean_approx_cosine_micro,
       round(sum(ecm - acm) / count(*))::BIGINT AS mean_regret_micro,
       max(ecm - acm)::BIGINT AS max_regret_micro
FROM j GROUP BY rank
"""


def copy_audit_profile_sql(
    winnow_sql: str,
    max_df: int = 100,
    min_shared: int = 2,
    min_overlap: float = 0.8,
) -> str:
    """The d27 derivation kept at PAIR grain (dropped + container
    sides), attributed to sources, per-dropped cross-source flag,
    source-grain rollup against every document."""
    return f"""
WITH wf AS ({winnow_sql}),
dfp AS (SELECT DISTINCT doc_id, fp FROM wf),
kept AS (
  SELECT doc_id, fp FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}),
scored AS (
  SELECT s.doc_a, s.doc_b, sa.n AS na, sb.n AS nb
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE round(s.n_shared / least(sa.n, sb.n), 4) >= {min_overlap}),
edges AS (
  SELECT CASE WHEN na < nb OR (na = nb AND doc_a > doc_b)
              THEN doc_a ELSE doc_b END AS dropped,
         CASE WHEN na < nb OR (na = nb AND doc_a > doc_b)
              THEN doc_b ELSE doc_a END AS container
  FROM scored),
attributed AS (
  SELECT e.dropped, dd.source AS dsrc, dc.source AS csrc
  FROM edges e
  JOIN documents dd ON dd.doc_id = e.dropped
  JOIN documents dc ON dc.doc_id = e.container),
per_dropped AS (
  SELECT dropped, any_value(dsrc) AS dsrc,
         max((dsrc <> csrc)::INT) AS x
  FROM attributed GROUP BY dropped),
dps AS (
  SELECT dsrc AS source, count(*) AS n_dropped, sum(x) AS n_x
  FROM per_dropped GROUP BY dsrc),
tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT t.source,
       t.n_docs::BIGINT AS n_docs,
       coalesce(d.n_dropped, 0)::BIGINT AS n_dropped,
       round(coalesce(d.n_dropped, 0) / t.n_docs, 4) AS drop_frac,
       coalesce(d.n_x, 0)::BIGINT AS n_dropped_by_other_source
FROM tot t LEFT JOIN dps d ON d.source = t.source
"""


def nprobe_sweep_sql(k: int = 5, num_cells: int = 8) -> str:
    """Shared s03/s04 cell CTEs + the exact top-k, then one probe /
    scored / per-query-recall block per candidate nprobe, unioned to
    the (nprobe, n_queries, mean_recall_micro, n_scored) table —
    n_scored counts the scored CTE directly (the Spark side counts it
    analytically from cell sizes minus self-hits; same number)."""
    blocks, finals = [], []
    for p in range(1, num_cells + 1):
        blocks.append(f"""
qp{p} AS (SELECT vec_id, v, cell FROM ranked WHERE rn <= {p} AND vec_id < 5),
sc{p} AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM qp{p} q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id),
tp{p} AS (
  SELECT query_id, neighbor_id, 1 AS hit FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sc{p}) WHERE rank <= {k}),
rc{p} AS (
  SELECT exact.query_id,
         round(coalesce(sum(tp{p}.hit), 0)::DOUBLE / count(*), 4) AS recall
  FROM exact LEFT JOIN tp{p} USING (query_id, neighbor_id)
  GROUP BY exact.query_id)""")
        finals.append(f"""
SELECT {p}::INT AS nprobe,
       count(*)::BIGINT AS n_queries,
       round(sum(round(recall * 10000)) / count(*))::BIGINT AS mean_recall_micro,
       (SELECT count(*) FROM sc{p})::BIGINT AS n_scored
FROM rc{p}""")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
ranked AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
exact_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM exact_scored) WHERE rank <= {k}),{",".join(blocks)}
{" UNION ALL ".join(finals)}
"""


def incremental_winnowing_sql(
    winnow_sql: str,
    max_df: int = 1000,
    min_shared: int = 2,
) -> str:
    """The d25 derivation with a delta flag (doc_id % 3 = 0 — the
    d19/q80 split) and candidates restricted to delta-touching pairs;
    cap and sizes over the WHOLE fingerprint universe (store ∪ delta
    == all docs when the store was built from the resident split)."""
    return f"""
WITH wf AS ({winnow_sql}),
lab AS (SELECT doc_id, doc_id % 3 = 0 AS is_delta FROM documents),
dfp AS (SELECT DISTINCT w.doc_id, fp, is_delta
        FROM wf w JOIN lab ON lab.doc_id = w.doc_id),
kept AS (
  SELECT doc_id, fp, is_delta FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
         any_value(a.is_delta) AS da, any_value(b.is_delta) AS db
  FROM kept a JOIN kept b
    ON a.fp = b.fp AND a.doc_id < b.doc_id AND (a.is_delta OR b.is_delta)
  GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT s.doc_a, s.doc_b, s.n_shared::BIGINT AS n_shared,
       round(s.n_shared / least(sa.n, sb.n), 4) AS overlap,
       (s.da <> s.db) AS is_cross
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
"""


def cluster_chain_sql(src: str) -> str:
    """Transitive closure over the oracle-replayed minhash pairs for
    ``src``(doc_id, text): CTEs through `clusters` (cluster_id = min
    reachable doc_id, singletons = self). ONE copy of the chain —
    q34/q48 run it on documents, q59 on the cleaned corpus, and the
    r15 dedup-funnel oracle on each stage's survivors. Callers open
    the statement with WITH RECURSIVE. ``edges`` is MATERIALIZED: the
    recursive step joins it once per iteration, and inlined it would
    re-derive the whole pair chain each time."""
    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    return f"""{_shingle_cte(src)},
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT c.da, c.db
  FROM cands c
  JOIN inter ON inter.da = c.da AND inter.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
  WHERE round(i / (sa.n + sb.n - i), 4) >= 0.5),
edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM pairs UNION SELECT db, da FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM {src}
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q01_row_count"] = "select count(*) as row_count from lineitem"
    o["q02_count_distinct"] = "select count(distinct l_orderkey) as unique_orders from lineitem"
    o["q03_conditional_count"] = (
        "select count(*) as open_count from lineitem where l_linestatus = 'O'"
    )
    o["q04_not_in_count"] = (
        "select count(*) as other_count from lineitem where l_linestatus not in ('O', 'F')"
    )
    o["q05_avg_daily"] = (
        "select ifnull(round(avg(daily), 2), 0) as avg_daily_rows from "
        "(select cast(l_shipdate as date) as d, count(*) as daily from lineitem group by d)"
    )
    o["q06_avg_daily_filtered"] = (
        "select ifnull(round(avg(daily), 2), 0) as avg_daily_clicks from "
        "(select cast(ts as date) as d, count(*) as daily from events where event_type = 'click' group by d)"
    )
    o["q07_constant_string"] = "select 'LOGISTICS' as data_domain"
    o["q08_constant_number"] = "select 180 as retention_days"
    # q09 omitted: current_timestamp is non-deterministic -> rows-only check
    o["q10_freshness"] = "select max(o_orderdate) as last_order_date from orders"

    schema_cols = [
        (LINEITEM_URI, c) for c in LINEITEM_COLS
    ] + [(ORDERS_URI, c) for c in ORDERS_COLS]
    o["q11_glossary"] = f"""
WITH schema_cols(asset_uri, source_name) AS (VALUES {_sql_values(schema_cols)}),
mapping(source_name, canonical_name) AS (VALUES {_sql_values(GLOSSARY_MAPPING)})
SELECT asset_uri, s.source_name AS source_name, canonical_name
FROM schema_cols s JOIN mapping USING (source_name)
"""

    o["q12_infotype_agg"] = f"""
WITH findings(field, infotype) AS (VALUES {_sql_values(DLP_FINDINGS)})
SELECT field, array_to_string(list_sort(list(DISTINCT infotype)), ',') AS infotypes
FROM findings GROUP BY field
"""

    o["q13_containment"] = f"""
WITH findings(field, infotype) AS (VALUES {_sql_values(DLP_FINDINGS)}),
per_field AS (
  SELECT field, list_sort(list(DISTINCT infotype)) AS infotypes FROM findings GROUP BY field),
matched AS (
  SELECT field, notable_infotype, len(field_infotypes) AS sz
  FROM per_field
  JOIN (SELECT * FROM (VALUES {_sql_values(INFOTYPE_SELECTION)}) t(field_infotypes, notable_infotype)) sel
    ON list_has_all(sel.field_infotypes, per_field.infotypes))
SELECT field, notable_infotype FROM matched
QUALIFY row_number() OVER (PARTITION BY field ORDER BY sz, notable_infotype) = 1
"""

    o["q14_topk_users"] = (
        "select user_id, count(*) as event_count from events "
        "group by user_id order by event_count desc, user_id limit 3"
    )

    o["q15_uri_algebra"] = f"""
WITH assets(project, dataset, tbl) AS (VALUES {_sql_values(URI_ASSETS)}),
f AS (SELECT *, project || ':' || dataset || '.' || tbl AS fid FROM assets)
SELECT project || '/datasets/' || dataset || '/tables/' || tbl AS asset_uri
FROM f
WHERE ((project = 'p' AND dataset = 'd' AND contains(fid, 'tbl_'))
    OR (project = 'p' AND contains(dataset, 'd2')))
  AND NOT (project = 'p' AND dataset = 'd' AND tbl = 'tbl_ab')
"""

    o["q16_column_distinct"] = "select count(distinct l_partkey) as distinct_values from lineitem"
    o["q17_combined"] = (
        "select (select count(*) from lineitem) as row_count, "
        "(select count(distinct l_orderkey) from lineitem) as unique_orders, "
        "(select max(cast(l_shipdate as date)) from lineitem) as last_ship_date"
    )
    o["q18_delete_when_empty"] = (
        "select cast(0 as bigint) as remaining_tags, cast(2 as bigint) as delete_events"
    )

    export_expected = [
        ("p", "d", "lineitem", "data_governance", "data_domain", "LOGISTICS"),
        ("p", "d", "lineitem", "data_governance", "retention_days", "180.0"),
        ("p", "d", "lineitem", "data_governance", "is_compliant", "TRUE"),
        ("p", "d", "lineitem", "data_governance", "approved_by", "alice, bob"),
        ("p", "d", "orders", "data_governance", "data_domain", "SALES"),
    ]
    o["q19_export"] = (
        f"SELECT * FROM (VALUES {_sql_values(export_expected)}) "
        't(project, dataset, "table", tag_template, tag_field, tag_value)'
    )

    o["q20_coverage"] = f"""
WITH assets(project, dataset, tbl) AS (VALUES {_sql_values(URI_ASSETS)}),
tagged(asset_uri) AS (VALUES ('p/datasets/d/tables/tbl_a'), ('p/datasets/d/tables/tbl_b'), ('p/datasets/d2/tables/tbl_a'))
SELECT project, dataset, count(*) AS table_count,
       count(t.asset_uri) AS tagged_tables
FROM assets a LEFT JOIN tagged t
  ON t.asset_uri = a.project || '/datasets/' || a.dataset || '/tables/' || a.tbl
GROUP BY project, dataset
"""

    o["q21_jobs"] = f"""
WITH tasks(job_uuid, config_uuid, config_type, status) AS (VALUES {_sql_values(JOB_TASKS)})
SELECT job_uuid, config_uuid, config_type,
       count(*) AS task_count,
       count(*) FILTER (WHERE status IN ('SUCCESS', 'ERROR')) AS tasks_ran,
       count(*) FILTER (WHERE status = 'SUCCESS') AS tasks_success,
       count(*) FILTER (WHERE status = 'ERROR') AS tasks_failed,
       round(count(*) FILTER (WHERE status IN ('SUCCESS', 'ERROR')) * 100.0 / count(*), 2) AS pct_complete,
       CASE WHEN count(*) FILTER (WHERE status IN ('SUCCESS', 'ERROR')) = count(*)
                 AND count(*) FILTER (WHERE status = 'ERROR') > 0 THEN 'ERROR'
            WHEN count(*) FILTER (WHERE status IN ('SUCCESS', 'ERROR')) = count(*) THEN 'SUCCESS'
            ELSE 'RUNNING' END AS job_status
FROM tasks GROUP BY job_uuid, config_uuid, config_type
"""

    uris_values = ", ".join(f"('{u}')" for u in CLONE_URIS)
    o["q29_fused_profile"] = f"""
WITH m AS (
  SELECT count(*) AS row_count,
         count(DISTINCT l_orderkey) AS unique_orders,
         count(DISTINCT l_partkey) AS unique_parts,
         count(*) FILTER (WHERE l_linestatus = 'O') AS open_count,
         count(*) FILTER (WHERE l_linestatus = 'F') AS closed_count,
         count(*) FILTER (WHERE l_returnflag = 'R') AS flagged_count,
         max(cast(l_shipdate AS date)) AS max_ship_date,
         cast(sum(l_quantity) AS bigint) AS total_qty,
         ifnull(round(avg(l_quantity), 2), 0) AS avg_qty,
         (SELECT ifnull(round(avg(daily), 2), 0) FROM
            (SELECT cast(l_shipdate AS date) AS d, count(*) AS daily FROM lineitem GROUP BY d)) AS avg_daily_rows,
         (SELECT ifnull(round(avg(daily), 2), 0) FROM
            (SELECT cast(l_shipdate AS date) AS d, count(*) AS daily FROM lineitem
             WHERE l_linestatus = 'O' GROUP BY d)) AS avg_daily_open
  FROM lineitem)
SELECT u.asset_uri, m.* FROM (VALUES {uris_values}) u(asset_uri) CROSS JOIN m
"""

    import_expected = [
        ("p/datasets/d/tables/tbl1", None, "t", "data_owner", "string", "alice"),
        ("p/datasets/d/tables/tbl1", None, "t", "retention_days", "double", "90"),
        ("p/datasets/d/tables/tbl1", None, "t", "is_compliant", "bool", "TRUE"),
        ("p/datasets/d/tables/tbl1", None, "t", "approved_by", "richtext", "a@x.com<br>b@x.com"),
        ("p/datasets/d/tables/tbl2", None, "t", "data_owner", "string", "bob"),
        ("p/datasets/d/tables/tbl2", None, "t", "retention_days", "double", None),
        ("p/datasets/d/tables/tbl2", None, "t", "is_compliant", "bool", "FALSE"),
        ("p/datasets/d/tables/tbl2", None, "t", "approved_by", "richtext", None),
    ]
    o["q24_import_melt"] = (
        f"SELECT asset_uri, CAST(\"column\" AS VARCHAR) AS \"column\", template_id, "
        f"field_id, field_type, raw_value FROM (VALUES {_sql_values(import_expected)}) "
        "t(asset_uri, \"column\", template_id, field_id, field_type, raw_value)"
    )

    restore_expected = [
        ("p/datasets/d/tables/tbl1", None, "t", "data_owner", "string", "carol"),
        ("p/datasets/d/tables/tbl1", None, "t", "retention_days", "double", "30"),
        ("p/datasets/d/tables/tbl1", "c1", "t", "is_compliant", "bool", "TRUE"),
    ]
    o["q25_restore"] = (
        f"SELECT * FROM (VALUES {_sql_values(restore_expected)}) "
        "t(asset_uri, \"column\", template_id, field_id, field_type, raw_value)"
    )

    copy_expected = [
        ("p/datasets/d/tables/src", "owner", "alice"),
        ("p/datasets/d/tables/src", "domain", "OPS"),
        ("p/datasets/d/tables/dst", "owner", "bob"),
        ("p/datasets/d/tables/dst", "domain", "OPS"),
    ]
    o["q26_tag_copy"] = (
        f"SELECT * FROM (VALUES {_sql_values(copy_expected)}) "
        "t(asset_uri, field_id, field_value_string)"
    )

    o["q27_column_exists"] = (
        f"SELECT '{LINEITEM_URI}' AS asset_uri, TRUE AS has_l_orderkey, "
        "TRUE AS has_parent_child, FALSE AS has_parent_nope, FALSE AS has_missing"
    )

    discovery_parts = [
        f"SELECT '{t}' AS \"table\", (SELECT count(*) FROM {t}) AS num_rows, {n} AS n_columns"
        for t, n in TESTDATA_NCOLS
    ]
    o["q28_assets_discovery"] = " UNION ALL ".join(discovery_parts)

    o["q22_usage_daily"] = (
        "select cast(ts as date) as event_date, event_type, count(*) as n "
        "from events group by event_date, event_type"
    )
    o["q23_event_stats"] = (
        "select event_type, count(*) as n, round(min(value), 4) as min_value, "
        "round(max(value), 4) as max_value from events group by event_type"
    )

    # --- dedup ---
    o["d01_dedup_exact"] = """
SELECT doc_id, md5(text) AS fingerprint,
       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS is_canonical
FROM documents
"""

    sig_exprs = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS sig_{j}" for j in range(8)
    )
    band_cases = " ".join(
        f"WHEN {b} THEN md5(sig_{2*b} || '|' || sig_{2*b+1})" for b in range(4)
    )
    o["d02_dedup_minhash"] = f"""
WITH {_shingle_cte()},
sigs AS (
  SELECT doc_id, {sig_exprs}
  FROM sh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS band)),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT c.da AS doc_a, c.db AS doc_b,
       round(i / (sa.n + sb.n - i), 4) AS jaccard
FROM cands c
JOIN inter ON inter.da = c.da AND inter.db = c.db
JOIN sizes sa ON sa.doc_id = c.da
JOIN sizes sb ON sb.doc_id = c.db
WHERE round(i / (sa.n + sb.n - i), 4) >= 0.5
"""

    o["d03_simhash"] = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(16)) AS j)
  GROUP BY doc_id, j)
SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

    o["d04_ngram_jaccard"] = f"""
WITH {_shingle_cte()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b, round(i / (sa.n + sb.n - i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / (sa.n + sb.n - i), 4) >= 0.5
"""

    # clusters: transitive closure over the (oracle-replayed) minhash
    # pairs; cluster_id = min reachable doc_id, singletons = self.
    # Parameterized on the source relation so q34/q48 (raw documents),
    # q59 (the cleaned corpus), and the r15 funnel share one
    # derivation (module-level cluster_chain_sql since the r15 bank).
    _cluster_chain = cluster_chain_sql

    _cluster_cte = f"""
WITH RECURSIVE {_cluster_chain("documents")}"""

    o["q34_dedup_clusters"] = f"""{_cluster_cte}
SELECT doc_id, cluster_id FROM clusters
"""

    o["q48_dedup_apply"] = f"""{_cluster_cte}
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id
"""

    o["q38_join_profile"] = (
        "select c.c_mktsegment, count(*) as n_lineitems, "
        "cast(sum(l.l_quantity) as bigint) as total_qty, "
        "cast(sum(cast(l.l_extendedprice as decimal(18,2)) * cast(1 - l.l_discount as decimal(18,2))) as double) as revenue "
        "from lineitem l join orders o on l.l_orderkey = o.o_orderkey "
        "join customer c on o.o_custkey = c.c_custkey "
        "group by c.c_mktsegment"
    )
    o["q39_window_running"] = (
        "select o_custkey, o_orderkey, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) over "
        "(partition by o_custkey order by o_orderdate, o_orderkey) as double) as running_total "
        "from orders where o_custkey < 100"
    )

    o["q40_asof_join"] = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (
  SELECT user_id, ts, max(event_id) AS purchase_id, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, c.ts,
       p.purchase_id AS purchase_id_asof,
       p.purchase_value AS purchase_value_asof,
       p.ts AS ts_asof
FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
"""

    o["q41_range_join"] = """
SELECT e.event_id, e.user_id, e.ts, p.ts AS match_ts, p.event_id AS event_id_m
FROM events e JOIN events p
  ON e.user_id = p.user_id AND p.event_type = 'purchase'
 AND epoch(p.ts) >= epoch(e.ts) AND epoch(p.ts) <= epoch(e.ts) + 300
WHERE e.event_type = 'error'
"""

    o["q37_kmv_sketch"] = """
WITH u AS (
  SELECT DISTINCT (('0x' || substr(md5(l_orderkey::VARCHAR), 1, 8))::BIGINT + 1.0) / 4294967296.0 AS u
  FROM lineitem ORDER BY u LIMIT 256)
SELECT count(*) AS k_used, max(u) AS u_k,
       round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE ELSE 255 / max(u) END, 4) AS estimate
FROM u
"""

    o["q35_deterministic_sample"] = """
SELECT doc_id FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 1000
"""

    o["q36_token_histogram"] = r"""
WITH b AS (
  SELECT least(floor(len(regexp_split_to_array(text, '\s+')) / 50), 19)::BIGINT AS bucket
  FROM documents)
SELECT bucket, cast(bucket * 50 AS DOUBLE) AS lo, count(*) AS n
FROM b GROUP BY bucket
"""

    o["d05_embedding_neardup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.5
"""

    o["s01_ann_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""
    # s02: the hyperplanes are deterministic driver-side literals
    # (similarity._hyperplanes, LCG seed 42), so the bucket assignment IS
    # SQL-expressible — materialize the 8x64 plane matrix as DOUBLE[]
    # literals (repr round-trips float64 exactly) and replay sign-pattern
    # bucketing + same-bucket scoring in DuckDB.
    from datacatalog_tag_engine_spark.pipeline.similarity import _hyperplanes

    _planes = _hyperplanes(64, 8, 42)
    _plane_rows = ",\n".join(
        f"({p}, [{', '.join(repr(w) for w in row)}]::DOUBLE[])"
        for p, row in enumerate(_planes)
    )
    o["s02_ann_lsh"] = f"""
WITH plane_arr(p, pv) AS (VALUES {_plane_rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
buckets AS (
  SELECT e.vec_id,
         sum(CASE WHEN list_dot_product(e.v, pa.pv) >= 0 THEN (1::BIGINT << pa.p) ELSE 0 END)::BIGINT AS bucket
  FROM e CROSS JOIN plane_arr pa GROUP BY e.vec_id),
b AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN buckets bk USING (vec_id)),
q AS (SELECT * FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 4) AS cosine
  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""

    o["s03_ann_ivf"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
q AS (SELECT * FROM assign WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""

    # d07: replay the s03 cell assignment, then the dominance rule —
    # dropped iff ANY lower-id same-cell vector has round-4 cosine >=
    # threshold; dup_of is the lowest such id.
    o["d07_semantic_dedup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
sims AS (
  SELECT a.vec_id AS vid, b.vec_id AS dom_id,
         round(list_cosine_similarity(a.v, b.v), 4) AS cos
  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.35),
dom AS (
  SELECT vid, dom_id AS dup_of, cos AS cosine FROM (
    SELECT vid, dom_id, cos,
           row_number() OVER (PARTITION BY vid ORDER BY dom_id) AS rn
    FROM sims) WHERE rn = 1)
SELECT a.vec_id, a.cell, d.dup_of, d.cosine, d.vid IS NULL AS is_kept
FROM assign a LEFT JOIN dom d ON a.vec_id = d.vid
"""

    o["m01_multimodal_features"] = """
SELECT i AS media_id,
       CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       cast(25 AS INT) AS payload_bytes,
       cast(16 + i AS INT) AS width,
       cast(9 + i AS INT) AS height,
       cast(1000 + 10 * i AS INT) AS duration_ms,
       cast(24 + i AS INT) AS n_frames,
       array_to_string(list_transform(range(4), j -> ((1000 + 10 * i) * j) // 4), ',') AS frame_samples
FROM range(16) t(i)
"""

    o["m02_image_phash_neardup"] = phash_neardup_sql(
        n_groups=6, group_size=3, max_hamming=10
    )

    o["t12b_packing_invariants"] = packing_invariants_sql()

    o["q33_dataset_tag"] = (
        "SELECT 'p/datasets/d' AS asset_uri, 'data_owner' AS field_id, "
        "'governance-team' AS field_value_string"
    )

    profile_parts = []
    for c in ["l_quantity", "l_extendedprice", "l_discount"]:
        profile_parts.append(f"""
SELECT '{c}' AS "column",
       cast(count({c}) AS DOUBLE) AS n,
       cast(count(*) FILTER (WHERE {c} IS NULL) AS DOUBLE) AS n_null,
       cast(count(DISTINCT {c}) AS DOUBLE) AS n_distinct,
       cast(min({c}) AS DOUBLE) AS min_value,
       cast(max({c}) AS DOUBLE) AS max_value,
       round(avg({c}), 2) AS mean_value,
       round(stddev_samp({c}), 2) AS stddev_value
FROM lineitem""")
    o["q30_numeric_profile"] = " UNION ALL ".join(profile_parts)

    o["q31_corpus_stats"] = r"""
SELECT source,
       count(*) AS n_docs,
       cast(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS total_words,
       round(avg(len(regexp_split_to_array(text, '\s+'))), 2) AS mean_words,
       cast(sum(length(text)) AS BIGINT) AS total_chars,
       cast(min(length(text)) AS BIGINT) AS min_chars,
       cast(max(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""

    o["q32_sessionize"] = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         cast(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_index
  FROM flagged)
SELECT user_id, session_index, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS duration_sec
FROM s GROUP BY user_id, session_index
"""

    sensitive_expected = [
        ("p/datasets/d/tables/users", "email", "sensitive_field", "TRUE"),
        ("p/datasets/d/tables/users", "email", "sensitive_type", "EMAIL"),
        ("p/datasets/d/tables/users", "name", "sensitive_field", "TRUE"),
        ("p/datasets/d/tables/users", "name", "sensitive_type", "NAME"),
    ]
    o["q42_sensitive_e2e"] = (
        f"SELECT * FROM (VALUES {_sql_values(sensitive_expected)}) "
        't(asset_uri, "column", field_id, value)'
    )

    # q44: full derivation replay — per-field smallest-superset notable
    # selection, per-asset smallest-superset classification, taxonomy
    # category join, left-joined back onto the schema columns.
    o["s04_ann_ivf_nprobe"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
ranked AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
  FROM e CROSS JOIN cents c),
assign AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
qprobe AS (SELECT vec_id, v, cell FROM ranked WHERE rn <= 2 AND vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM qprobe q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""

    o["q44_policy_tags"] = f"""
WITH findings(asset_uri, field, infotype) AS (VALUES {_sql_values(SENSITIVE_FINDINGS)}),
sel(field_infotypes, notable_infotype) AS (VALUES {_sql_values(SENSITIVE_SELECTION)}),
cls(notable_infotypes, classification_result) AS (VALUES {_sql_values(SENSITIVE_CLASSIFICATION)}),
tax(policy_tag_name, category) AS (VALUES {_sql_values(SENSITIVE_TAXONOMY)}),
""" + """cols(asset_uri, col) AS (VALUES
  ('p/datasets/d/tables/users', 'email'), ('p/datasets/d/tables/users', 'name'),
  ('p/datasets/d/tables/users', 'age'), ('p/datasets/d/tables/public_stuff', 'city')),
per_field AS (
  SELECT asset_uri, field, list_sort(list(DISTINCT infotype)) AS infotypes
  FROM findings GROUP BY asset_uri, field),
notable AS (
  SELECT asset_uri, field, notable_infotype FROM (
    SELECT p.asset_uri, p.field, s.notable_infotype,
           row_number() OVER (PARTITION BY p.asset_uri, p.field
                              ORDER BY len(s.field_infotypes), s.notable_infotype) AS rn
    FROM per_field p JOIN sel s
      ON len(list_filter(p.infotypes, x -> NOT list_contains(s.field_infotypes, x))) = 0)
  WHERE rn = 1),
have(asset_uri, have) AS (
  SELECT asset_uri, list_sort(list(DISTINCT notable_infotype)) FROM notable GROUP BY asset_uri),
classed AS (
  SELECT asset_uri, classification_result FROM (
    SELECT h.asset_uri, c.classification_result,
           row_number() OVER (PARTITION BY h.asset_uri
                              ORDER BY len(c.notable_infotypes), c.classification_result) AS rn
    FROM have h JOIN cls c
      ON len(list_filter(h.have, x -> NOT list_contains(c.notable_infotypes, x))) = 0)
  WHERE rn = 1),
reqs AS (
  SELECT n.asset_uri, n.field AS col, t.policy_tag_name AS policy_tag
  FROM notable n JOIN classed cl ON n.asset_uri = cl.asset_uri
  JOIN tax t ON t.category = cl.classification_result
  WHERE cl.classification_result <> 'Public_Information')
SELECT c.asset_uri, c.col AS "column", r.policy_tag
FROM cols c LEFT JOIN reqs r ON c.asset_uri = r.asset_uri AND c.col = r.col
"""

    o["q43_history_rollup"] = """
WITH h(event_time, asset_name, field_id, action, job_uuid, template_id) AS (VALUES
  (TIMESTAMP '2026-01-01 10:00:00', 'p/dataset/d/table/a', 'f1', 'CREATE', 'j1', 'gov'),
  (TIMESTAMP '2026-01-01 11:00:00', 'p/dataset/d/table/a', 'f1', 'UPDATE', 'j2', 'gov'),
  (TIMESTAMP '2026-01-01 11:00:00', 'p/dataset/d/table/a', 'f1', 'UPDATE', 'j2', 'gov'),
  (TIMESTAMP '2026-01-01 11:05:00', 'p/dataset/d/table/a', 'f1', 'UPDATE', 'j2', 'gov'),
  (TIMESTAMP '2026-01-02 09:00:00', 'p/dataset/d/table/b', 'f1', 'CREATE', 'j3', 'gov'),
  (TIMESTAMP '2026-01-02 09:00:00', 'p/dataset/d/table/b', 'f2', 'DELETE', 'j3', 'sec')),
d AS (
  SELECT job_uuid, asset_name, field_id, action, template_id,
         min(event_time) AS event_time
  FROM h GROUP BY job_uuid, asset_name, field_id, action, template_id)
SELECT cast(event_time AS DATE) AS event_date, template_id, action, count(*) AS n
FROM d GROUP BY event_date, template_id, action
"""

    o["t05_vocabulary"] = r"""
WITH w AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
SELECT word, count(*) AS n FROM w GROUP BY word ORDER BY n DESC, word LIMIT 20
"""

    o["t01_token_counts"] = r"""
SELECT doc_id, length(text) AS n_chars,
       len(regexp_split_to_array(text, '\s+')) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens
FROM documents
"""

    stop_list = ", ".join(f"'{s}'" for s in TXT.STOPWORDS)
    o["t02_quality"] = f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS nc,
         len(regexp_split_to_array(text, '\\s+')) AS nw,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         w -> list_contains([{stop_list}], lower(w)))) AS ns,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np,
         len(regexp_extract_all(text, '[A-Za-z]')) AS na
  FROM documents)
SELECT doc_id,
       round((nc - (nw - 1)) / nw, 4) AS mean_word_len,
       round(ns / nw, 4) AS stopword_ratio,
       round(np / nc, 4) AS punct_ratio,
       round(na / nc, 4) AS alpha_ratio,
       round(least(1.0, greatest(0.0,
             0.5 * (na / nc) + 0.5 * least(1.0, (ns / nw) * 5) - (np / nc))), 4) AS quality_score
FROM b
"""

    marker_sql = {
        lang: ", ".join(f"'{m}'" for m in markers) for lang, markers in TXT.LANG_MARKERS.items()
    }
    o["t03_lang_id"] = f"""
WITH w AS (
  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS words FROM documents),
s AS (
  SELECT doc_id, text,
         len(list_filter(words, x -> list_contains([{marker_sql['en']}], x))) AS s_en,
         len(list_filter(words, x -> list_contains([{marker_sql['de']}], x))) AS s_de,
         len(list_filter(words, x -> list_contains([{marker_sql['fr']}], x))) AS s_fr,
         len(list_filter(words, x -> list_contains([{marker_sql['es']}], x))) AS s_es
  FROM w)
SELECT doc_id,
       CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
            WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM s
"""

    o["t04_fingerprint"] = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
SELECT doc_id, md5(norm) AS fingerprint,
       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fingerprint64
FROM n
"""

    # t06: the three patterns apply in fixed order, each counting
    # against the previous stage's output — replayed as a CTE chain.
    _email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _ip = r"(\d{1,3}\.){3}\d{1,3}"
    _phone = r"\d{3}-\d{3}-\d{4}"
    o["t06_pii_redaction"] = f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact u' || doc_id || '@ex.com at 10.0.' || (doc_id % 256) || '.1 or 555-123-4567' AS text
  FROM documents),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{_email}')) AS c1,
              regexp_replace(text, '{_email}', '<EMAIL>', 'g') AS t FROM pii),
s2 AS (SELECT doc_id, c1,
              len(regexp_extract_all(t, '{_ip}')) AS c2,
              regexp_replace(t, '{_ip}', '<IP>', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, c1, c2,
              len(regexp_extract_all(t, '{_phone}')) AS c3,
              regexp_replace(t, '{_phone}', '<PHONE>', 'g') AS t FROM s2)
SELECT doc_id, t AS redacted, (c1 + c2 + c3)::INT AS n_redactions FROM s3
"""

    o["t07_tfidf"] = r"""
WITH w AS (
  SELECT source AS grp, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
w2 AS (SELECT grp, term FROM w WHERE len(term) > 0),
tf AS (SELECT grp, term, count(*) AS tf FROM w2 GROUP BY grp, term),
df AS (SELECT term, count(DISTINCT grp) AS df FROM tf GROUP BY term),
ng AS (SELECT count(DISTINCT source) AS n_groups FROM documents),
scored AS (
  SELECT tf.grp AS source, tf.term, round(tf.tf * ln(ng.n_groups / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN ng)
SELECT source, term, tfidf,
       cast(row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""

    o["t08_length_percentiles"] = """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99,
       count(*) AS n
FROM documents GROUP BY source
"""

    # chunk token counts: least(32, nt - chunk_id*32)
    o["t09_chunking"] = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TXT.TOKEN_REGEX}'))::INT AS nt,
         ceil(len(regexp_extract_all(text, '{TXT.TOKEN_REGEX}')) / 32.0)::INT AS nc
  FROM documents),
c AS (SELECT doc_id, unnest(range(nc))::INT AS chunk_id, nt FROM t WHERE nc > 0)
SELECT doc_id, chunk_id, least(32, nt - chunk_id * 32) AS n_tokens FROM c
"""

    o["q49_column_profile_fused"] = """
WITH base AS (
  SELECT 'l_orderkey' AS col, count(DISTINCT l_orderkey)::DOUBLE AS dv, count(l_orderkey)::DOUBLE AS nn FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', count(DISTINCT l_returnflag)::DOUBLE, count(l_returnflag)::DOUBLE FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', count(DISTINCT l_shipdate)::DOUBLE, count(l_shipdate)::DOUBLE FROM lineitem)
SELECT 'p/datasets/d/tables/lineitem' AS asset_uri, col AS "column",
       'distinct_values' AS field_id, dv AS field_value_double FROM base
UNION ALL
SELECT 'p/datasets/d/tables/lineitem', col, 'non_null_values', nn FROM base
"""

    o["q46_mixture_sample"] = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 <
      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                  WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000 ELSE 10000 END
"""

    o["q47_embedding_quantize"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
s AS (SELECT vec_id, v, CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS sc FROM m)
SELECT vec_id,
       array_to_string(list_transform(v, x -> floor(x * sc + 0.5)::INT), ',') AS q8,
       round(sc, 6) AS scale
FROM s
"""

    o["q45_training_shuffle"] = """
WITH k AS (
  SELECT doc_id, md5('s42' || doc_id) AS sort_key,
         (('0x' || substr(md5('s42' || doc_id), 1, 8))::BIGINT % 8)::INT AS shard
  FROM documents)
SELECT doc_id, shard,
       cast(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS INT) AS position
FROM k
"""

    # t10: word 5-grams, distinct per doc; benchmark = doc_id % 20 == 0
    o["t10_contamination"] = r"""
WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') ws FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(ws) >= 5
                THEN list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' '))
                ELSE []::VARCHAR[] END) AS shingle
  FROM w),
bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 20 = 0),
ev AS (SELECT doc_id, shingle FROM g WHERE doc_id % 20 <> 0)
SELECT ev.doc_id,
       count(*) AS n_shingles,
       count(bench.shingle) AS n_matched,
       round(count(bench.shingle)::DOUBLE / count(*), 4) AS contamination
FROM ev LEFT JOIN bench USING (shingle)
GROUP BY ev.doc_id
"""

    # t11: modal-bigram count == longest equal-run of the sorted bigram
    # array; max_word_run via gaps-and-islands over word positions
    o["t11_repetition"] = r"""
WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') ws FROM documents),
base AS (SELECT doc_id, ws, len(ws) AS n_words FROM w WHERE len(ws) >= 2),
tok AS (
  SELECT doc_id, i, ws[i] AS word
  FROM base, unnest(range(1, len(ws) + 1)) t(i)),
runs AS (
  SELECT doc_id, count(*) AS run_len
  FROM (SELECT doc_id, word, i - row_number() OVER (PARTITION BY doc_id, word ORDER BY i) AS grp
        FROM tok)
  GROUP BY doc_id, word, grp),
max_run AS (SELECT doc_id, max(run_len) AS max_word_run FROM runs GROUP BY doc_id),
bg AS (
  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bigram
  FROM base, unnest(range(1, len(ws))) t(i)),
bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
top_bg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams FROM bgc GROUP BY doc_id)
SELECT b.doc_id,
       cast(b.n_words AS INT) AS n_words,
       round(1.0 - len(list_distinct(b.ws))::DOUBLE / b.n_words, 4) AS dup_word_frac,
       round(t.top_c::DOUBLE / t.n_bigrams, 4) AS top_bigram_frac,
       cast(m.max_word_run AS INT) AS max_word_run
FROM base b JOIN top_bg t USING (doc_id) JOIN max_run m USING (doc_id)
"""

    o["q50_train_split"] = """
SELECT doc_id, source,
       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
            WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

    o["q51_corpus_delta"] = r"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint FROM fp
WHERE doc_id % 3 = 0
  AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 3 <> 0)
"""

    # s05: recall of IVF(nprobe=1) against the exact brute-force top-5 —
    # composes the s01 and s03 oracle derivations and joins them
    o["s05_ann_recall"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
exact_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id <> e.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM exact_scored) WHERE rank <= 5),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
qa AS (SELECT * FROM assign WHERE vec_id < 5),
ivf_scored AS (
  SELECT qa.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(qa.v, a.v), 4) AS cosine
  FROM qa JOIN assign a ON qa.cell = a.cell AND qa.vec_id <> a.vec_id),
ivf AS (
  SELECT query_id, neighbor_id, 1 AS hit FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ivf_scored) WHERE rank <= 5)
SELECT exact.query_id,
       cast(coalesce(sum(ivf.hit), 0) AS BIGINT) AS n_matched,
       round(coalesce(sum(ivf.hit), 0)::DOUBLE / count(*), 4) AS recall_at_5
FROM exact LEFT JOIN ivf USING (query_id, neighbor_id)
GROUP BY exact.query_id
"""

    # q52: the whole pipeline replayed — quality gate (t02's formula),
    # bag-of-words canonical dedup (q51's fingerprint), split (q50's
    # buckets), token count (t01's regex)
    o["q52_pipeline_e2e"] = f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS nc,
         len(regexp_split_to_array(text, '\\s+')) AS nw,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         w -> list_contains([{stop_list}], lower(w)))) AS ns,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np,
         len(regexp_extract_all(text, '[A-Za-z]')) AS na
  FROM documents),
q AS (
  SELECT doc_id,
         round(least(1.0, greatest(0.0,
               0.5 * (na / nc) + 0.5 * least(1.0, (ns / nw) * 5) - (np / nc))), 4) AS qs
  FROM b),
keep AS (
  SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE q.qs >= 0.55),
fp AS (
  SELECT doc_id, source, text,
         md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\\s+'))), ' ')) AS f
  FROM keep),
canon AS (
  SELECT doc_id, source, text FROM fp
  QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1)
SELECT doc_id, source,
       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
            WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
            ELSE 'test' END AS split,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
FROM canon
"""

    # d06: 8-gram repeated spans (short docs fall back to one whole-text
    # shingle, mirroring dedup.word_shingles); df counts distinct docs
    o["d06_repeated_spans"] = r"""
WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
           FROM documents WHERE length(trim(text)) > 0),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 8 THEN len(ws) - 7 ELSE 1 END AS n_shingles,
         unnest(CASE WHEN len(ws) >= 8
                THEN list_transform(range(1, len(ws) - 6), i -> array_to_string(ws[i:i+7], ' '))
                ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM w),
rep AS (
  SELECT shingle FROM (
    SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY shingle)
  WHERE df >= 2)
SELECT doc_id, cast(n_shingles AS INT) AS n_shingles, count(*) AS n_repeated,
       round(count(*)::DOUBLE / n_shingles, 4) AS repeat_ratio
FROM sh JOIN rep USING (shingle)
GROUP BY doc_id, n_shingles
"""

    # t13: per-word log-probs quantize to exact micro-log-prob integers
    # before summing, so the average is associative (no float-order
    # drift between engines)
    o["t13_unigram_logprob"] = r"""
WITH w AS (SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS word
           FROM documents),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
t AS (SELECT sum(c)::DOUBLE AS total FROM v),
m AS (SELECT word, cast(round(ln(c / total) * 1000000) AS BIGINT) AS lp6 FROM v, t)
SELECT doc_id, count(*) AS n_words,
       round(sum(lp6) / count(*) / 1e6, 4) AS avg_logprob
FROM w JOIN m USING (word)
GROUP BY doc_id
"""

    o["q53_token_budget"] = r"""
WITH b AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens,
         md5(doc_id::VARCHAR) AS _ord
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         cast(sum(n_tokens) OVER (PARTITION BY source ORDER BY _ord, doc_id) AS BIGINT) AS cum_tokens
  FROM b)
SELECT doc_id, source, n_tokens, cum_tokens FROM c
WHERE cum_tokens - n_tokens < 800
"""

    _mix_cte = r"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         cast(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens::DOUBLE, 0.5) / sum(pow(n_tokens::DOUBLE, 0.5)) OVER (), 6) AS weight
  FROM s)
"""

    o["q54_mixture_weights"] = _mix_cte + r"""
SELECT source, n_docs, n_tokens, weight,
       CASE WHEN n_tokens > 0
            THEN round(least(1.0, 10000 * weight / n_tokens), 6)
            ELSE 0.0 END AS rate
FROM w
"""

    o["q55_mixture_sample"] = _mix_cte + r""",
r AS (SELECT source,
             CASE WHEN n_tokens > 0
                  THEN round(least(1.0, 10000 * weight / n_tokens), 6)
                  ELSE 0.0 END AS rate FROM w)
SELECT d.doc_id, d.source,
       len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens
FROM documents d JOIN r USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
      < floor(rate * 10000 + 0.5)
"""

    o["q56_delta_bloom"] = o["q51_corpus_delta"]

    o["s07_pq_adc"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM e ORDER BY vec_id LIMIT 16),
ms AS (SELECT unnest(range(4)) AS m),
csub AS (SELECT c, m, v[m*16+1 : m*16+16] AS cv FROM cent, ms),
esub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sv FROM e, ms),
dists AS (
  SELECT vec_id, m, c,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub JOIN csub USING (m)),
codes AS (
  SELECT vec_id, m, cast(min(d*16 + c) % 16 AS INT) AS code
  FROM dists GROUP BY vec_id, m),
dt AS (
  SELECT es.vec_id AS query_id, es.m, c AS code,
         list_sum(list_transform(range(1, 17),
                  i -> cast(round((es.sv[i]-cv[i])^2 * 1e6) AS BIGINT))) AS d
  FROM esub es JOIN csub USING (m) WHERE es.vec_id < 5),
scored AS (
  SELECT dt.query_id, codes.vec_id AS neighbor_id, cast(sum(dt.d) AS BIGINT) AS adist_micro
  FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.code
  GROUP BY dt.query_id, codes.vec_id)
SELECT query_id, neighbor_id, adist_micro,
       cast(row_number() OVER (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS INT) AS rank
FROM scored WHERE neighbor_id <> query_id
QUALIFY rank <= 5
"""

    o["t14_hashed_linear"] = r"""
WITH wt AS (
  SELECT i::INT AS bucket,
         cast(round(((('0x' || substr(md5('w:' || i::VARCHAR), 1, 8))::BIGINT / 4294967296.0) * 2 - 1) * 1000000) AS BIGINT) AS w6
  FROM range(1024) t(i)),
tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    w -> len(w) > 0)) AS word FROM documents),
b AS (
  SELECT doc_id, (('0x' || substr(md5(word), 1, 8))::BIGINT % 1024)::INT AS bucket FROM tok),
agg AS (
  SELECT doc_id, count(*) AS n_words, cast(sum(w6) AS BIGINT) AS s6
  FROM b JOIN wt USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_words, round(1.0 / (1.0 + exp(-(s6 / n_words / 1e6))), 4) AS score
FROM agg
"""

    # t15/q57: DSIR importance resampling. The per-bucket log-ratio
    # quantizes to integer micro-units (round(lr*1e6) as BIGINT) before
    # the per-document sum — integer sums are associative, so both
    # engines compute the identical score; the only float ops are one
    # shared ln() grid and one final division by 1e6.
    _dsir_weights_cte = r"""
WITH rdoc AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), w -> len(w) > 0) AS ws
  FROM documents WHERE doc_id % 17 != 0),
tdoc AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), w -> len(w) > 0) AS ws
  FROM documents WHERE doc_id % 17 = 0),
rg AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(ws || list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))), 1, 8))::BIGINT % 10000 AS bucket
  FROM rdoc),
tg AS (
  SELECT ('0x' || substr(md5(unnest(ws || list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))), 1, 8))::BIGINT % 10000 AS bucket
  FROM tdoc),
rc AS (SELECT bucket, count(*) AS cr FROM rg GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS ct FROM tg GROUP BY bucket),
tot AS (SELECT (SELECT count(*) FROM rg) AS nr, (SELECT count(*) FROM tg) AS nt),
tab AS (
  SELECT bucket,
         cast(round((ln((coalesce(ct, 0) + 1) / (nt + 10000.0))
                   - ln((coalesce(cr, 0) + 1) / (nr + 10000.0))) * 1000000) AS BIGINT) AS lr6
  FROM rc FULL OUTER JOIN tc USING (bucket), tot),
sc AS (
  SELECT doc_id, count(*) AS n_grams, cast(sum(lr6) AS BIGINT) AS s6
  FROM rg JOIN tab USING (bucket)
  GROUP BY doc_id),
weights AS (
  SELECT d.doc_id,
         cast(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
         coalesce(sc.s6, 0) / 1000000.0 AS dsir_score
  FROM rdoc d LEFT JOIN sc USING (doc_id))
"""
    o["t15_dsir_weights"] = _dsir_weights_cte + "SELECT doc_id, n_grams, dsir_score FROM weights"

    # Gumbel-top-k selection: noise from the same md5 uniform as the
    # Spark side ((md5_32('dsir:'||id) + 0.5) / 2^32 — never 0 or 1)
    o["q57_dsir_sample"] = _dsir_weights_cte + r"""
SELECT doc_id, n_grams, dsir_score,
       round(dsir_score / 1.0
             - ln(-ln(((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT) + 0.5) / 4294967296.0)),
             6) AS selection_key
FROM weights
ORDER BY selection_key DESC, doc_id ASC
LIMIT 50
"""

    # --- round-6 rotation oracles (drafts proven value-equal in
    # tests/test_oracle_drafts_r6.py before entering the inventory) ---

    # t16: Gopher rule replay (arXiv:2112.11446 Table A1 thresholds).
    # Zero-word / zero-line docs guard every denominator (NULL = not
    # measurable, fails no rule) — mirrors the ANSI-safe Spark form.
    o["t16_gopher_filter"] = r"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS wl,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents),
bg AS (   -- modal bigram count per doc (docs with >= 2 words)
  SELECT doc_id, max(c) AS top_bg
  FROM (
    SELECT doc_id, bigram, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(len(wl) - 1),
                                   i -> wl[i+1] || ' ' || wl[i+2])) AS bigram
      FROM base WHERE len(wl) >= 2)
    GROUP BY doc_id, bigram)
  GROUP BY doc_id),
f AS (
  SELECT b.doc_id,
         len(b.w) AS n_words,
         CASE WHEN len(b.w) > 0
              THEN list_sum(list_transform(b.w, x -> length(x))) / len(b.w)
         END AS mean_word_len,
         CASE WHEN len(b.w) > 0
              THEN len(regexp_extract_all(b.text, '#|\.\.\.|…')) / len(b.w)
         END AS symbol_word_ratio,
         CASE WHEN len(b.lines) > 0
              THEN len(list_filter(b.lines, l -> regexp_matches(l, '^\s*(\*|-|•)\s')))
                   / len(b.lines)
         END AS bullet_line_frac,
         CASE WHEN len(b.lines) > 0
              THEN len(list_filter(b.lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
                   / len(b.lines)
         END AS ellipsis_line_frac,
         CASE WHEN len(b.w) > 0
              THEN len(list_filter(b.w, x -> regexp_matches(x, '[A-Za-z]')))
                   / len(b.w)
         END AS alpha_word_frac,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(b.wl, s))) AS stopword_hits,
         CASE WHEN len(b.wl) > 0
              THEN 1.0 - len(list_distinct(b.wl)) / len(b.wl)
         END AS dup_word_frac,
         CASE WHEN len(b.wl) >= 2
              THEN bg.top_bg / (len(b.wl) - 1) END AS top_bigram_frac
  FROM base b LEFT JOIN bg USING (doc_id)),
r AS (
  SELECT *,
         list_sort(list_filter([
           CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count' END,
           CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'mean_word_len' END,
           CASE WHEN symbol_word_ratio > 0.1 THEN 'symbol_ratio' END,
           CASE WHEN bullet_line_frac > 0.9 THEN 'bullet_lines' END,
           CASE WHEN ellipsis_line_frac > 0.3 THEN 'ellipsis_lines' END,
           CASE WHEN alpha_word_frac < 0.8 THEN 'alpha_words' END,
           CASE WHEN stopword_hits < 2 THEN 'stopword_hits' END,
           CASE WHEN n_words >= 2 AND dup_word_frac > 0.3 THEN 'dup_words' END,
           CASE WHEN n_words >= 2 AND top_bigram_frac > 0.18 THEN 'top_bigram' END
         ], x -> x IS NOT NULL)) AS fails
  FROM f)
SELECT doc_id,
       n_words::INT AS n_words,
       round(mean_word_len, 4) AS mean_word_len,
       round(symbol_word_ratio, 4) AS symbol_word_ratio,
       round(bullet_line_frac, 4) AS bullet_line_frac,
       round(ellipsis_line_frac, 4) AS ellipsis_line_frac,
       round(alpha_word_frac, 4) AS alpha_word_frac,
       stopword_hits::INT AS stopword_hits,
       round(dup_word_frac, 4) AS dup_word_frac,
       round(top_bigram_frac, 4) AS top_bigram_frac,
       array_to_string(fails, ',') AS fail_reasons,
       (len(fails) = 0) AS keep
FROM r
"""

    # d08: exact-substring span removal (arXiv:2107.06499 at word-8-gram
    # grain): any gram in >= 2 docs covers its 8 word positions; covered
    # words are cut and the survivors rejoin with single spaces.
    o["d08_span_removal"] = f"""
WITH {_span_cte("documents")},
nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(r.text, '') AS text,
       len(d.wo)::INT AS n_words,
       coalesce(nrem.n_removed, 0)::INT AS n_removed
FROM d LEFT JOIN r USING (doc_id) LEFT JOIN nrem USING (doc_id)
"""

    # d09: CCNet-style paragraph dedup (arXiv:1911.00359) — keep-first
    # on the whitespace-collapsed lowercase paragraph form.
    o["d09_paragraph_dedup"] = f"""
WITH {_paragraph_cte("documents")}
SELECT d.doc_id,
       coalesce(r.text, '') AS text,
       len(d.arr)::INT AS n_paragraphs,
       (len(d.arr) - coalesce(r.kept, 0))::INT AS n_removed
FROM d LEFT JOIN r USING (doc_id)
"""

    # q58: engine-portable md5 hash sharding (pipeline.export)
    o["q58_shard_assignments"] = (
        "SELECT doc_id, (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4)::INT"
        " AS shard FROM documents"
    )

    # t17: interpolated bigram LM replay (micro-unit integer sums; NULL
    # text == empty text; < 2-word docs score 0.0 with 0 transitions)
    o["t17_bigram_logprob"] = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS ws
  FROM documents),
u AS (
  SELECT word, count(*) AS c1
  FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
tot AS (SELECT sum(c1) AS total, count(*) AS vsize FROM u),
pr AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ws) - 1),
                               i -> {'w1': ws[i+1], 'w2': ws[i+2]}),
                recursive := true)
  FROM w WHERE len(ws) >= 2),
bi AS (SELECT w1, w2, count(*) AS c2 FROM pr GROUP BY w1, w2),
sc AS (
  SELECT pr.doc_id,
         round(ln(0.7 * (bi.c2 / u1.c1)
                  + (1.0 - 0.7) * ((u2.c1 + 1) / (tot.total + tot.vsize)::DOUBLE))
               * 1000000)::BIGINT AS lp6
  FROM pr
  JOIN bi USING (w1, w2)
  JOIN u u1 ON pr.w1 = u1.word
  JOIN u u2 ON pr.w2 = u2.word, tot),
agg AS (SELECT doc_id, count(*) AS n_transitions, sum(lp6) AS s
        FROM sc GROUP BY doc_id)
SELECT doc_id, n_transitions, round(s / n_transitions / 1e6, 4) AS avg_logprob
FROM agg
UNION ALL
SELECT doc_id, 0, 0.0 FROM w WHERE len(ws) < 2
"""

    # s08: hard-negative mining — brute-force candidates minus the
    # rank-1 positive, re-ranked to the final negative top-5
    o["s08_hard_negatives"] = r"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e ORDER BY vec_id LIMIT 10),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, e.v), 4) AS cosine
  FROM q JOIN e ON q.vec_id != e.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored),
cand AS (SELECT * FROM ranked WHERE rk <= 15),
pos AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 1),
neg AS (
  SELECT c.query_id, c.neighbor_id, c.cosine
  FROM cand c ANTI JOIN pos p
    ON c.query_id = p.query_id AND c.neighbor_id = p.neighbor_id)
SELECT query_id, neighbor_id, cosine,
       cast(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM neg QUALIFY rank <= 5
"""

    # q59v2: the cleaning pipeline composed end-to-end — stage 0
    # (normalize + collapse-repeated-lines) prepended to the
    # r6-certified q59 body: relaxed Gopher gate (min_words=20,
    # repetition/stopword rules off), paragraph dedup, span removal,
    # emptied-doc drop, minhash canonical keep, md5 shard assignment.
    # Each stage is the already-proven per-operator derivation
    # re-sourced from the previous stage's CTE; the stage-0 injection
    # (body re-sourced FROM cleaned, stage-0 CTEs prepended) is exactly
    # the surgery tests/test_oracle_drafts_r7.py proved value-equal.
    # The CTE chain through `clusters` (q59_prefix) is shared with the
    # q71 export-boundary composition below — one copy. Each stage's
    # output (keep, para, clean) is read by several CTEs of the next
    # stage, so it is MATERIALIZED: inlined, DuckDB re-derives every
    # earlier stage once per reference (measured at sf0.001: q59v2
    # 79 s without the hints, ~1 s with them and cluster_chain_sql's).
    q59_prefix = f"""
WITH RECURSIVE
base AS (
  SELECT doc_id, coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                     x -> length(x) > 0) AS w,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents),
gf AS (
  SELECT doc_id, text,
         len(w) AS nw,
         list_sum(list_transform(w, x -> length(x))) / len(w) AS mwl,
         len(regexp_extract_all(text, '#|\\.\\.\\.|…')) / len(w) AS sym,
         len(list_filter(lines, l -> regexp_matches(l, '^\\s*(\\*|-|•)\\s')))
           / len(lines) AS bullet,
         len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))
           / len(lines) AS ell,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) / len(w) AS alpha
  FROM base WHERE len(w) > 0 AND len(lines) > 0),
keep AS MATERIALIZED (
  SELECT doc_id, text FROM gf
  WHERE nw BETWEEN 20 AND 100000
    AND mwl BETWEEN 3.0 AND 10.0
    AND sym <= 0.1 AND bullet <= 0.9 AND ell <= 0.3 AND alpha >= 0.8),
{_paragraph_cte("keep", "pd_")},
para AS MATERIALIZED (
  SELECT k.doc_id, coalesce(r.text, '') AS text
  FROM pd_d k LEFT JOIN pd_r r USING (doc_id)),
{_span_cte("para", "sp_")},
clean AS MATERIALIZED (
  SELECT d.doc_id, coalesce(r.text, '') AS text
  FROM sp_d d LEFT JOIN sp_r r USING (doc_id)
  WHERE length(trim(coalesce(r.text, ''))) > 0),
{_cluster_chain("clean")}"""
    q59_base = q59_prefix + """
SELECT c.doc_id,
       (('0x' || substr(md5(c.doc_id::VARCHAR), 1, 8))::BIGINT % 4)::INT AS shard,
       len(list_filter(regexp_split_to_array(c.text, '\\s+'),
                       x -> length(x) > 0))::INT AS n_words
FROM clean c JOIN clusters cl ON c.doc_id = cl.doc_id AND cl.doc_id = cl.cluster_id
"""
    assert q59_base.count("FROM documents") == 1
    q59_stage0 = (
        "n0 AS (SELECT doc_id, " + normalize_expr_sql("text") + """ AS text
  FROM documents),
c0 AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM n0),
cleaned AS (
  SELECT doc_id,
         array_to_string(list_filter(arr, (x, i) -> i = 1
                         OR length(trim(x)) = 0
                         OR lower(trim(x)) <> lower(trim(arr[i-1]))),
                         chr(10)) AS text
  FROM c0),"""
    )
    # rewrite the BODY's source first, THEN inject stage0 (whose own
    # n0 must keep reading FROM documents)
    o["q59v2_clean_pipeline"] = q59_base.replace("FROM documents", "FROM cleaned").replace(
        "WITH RECURSIVE\n", "WITH RECURSIVE\n" + q59_stage0 + "\n", 1
    )

    # q71: the q59 chain extended to the export boundary — minhash
    # canonicals -> containment dedup (the d14 derivation, ct_-prefixed
    # to coexist with _cluster_chain's bare toks/sh) -> shard
    # assignment -> shard-balance profile (the q69 derivation at
    # 4 shards with n_words as the token measure). Same stage-0
    # injection surgery as q59v2. The MATERIALIZED hints are
    # load-bearing: canon/ccd/surv are each referenced 2-3x downstream,
    # and without the hint DuckDB re-inlines the whole upstream chain —
    # including the RECURSIVE reach closure — once per reference
    # (measured: >15 min vs seconds at sf0.01).
    q71_tail = f""",
canon AS MATERIALIZED (
  SELECT c.doc_id, c.text
  FROM clean c JOIN clusters cl ON c.doc_id = cl.doc_id AND cl.doc_id = cl.cluster_id),
cfp AS (SELECT doc_id, md5(text) AS fp FROM canon),
ccan AS (
  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS is_canon
  FROM cfp),
ccd AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM canon d
  JOIN ccan ON ccan.doc_id = d.doc_id AND ccan.is_canon),
{_shingle_cte("ccd", "ct_")},
{_df_capped_cte("ct_sh", "ct_shf", DD.DEFAULT_CONTAINMENT_MAX_DF)},
cinter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ct_shf a JOIN ct_shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
csizes AS (SELECT doc_id, count(*) AS n FROM ct_sh GROUP BY doc_id),
cpairs AS (
  SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb
  FROM cinter JOIN csizes sa ON sa.doc_id = doc_a JOIN csizes sb ON sb.doc_id = doc_b
  WHERE round(i / least(sa.n, sb.n), 4) >= 0.8),
closers AS (
  SELECT DISTINCT CASE WHEN na < nb THEN doc_a ELSE doc_b END AS doc_id FROM cpairs),
surv AS MATERIALIZED (
  SELECT c.doc_id, c.text FROM ccd c
  ANTI JOIN closers l ON l.doc_id = c.doc_id),
sb AS (
  SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4) AS shard,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> length(x) > 0)) AS nw
  FROM surv),
per AS (SELECT shard, count(*) AS n_docs, sum(nw)::BIGINT AS n_tokens
        FROM sb GROUP BY shard),
all_shards AS (SELECT unnest(range(4))::INT AS shard)
SELECT a.shard,
       coalesce(n_docs, 0)::BIGINT AS n_docs,
       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       round(coalesce(n_docs, 0) * 4 / (SELECT count(*) FROM surv), 4) AS doc_skew
FROM all_shards a LEFT JOIN per ON per.shard = a.shard
"""
    o["q71_export_pipeline"] = (q59_prefix + q71_tail).replace(
        "FROM documents", "FROM cleaned"
    ).replace("WITH RECURSIVE\n", "WITH RECURSIVE\n" + q59_stage0 + "\n", 1)

    # --- round-7 rotation: the oracle strings proven value-equal in
    # tests/test_oracle_drafts_r7.py, wired verbatim (the module-level
    # constants above ARE the proven drafts — the drafts file imports
    # them back, so there is exactly one copy of each derivation) ---
    o["t18_bpe_apply"] = bpe_apply_sql(BPE_MERGES)
    o["q60_hll_tolerance"] = (
        "SELECT source, count(DISTINCT doc_id) AS exact, TRUE AS within_2pct"
        " FROM documents GROUP BY source"
    )
    o["t19_perplexity_buckets"] = PERPLEXITY_SQL
    o["t20_classifier_weights"] = classifier_sql(iterations=3, num_buckets=64, lr=2.0)
    o["s09_ivf_from_index"] = o["s03_ann_ivf"]
    o["q61_clean_ingest"] = CLEAN_INGEST_SQL
    o["q62_sample_k_per_group"] = SAMPLE_K_SQL
    o["s10_ivfpq_topk"] = ivfpq_sql(2)
    o["s11_ivfpq_from_index"] = ivfpq_sql(2)
    o["s12_ivfpq_residual"] = ivfpq_residual_sql(2)
    o["t21_normalize_text"] = NORMALIZE_SQL
    o["t22_vocab_stats"] = VOCAB_STATS_SQL
    o["d10_line_dedup"] = LINE_DEDUP_SQL
    o["t23_collapse_lines"] = COLLAPSE_LINES_SQL
    o["q63_epoch_plan"] = EPOCH_PLAN_SQL
    o["t24_decontamination"] = DECONTAM_SQL
    o["q64_gate_metrics"] = GATE_METRICS_SQL
    o["q65_materialize_mixture"] = MATERIALIZE_SQL
    o["t25_chunk_text"] = CHUNK_TEXT_SQL
    o["t26_strip_html"] = strip_html_sql("documents")

    # --- round-9 rotation: the oracle strings proven value-equal in
    # tests/test_oracle_drafts_r9.py, wired verbatim (the module-level
    # generators above ARE the proven drafts — the drafts file imports
    # them back, so there is exactly one copy of each derivation) ---
    o["m03_audio_fp_neardup"] = audio_fp_neardup_sql()
    o["m04_video_frame_neardup"] = video_frame_neardup_sql()
    o["d11_source_dup_profile"] = source_dup_profile_sql()
    o["d12_containment"] = containment_sql(0.8, DD.DEFAULT_CONTAINMENT_MAX_DF)
    o["d13_cross_source_overlap"] = cross_source_overlap_sql()
    o["d14_containment_dedup"] = containment_dedup_sql(
        max_df=DD.DEFAULT_CONTAINMENT_MAX_DF
    )
    o["s13_cell_balance"] = cell_balance_sql()
    o["s14_ivfpq_rerank"] = ivfpq_rerank_sql(nprobe=2, shortlist=20, k=5)
    # the persisted form replays s14's oracle EXACTLY (the s10/s11
    # value-identity pattern: index round-trip changes no value)
    o["s15_ivfpq_rerank_from_index"] = o["s14_ivfpq_rerank"]
    o["t27_tokenizer_fertility"] = tokenizer_fertility_sql(BPE_MERGES)
    o["t28_corpus_divergence"] = corpus_divergence_sql()
    o["t29_vocab_growth"] = vocab_growth_sql()
    o["q66_length_outliers"] = length_outliers_sql()
    o["q67_event_funnel"] = event_funnel_sql()
    o["q68_holdout_split"] = holdout_split_sql()
    o["q69_shard_balance"] = shard_balance_sql(16)
    o["q70_cohort_retention"] = cohort_retention_sql()

    # --- round-10 rotation: the oracle strings proven value-equal in
    # tests/test_oracle_drafts_r10.py, wired verbatim (the module-level
    # generators above ARE the proven drafts — the drafts file imports
    # them back, so there is exactly one copy of each derivation) ---
    o["s16_range_search"] = range_search_sql(0.2, 2)
    o["s17_cell_inertia"] = cell_inertia_sql()
    o["s18_pq_code_histogram"] = pq_code_histogram_sql()
    o["s19_embedding_stats"] = embedding_stats_sql()
    # the persisted-layout profile replays s13's oracle EXACTLY (the
    # s10/s11 value-identity pattern: the index write changes no
    # occupancy number)
    o["s20_cell_balance_from_index"] = cell_balance_sql(8)
    # grow == rebuild row-identically under the frozen stored quantizer
    # (ids 0..7 — the seeds — sit in the first half), so the grown
    # index's serving oracle is the s04 string verbatim
    o["s21_ivf_append"] = o["s04_ann_ivf_nprobe"]
    o["t30_char_coverage"] = char_coverage_sql()
    o["t31_ngram_novelty"] = ngram_novelty_sql()
    o["t32_top_ngrams"] = top_ngrams_sql()
    o["q72_gate_mixture_drift"] = gate_mixture_drift_sql()
    o["q73_cluster_size_profile"] = cluster_size_profile_sql(
        o["q34_dedup_clusters"]
    )
    o["q74_percentile_tolerance"] = percentile_tolerance_sql()
    o["q75_session_funnel"] = session_funnel_sql(tuple(FUNNEL_STEPS))
    o["q76_event_rate_anomaly"] = event_rate_anomaly_sql()
    o["q77_lang_source_profile"] = lang_source_profile_sql()
    # the streaming decomposition's batch replay reproduces q70 exactly
    o["q78_cohort_via_state"] = cohort_retention_sql()
    o["q79_dirty_shards"] = dirty_shards_sql(8)
    o["m05_manifest_stats"] = manifest_stats_sql(o["m01_multimodal_features"])

    # --- round-11 rotation: the oracle strings proven value-equal in
    # tests/test_oracle_drafts_r11.py, wired verbatim (the module-level
    # generators above ARE the proven drafts — the drafts file imports
    # them back, so there is exactly one copy of each derivation) ---
    # deletion == fresh rebuild over the survivors, so the oracle is the
    # serving chain with the survivor predicate in its corpus CTE
    o["s22_ivf_delete"] = ivf_delete_sql(o["s04_ann_ivf_nprobe"])
    # compaction and append are value-invariant under the frozen stored
    # quantizers (same rows, same cells) — the s21 identity pattern
    o["s23_ivf_compact"] = o["s04_ann_ivf_nprobe"]
    o["s24_ivfpq_delete"] = ivfpq_delete_sql(o["s10_ivfpq_topk"])
    o["s25_ivfpq_append"] = o["s10_ivfpq_topk"]
    o["s26_ivfpq_compact"] = o["s10_ivfpq_topk"]
    o["s27_cluster_balanced_sample"] = cluster_balanced_sample_sql()
    o["d15_minhash_estimate"] = minhash_estimate_sql()
    o["d16_minhash_estimate_vs_exact"] = minhash_estimate_vs_exact_sql()
    o["d17_quality_canonical"] = quality_canonical_sql(
        o["q34_dedup_clusters"], o["t02_quality"]
    )
    o["t33_token_entropy"] = token_entropy_sql()
    o["q80_incremental_pipeline"] = incremental_pipeline_sql(8)
    o["q82_mixture_rebalance"] = mixture_rebalance_sql()
    o["q84_dirty_shards_assigned"] = dirty_shards_assigned_sql(100)
    # the streaming decomposition's batch replay reproduces q75 exactly
    # (the q78/q70 identity pattern)
    o["q85_session_funnel_state"] = o["q75_session_funnel"]

    # --- round-12 rotation: the oracle strings proven value-equal in
    # tests/test_oracle_drafts_r12.py, wired verbatim (the module-level
    # generators above ARE the proven drafts — the drafts file imports
    # them back, so there is exactly one copy of each derivation) ---
    o["q86_resharding_plan"] = resharding_plan_sql(100, 500)
    o["d18_lsh_parameter_table"] = lsh_parameter_table_sql()
    o["t34_code_prose_profile"] = code_prose_profile_sql()
    o["q88_source_dup_rate"] = source_dup_rate_sql(o["q34_dedup_clusters"])
    o["d19_incremental_neardup"] = incremental_neardup_sql()
    o["s28_quantizer_drift"] = quantizer_drift_sql()
    # fresh-index identity: the stored assignment equals the ranked
    # assignment, so the persisted form replays s28's oracle EXACTLY
    # (the s20/s29 value-identity pattern)
    o["s29_quantizer_drift_from_index"] = o["s28_quantizer_drift"]
    o["q90_curriculum_order"] = curriculum_order_sql(o["t02_quality"])
    o["q91_stage_mixture"] = stage_mixture_sql(o["q90_curriculum_order"])
    o["m06_payload_size_profile"] = payload_size_profile_sql(
        o["m01_multimodal_features"]
    )
    o["d20_shingle_df_profile"] = shingle_df_profile_sql()
    o["q93_contamination_profile"] = contamination_profile_sql(
        o["t10_contamination"]
    )
    o["t36_langid_margin"] = langid_margin_sql()
    o["q94_verify_shards"] = verify_shards_sql(8)
    o["q95_source_relative_curriculum"] = source_relative_curriculum_sql(
        o["t02_quality"]
    )
    o["t37_heavy_hitters"] = heavy_hitters_sql(100)
    o["q97_snapshot_diff"] = snapshot_diff_sql()
    o["q98_gate_overlap"] = gate_overlap_sql(o["t16_gopher_filter"])
    o["s30_knn_graph"] = knn_graph_sql(5, 8)
    # fresh-index identity again: stored cells + stored centroids
    # replay the live graph verbatim (the s29/s20 pattern)
    o["s31_knn_graph_from_index"] = o["s30_knn_graph"]
    # the streaming monitor's batch replay reproduces t37 exactly (MG
    # candidate superset + exact recount — the q85/q75 identity)
    o["q99_heavy_hitter_state"] = o["t37_heavy_hitters"]
    # a store built from the resident corpus serves signatures
    # identical to recomputing them fresh, so the persisted form
    # replays the d19 oracle verbatim (the s31 identity applied to the
    # dedup artifact; proven in tests/test_oracle_drafts_r13.py)
    o["d23_neardup_from_store"] = o["d19_incremental_neardup"]

    # ---- round-13 rotation ------------------------------------------------
    # star contraction's output is IDENTICAL to min-label propagation's
    # (cluster_id = smallest reachable id), so the wired q34 string
    # serves it verbatim — the s29/s31 identity pattern
    o["d22_clusters_star"] = o["q34_dedup_clusters"]
    o["t39_line_lang_profile"] = line_lang_profile_sql()
    o["t40_line_repetition"] = line_repetition_sql()
    o["t41_ngram_coverage"] = ngram_coverage_sql()
    # nests BOTH wired strings (t02 score, t16 keep) — the d17 pattern
    o["q100_score_gate_calibration"] = score_gate_calibration_sql(
        o["t02_quality"], o["t16_gopher_filter"]
    )
    o["s32_mutual_knn_clusters"] = mutual_knn_clusters_sql(5, 8)
    o["t42_pii_incidence"] = pii_incidence_sql()
    o["t43_winnowing"] = winnowing_sql()
    o["d24_threshold_sweep"] = threshold_sweep_sql()
    o["q101_shard_skew"] = shard_skew_sql(16)
    # nests the wired t43 winnowing string (one copy of the selection)
    o["d25_winnowing_overlap"] = winnowing_overlap_sql(o["t43_winnowing"])
    # chain surgery over the ONE wired copy of the q34 cluster chain
    o["d26_cluster_purity"] = cluster_purity_sql(o["q34_dedup_clusters"])
    # fresh-index identity: stored assignment == ranked assignment, so
    # recall off the persisted index replays the s05 oracle verbatim
    o["s33_recall_from_index"] = o["s05_ann_recall"]
    # the streaming ingest loop's batch replay: the unrolled per-stage
    # d19 derivation (store grown by each stage's survivors)
    o["q102_sigstore_ingest"] = sigstore_replay_sql()

    # --- round-14 rotation: the proven r14 drafts verbatim ---
    # winnowing consumers nest the wired t43 string at the SAME
    # max_df=100 cap the Spark side runs (the winnow-ladder knee)
    o["d27_winnowing_dedup"] = winnowing_dedup_sql(o["t43_winnowing"], max_df=100)
    o["d28_winnowing_contamination"] = winnowing_contamination_sql(
        o["t43_winnowing"], max_df=100
    )
    o["d29_incremental_winnowing"] = incremental_winnowing_sql(o["t43_winnowing"])
    o["d30_threshold_sweep_vs_exact"] = threshold_sweep_vs_exact_sql()
    o["s34_ivfpq_recall_from_index"] = pq_recall_sql(2, 5)
    o["s35_knn_rank_profile"] = knn_rank_profile_sql(5, 8)
    o["s36_topk_regret"] = topk_regret_sql(2, 5)
    o["s37_nprobe_sweep"] = nprobe_sweep_sql(5, 8)
    o["q103_sigstore_metrics"] = sigstore_metrics_sql()
    o["q104_corpus_health"] = corpus_health_sql(
        o["t02_quality"], o["t16_gopher_filter"]
    )
    o["q105_curriculum_token_budget"] = curriculum_token_budget_sql(o["t02_quality"])
    o["q106_copy_audit_profile"] = copy_audit_profile_sql(
        o["t43_winnowing"], max_df=100
    )
    o["m07_multimodal_dup_rates"] = neardup_rate_sql(
        o["m02_image_phash_neardup"],
        o["m03_audio_fp_neardup"],
        o["m04_video_frame_neardup"],
    )
    o["t44_winnowing_params"] = winnowing_parameter_table_sql()

    return o
