"""TagEngine: the end-to-end lifecycle facade (SURVEY.md section 3).

Maps the reference's three entry points onto driver-side orchestration
of DataFrame plans:

* config authoring (POST /create_<type>_config, main.py:2121-2179) ->
  ``create_config`` with template validation and dedup-by-hash
  deactivation of prior configs (P11, TagEngineStoreHandler.py:370-391);
* job trigger (POST /trigger_job -> /_split_work -> /_run_task,
  main.py:2930-3656) -> ``trigger_job``: one job path for all nine
  config types. ``_RUNNERS`` maps each type to its runner,
  ``(cfg, assets, job_uuid, errors, **kw) -> int``, which returns the
  job's count (history events for a tagging type, non-empty report
  grains for TAG_EXPORT, entries discovered for ENTRY_CREATE) and
  appends per-task failures to ``errors``. Every tagging runner ends in
  ``_apply`` (coerce, MERGE into the tag store, append history), and
  trigger_job writes the job's one ledger row. The shard/task fan-out
  collapses into Spark's own scheduling (SURVEY R3);
* cron refresh (POST /scheduled_auto_updates, main.py:3075-3110) ->
  ``run_ready_configs``: the ready-config predicate (P10,
  TagEngineStoreHandler.py:1374-1392) + version bump and
  next_run += frequency (:290-309).

Dynamic-tag jobs run one of two executors (operators/dynamic.py),
picked from the config's shape, never its asset count: a config naming
an ``inventory_view`` runs the fused single-leaf plan as one job; every
other one runs per asset, recording a failing asset in ``job_errors``.

Config metadata is driver-side (it is Firestore-document sized); all
data-shaped state (tags, history, reports) lives in DataFrames.
"""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model.schemas import ASSETS_SCHEMA, FIELD_TYPES, TAG_HISTORY_SCHEMA
from .session import local_df
from .operators import dynamic as DYN
from .operators import uri as URI
from .operators.glossary import glossary_tag_rows
from .operators.importer import melt_to_tag_rows, read_tag_csv
from .operators.backup import read_backup, restore_tag_rows
from .operators.substitution import parse_query_expression
from .store.historylog import HistoryLog
from .store.tagstore import TagStore, commit_dir, recover_dir

_REFRESH_UNITS = {"minutes": 60, "hours": 3600, "days": 86400}

# config types whose jobs always replay their full input — the
# incremental (changed-assets-only) flag has no meaning for them
_NON_INCREMENTAL_TYPES = ("TAG_EXPORT", "ENTRY_CREATE", "TAG_IMPORT", "TAG_RESTORE")

# config types that produce side effects (reports/entries) instead of
# tag-row merges; no template required at create time
_SIDE_EFFECT_TYPES = ("TAG_EXPORT", "ENTRY_CREATE")

# the 9 reference config types (ConfigType.py:4-12) and the TagEngine
# method that runs each one's job; validated at create time like the
# reference's check_config_type (main.py)
_RUNNERS = {
    "DYNAMIC_TAG_TABLE": "_run_dynamic_table",
    "DYNAMIC_TAG_COLUMN": "_run_dynamic_column",
    "STATIC_TAG_ASSET": "_run_static",
    "GLOSSARY_TAG_ASSET": "_run_glossary",
    "SENSITIVE_TAG_COLUMN": "_run_sensitive",
    "TAG_IMPORT": "_run_import",
    "TAG_RESTORE": "_run_restore",
    "TAG_EXPORT": "_run_export",
    "ENTRY_CREATE": "_run_entries",
}
_CONFIG_TYPES = tuple(_RUNNERS)


def _reject_repeated_field_ids(fields: list[dict]) -> None:
    """A tag key holds one value per field: a repeated id would write two rows."""
    ids = [f["field_id"] for f in fields]
    if repeated := [fid for fid in ids if ids.count(fid) > 1]:
        raise ValueError(f"field {repeated[0]!r} given twice")


class TagEngine:
    # the history log's compaction cadence: after this many appends its
    # small files are merged into one (store/historylog.py)
    HISTORY_SPILL_EVERY = 32

    def __init__(
        self,
        spark: SparkSession,
        tags_path: str | None = None,
        qualify=None,
        history_spill_every: int | None = None,
    ):
        self.spark = spark
        self.templates: dict[str, list[dict]] = {}
        self.configs: dict[str, dict] = {}
        self.jobs: list[dict] = []
        # per-task failures of the jobs that had some, by job_uuid
        self.job_errors: dict[str, list] = {}
        self.store = TagStore(spark, path=tags_path)
        self._job_metadata: list[dict] = []
        # the create_entries inventory as driver rows by asset_uri, and
        # its frame
        self._entries: dict[str, dict] = {}
        self.assets: DataFrame | None = None
        # the history log lives beside the tag state, so an engine
        # reopened on tags_path sees every earlier event; without one it
        # goes to a temp directory, removed with the engine
        self._history_log = HistoryLog(
            spark,
            f"{tags_path}.history" if tags_path else None,
            history_spill_every if history_spill_every is not None else self.HISTORY_SPILL_EVERY,
        )
        # the history a load_state snapshot carried, read under the log
        self._history_snapshot: DataFrame | None = None
        self._seq = 0
        self.qualify = qualify or (lambda p, d, t: t)
        # keyed settings documents, mirroring the reference's
        # settings collection (TagEngineStoreHandler.py:50-200:
        # per-user defaults, tag_history, job_metadata,
        # coverage_report). tag_history defaults ENABLED here — the
        # engine's history table doubles as its audit log, and every
        # history-consuming query assumes it is on; the reference
        # default (off until configured) is one set_ call away.
        self.settings: dict[str, dict] = {"tag_history": {"enabled": True}}

    # -- templates ---------------------------------------------------------

    def create_template(self, template_id: str, fields: list[dict]) -> None:
        """fields: [{field_id, field_type[, enum_values][, order]}]."""
        for f in fields:
            if f["field_type"] not in FIELD_TYPES:
                raise ValueError(f"unknown field_type {f['field_type']!r}")
        self.templates[template_id] = fields

    def template_fields_df(self, template_id: str) -> DataFrame:
        rows = [
            {
                "template_id": template_id,
                "field_id": f["field_id"],
                "display_name": f.get("display_name"),
                "field_type": f["field_type"],
                "is_required": f.get("is_required", False),
                "order": f.get("order", i),
                "enum_values": f.get("enum_values"),
            }
            for i, f in enumerate(self.templates[template_id])
        ]
        from .model.schemas import TEMPLATES_SCHEMA

        return local_df(self.spark, rows, TEMPLATES_SCHEMA)

    # -- configs -----------------------------------------------------------

    def _uuid(self, kind: str) -> str:
        self._seq += 1
        return f"{kind}-{self._seq:06d}"

    def create_config(self, config_type: str, template_id: str, **kw) -> str:
        """Validate against the template and persist; a new config with
        the same (type, template, included_uris) hash deactivates the
        prior one (P11 dedup-by-hash)."""
        # TAG_EXPORT carries no template in the reference either (its
        # export config stores only target coordinates, main.py:3621);
        # ENTRY_CREATE may tag the created entries, so a template is
        # allowed but not required.
        if config_type not in _CONFIG_TYPES:
            raise ValueError(
                f"unknown config_type {config_type!r}; choose one of {_CONFIG_TYPES}"
            )
        if config_type == "TAG_EXPORT" and not kw.get("target_path"):
            raise ValueError("TAG_EXPORT config requires target_path")
        if config_type == "ENTRY_CREATE" and not kw.get("directory"):
            raise ValueError("ENTRY_CREATE config requires directory")
        if template_id is None:
            if config_type not in _SIDE_EFFECT_TYPES:
                raise ValueError(f"{config_type} config requires a template_id")
            tfields = {}
        elif template_id not in self.templates:
            raise ValueError(f"unknown template {template_id!r}")
        else:
            tfields = {f["field_id"]: f for f in self.templates[template_id]}
        _reject_repeated_field_ids(kw.get("fields", []))
        for f in kw.get("fields", []):
            if f["field_id"] not in tfields:
                raise ValueError(f"field {f['field_id']!r} not in template {template_id!r}")
            tf = tfields[f["field_id"]]
            f.setdefault("field_type", tf["field_type"])
            if tf["field_type"] == "enum" and f.get("field_value") is not None:
                if f["field_value"] not in (tf.get("enum_values") or []):
                    raise ValueError(
                        f"enum value {f['field_value']!r} not in {tf.get('enum_values')}"
                    )

        # tagging types keep the original 3-part hash so configs
        # persisted by earlier builds still dedup against new ones;
        # only the side-effect types (which older builds could not
        # persist) extend the key with their target coordinates
        hash_src = f"{config_type}|{template_id}|{kw.get('included_uris', '')}"
        if config_type in _SIDE_EFFECT_TYPES:
            hash_src += f"|{kw.get('target_path', '')}|{kw.get('directory', '')}"
        uris_hash = hashlib.md5(hash_src.encode()).hexdigest()
        for cfg in self.configs.values():
            if cfg["uris_hash"] == uris_hash and cfg["config_status"] == "ACTIVE":
                cfg["config_status"] = "INACTIVE"

        uuid = self._uuid("cfg")
        self.configs[uuid] = {
            "config_uuid": uuid,
            "config_type": config_type,
            "config_status": "ACTIVE",
            "template_id": template_id,
            "uris_hash": uris_hash,
            "scheduling_status": "READY",
            "version": 1,
            "next_run": kw.get("next_run"),
            **kw,
        }
        return uuid

    def lookup_config_by_uris(self, template_id: str, included_uris: str) -> dict | None:
        """Trigger-by-URI lookup (J8, TagEngineStoreHandler.py:1395-1428)."""
        for cfg in self.configs.values():
            if (
                cfg["template_id"] == template_id
                and cfg.get("included_uris") == included_uris
                and cfg["config_status"] == "ACTIVE"
            ):
                return cfg
        return None

    # -- job execution -----------------------------------------------------

    def _record_job(
        self,
        job_uuid: str,
        config_uuid: str,
        config_type: str,
        started: datetime.datetime,
        *,
        status: str,
        task_count: int = 0,
        tasks_success: int = 0,
        tasks_failed: int = 0,
        errors: list | None = None,
    ) -> None:
        """Append one job-ledger row (the single definition of the row
        shape — save_state serializes these, jobs_df reads them) and
        stash per-task errors when present."""
        self.jobs.append(
            {
                "job_uuid": job_uuid,
                "config_uuid": config_uuid,
                "config_type": config_type,
                "job_status": status,
                "task_count": task_count,
                "tasks_ran": task_count,
                "tasks_success": tasks_success,
                "tasks_failed": tasks_failed,
                "creation_time": started,
                "completion_time": datetime.datetime.now(datetime.timezone.utc),
            }
        )
        if errors:
            self.job_errors[job_uuid] = errors

    def trigger_job(self, config_uuid: str, assets: DataFrame | None = None, **kw) -> str:
        cfg = self.configs[config_uuid]
        if cfg["config_status"] != "ACTIVE":
            raise ValueError(f"config {config_uuid} is not active")
        incremental = kw.pop("incremental", False)
        if incremental:
            # loud-failure policy, uniformly: a silently-ignored flag
            # would misreport what ran. Side-effect jobs rebuild their
            # full report/entry set; imports/restores replay their full
            # file; and an asset-scoped refresh needs an asset catalog.
            if cfg["config_type"] in _NON_INCREMENTAL_TYPES:
                raise ValueError(
                    f"incremental refresh is not applicable to {cfg['config_type']} configs"
                )
            if assets is None:
                raise ValueError("incremental refresh requires an asset catalog")
            # refresh only assets whose data changed since their last tag
            # (operators/incremental) — scheduled-job cost tracks change
            # rate, not catalog size
            from .operators.incremental import stale_assets

            assets = stale_assets(assets, self.store.all(), cfg["template_id"])
        job_uuid = self._uuid("job")
        started = datetime.datetime.now(datetime.timezone.utc)
        # caller-supplied workflow metadata records at job CREATION like
        # the reference (main.py:2999-3017), independent of the job's
        # outcome, gated on the job_metadata settings doc
        self._record_job_metadata(job_uuid, kw.pop("job_metadata", None), started)
        # all 9 reference config types route through the job machinery
        # (ConfigType.py:4-12, main.py:3597-3628): exports and entry
        # syncs get the job ledger and the scheduled-refresh treatment
        # like every tagging type
        runner = _RUNNERS.get(cfg["config_type"])
        if runner is None:
            raise ValueError(f"unsupported config_type {cfg['config_type']!r}")
        errors: list[tuple[str, str]] = []
        try:
            n = getattr(self, runner)(cfg, assets, job_uuid, errors, **kw)
        except Exception as ex:
            # the ledger keeps the task failures recorded before the raise;
            # it counts them and the raise as the failed units of work
            errors.append(("job", f"{type(ex).__name__}: {ex}"))
            self._record_job(
                job_uuid, config_uuid, cfg["config_type"], started,
                status="ERROR", task_count=len(errors), tasks_failed=len(errors), errors=errors,
            )
            raise
        self._record_job(
            job_uuid, config_uuid, cfg["config_type"], started,
            status="ERROR" if errors else "SUCCESS", task_count=n + len(errors),
            tasks_success=n, tasks_failed=len(errors), errors=errors,
        )
        cfg["scheduling_status"] = "READY"
        return job_uuid

    def _matched(self, cfg: dict, assets: DataFrame) -> DataFrame:
        return URI.expand_included_excluded(assets, cfg["included_uris"], cfg.get("excluded_uris"))

    def _apply(self, cfg: dict, raw: DataFrame, job_uuid: str, bool_mode: str = "query") -> int:
        """The end of every tagging job: coerce its raw long rows, MERGE
        them into the tag store and append the history events; returns
        the event count."""
        tags = DYN.coerce_long_rows(raw, bool_mode=bool_mode).withColumn("job_uuid", F.lit(job_uuid))
        events = self.store.merge(tags, overwrite=cfg.get("overwrite", True))
        return self._append_history(events, job_uuid)

    def _run_dynamic_table(self, cfg, assets, job_uuid, errors, **kw):
        """Fused over the config's ``inventory_view`` when it names one;
        otherwise per asset, whatever the asset count."""
        # scale form: cfg["inventory_view"] names a registered table/view
        # holding EVERY matched asset's rows with an asset_uri column
        # (one partitioned scan). The fused plan then has a single leaf
        # regardless of asset count — the shape that survives the
        # reference's 500k/1M-asset ladder — and asset matching is a
        # semi-join, never a driver-side uri collect.
        inv_view = cfg.get("inventory_view")
        if inv_view and not DYN.fusable(cfg["fields"]):
            # silently falling back to the per-asset uri-collect path
            # would reintroduce exactly the driver-side shape the
            # inventory form exists to avoid — fail loudly instead
            opaque = [f["field_id"] for f in cfg["fields"] if not DYN.fusable([f])]
            raise ValueError(
                f"inventory_view config requires fusable fields; not fusable: {opaque}"
            )
        matched = self._matched(cfg, assets).select("asset_uri")
        if inv_view:
            inv = self.spark.table(inv_view).join(matched, "asset_uri", "left_semi")
            raw = DYN.run_config_fused(self.spark, cfg["fields"], inv, cfg["template_id"])
        else:
            tasks = [(r["asset_uri"], None) for r in matched.collect()]
            rows = DYN.run_config_per_asset(
                self.spark, cfg["fields"], tasks, cfg["template_id"], self.qualify, errors=errors
            )
            raw = DYN.raw_rows_to_df(self.spark, rows)
        return self._apply(cfg, raw, job_uuid)

    def _run_dynamic_column(self, cfg, assets, job_uuid, errors, **kw):
        """One per-asset run over every discovered (asset, column) pair,
        one statement each. One aggregation pass over all columns was
        measured slower on count-distinct profiles (the multi-distinct
        Expand multiplies scan rows by #aggregates; see SCALE.md). A
        failing column discovery or evaluation is recorded in the job's
        errors; the other tasks proceed."""
        matched = self._matched(cfg, assets)
        uris = [r["asset_uri"] for r in matched.select("asset_uri").collect()]
        discovered = self._discover_columns(cfg, matched, uris, errors)
        tasks = [(uri, col) for uri, columns in discovered.items() for col in columns]
        rows = DYN.run_config_per_asset(
            self.spark, cfg["fields"], tasks, cfg["template_id"], self.qualify, errors=errors
        )
        return self._apply(cfg, DYN.raw_rows_to_df(self.spark, rows), job_uuid)

    def _discover_columns(
        self, cfg: dict, matched: DataFrame, uris: list[str], errors: list | None = None
    ) -> dict[str, list[str]]:
        """uri -> ordered column list from ``included_columns_query``.

        Single-pass where the query shape allows it:

        - ``schema`` (SELECT column_name over INFORMATION_SCHEMA.COLUMNS
          — the reference's own example configs): ONE distributed plan
          over the matched inventory's ``schema`` column covers every
          asset; zero per-asset Spark jobs. The collect back is
          dimension-sized (one row per matched asset), the same shape
          the execution loop already iterates.
        - ``constant`` (no substitution variables): asset-independent —
          evaluated once, shared by every asset.
        - ``opaque``: arbitrary per-asset user SQL, run through
          ``DYN.run_tasks`` with the reference's per-asset semantics (the
          measured fallback). An asset whose query fails is left out and
          recorded in ``errors`` (raised when ``errors`` is None).

        Every regime reads ALL rows x cells of the query result —
        reference DataCatalogController.py:380-384 (a first-row-only
        read would see one column of a one-column-per-row query).
        """
        query = cfg["included_columns_query"]
        kind = DYN.classify_columns_query(query)
        if kind == "schema":
            pairs = (
                DYN.discover_columns_schema(matched, query)
                .groupBy("asset_uri")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "column"))),
                        lambda s: s["column"],
                    ).alias("cols")
                )
                .collect()
            )
            found = {r["asset_uri"]: list(r["cols"]) for r in pairs}
            return {u: found.get(u, []) for u in uris}
        if kind == "constant":
            cols = [
                c for row in self.spark.sql(query).collect() for c in row if c
            ]
            return {u: list(cols) for u in uris}

        def discover(uri, _column):
            rows = self.spark.sql(parse_query_expression(uri, query, None, self.qualify)).collect()
            return [c for row in rows for c in row if c]

        found = DYN.run_tasks(discover, [(uri, None) for uri in uris], errors)
        return {uri: cols for uri, cols in zip(uris, found) if cols is not None}

    def _run_static(self, cfg, assets, job_uuid, errors, **kw):
        return self._apply(cfg, self._static_rows(cfg, assets), job_uuid)

    def _static_rows(self, cfg: dict, assets: DataFrame) -> DataFrame:
        """Static tags = matched assets x config fields, entirely as a
        plan: the matched-URI DataFrame crossJoins a broadcast fields
        table (always dimension-sized: one row per template field).
        Nothing is collected to the driver, so the reference's flagship
        static load shape (1M assets x 7 fields,
        examples/load/configs/static_asset_1m.json:31) is a single
        distributed 7M-row job instead of 7M driver-side dicts through
        createDataFrame."""
        matched = self._matched(cfg, assets).select("asset_uri")
        fields_df = local_df(
            self.spark,
            [
                (
                    cfg["template_id"],
                    f["field_id"],
                    f["field_type"],
                    None if f.get("field_value") is None else str(f["field_value"]),
                )
                for f in cfg["fields"]
            ],
            "template_id string, field_id string, field_type string, raw_value string",
        )
        return matched.crossJoin(F.broadcast(fields_df)).select(
            "asset_uri",
            F.lit(None).cast("string").alias("column"),
            "template_id",
            "field_id",
            "field_type",
            "raw_value",
        )

    def _run_glossary(self, cfg, assets, job_uuid, errors, **kw):
        raw = glossary_tag_rows(self._matched(cfg, assets), kw["mapping"], cfg["template_id"])
        return self._apply(cfg, raw, job_uuid, bool_mode="csv")

    def _run_sensitive(self, cfg, assets, job_uuid, errors, **kw):
        """Sensitive-column classification over ALL matched assets in one
        pass (reference runs three generated statements per asset,
        DataCatalogController.py:873-984). Emits per-column tags:
        sensitive_field bool + sensitive_type string with the notable
        infotype. Assets classified Public_Information are skipped
        (reference :998)."""
        from .operators import sensitive as SEN

        findings = kw["findings"]  # (asset_uri, field, infotype)
        selection = kw["selection"]
        classification = kw["classification"]

        matched = self._matched(cfg, assets).select("asset_uri")
        findings = findings.join(F.broadcast(matched), "asset_uri", "left_semi")

        per_field = SEN.field_infotypes(findings, keys=["asset_uri", "field"])
        # the notable-infotype table feeds three consumers (tag rows,
        # policy-tag requests, the classification rollup) — cache it so
        # the containment join + min-by derivation runs once per job,
        # not once per consumer. Sized per tagged COLUMN, orders of
        # magnitude below the scanned data at any scale. The job releases
        # both caches once its merge and history append have read them;
        # the policy-tag requests recompute from lineage when read later.
        notables = SEN.select_notable_infotype(
            per_field, selection, keys=["asset_uri", "field"]
        ).cache()

        # per-asset classification; Public_Information assets drop.
        # Consumed by both the keep-filter and the policy requests.
        classed = SEN.classify_table(notables, classification, keys=["asset_uri"]).cache()
        cached = (notables, classed)  # notables is reassigned below
        try:
            keep = classed.filter(F.col("classification_result") != "Public_Information")

            # policy-tag application (reference :1038-1042 gate, :1064-1097
            # schema update): stash the requests; callers materialize the
            # schema rewrite with apply_policy_tags(assets).
            if cfg.get("create_policy_tags") and kw.get("taxonomy") is not None:
                self.last_policy_tag_requests = SEN.policy_tag_requests(
                    notables, classed, kw["taxonomy"]
                )

            notables = notables.join(F.broadcast(keep.select("asset_uri")), "asset_uri", "left_semi")

            flag_rows = notables.select(
                "asset_uri",
                F.col("field").alias("column"),
                F.lit(cfg["template_id"]).alias("template_id"),
                F.lit("sensitive_field").alias("field_id"),
                F.lit("bool").alias("field_type"),
                F.lit("TRUE").alias("raw_value"),
            )
            type_rows = notables.select(
                "asset_uri",
                F.col("field").alias("column"),
                F.lit(cfg["template_id"]).alias("template_id"),
                F.lit("sensitive_type").alias("field_id"),
                F.lit("string").alias("field_type"),
                F.col("notable_infotype").alias("raw_value"),
            )
            return self._apply(cfg, flag_rows.unionByName(type_rows), job_uuid)
        finally:
            for df in cached:
                df.unpersist()

    def apply_policy_tags(self, assets: DataFrame) -> DataFrame:
        """Materialize the schema rewrite for the last sensitive job run
        with create_policy_tags=True (reference apply_policy_tags,
        DataCatalogController.py:1064-1097)."""
        from .operators import sensitive as SEN

        if getattr(self, "last_policy_tag_requests", None) is None:
            return assets
        return SEN.apply_policy_tags(assets, self.last_policy_tag_requests)

    def _run_import(self, cfg, assets, job_uuid, errors, **kw):
        csv_df = kw.get("csv_df")
        if csv_df is None:
            csv_df = read_tag_csv(self.spark, cfg["csv_path"])
        raw = melt_to_tag_rows(
            csv_df, self.template_fields_df(cfg["template_id"]), cfg["template_id"]
        )
        return self._apply(cfg, raw, job_uuid, bool_mode="csv")

    def _run_restore(self, cfg, assets, job_uuid, errors, **kw):
        backup = kw.get("backup_df")
        if backup is None:
            backup = read_backup(self.spark, cfg["backup_path"])
        raw = restore_tag_rows(backup, cfg["template_id"], cfg["project_id"])
        return self._apply(cfg, raw, job_uuid, bool_mode="csv")

    def _run_export(self, cfg, assets, job_uuid, errors, **kw):
        counts = self.export_reports(cfg["target_path"], truncate=cfg.get("truncate", False))
        return sum(1 for c in counts.values() if c)

    def _run_entries(self, cfg, assets, job_uuid, errors, **kw):
        return self._add_entries(
            cfg["directory"], cfg.get("entry_project", "local"), cfg.get("entry_dataset")
        )

    # -- synchronous tag operations (no job machinery, like the
    # reference's /copy_tags and /update_tag_subset routes) -----------------

    def copy_tags(self, source_uri: str, target_uri: str, overwrite: bool = True) -> int:
        """J7 (reference DataCatalogController.py:1946-2056): re-key every
        tag of the source asset onto the target and MERGE."""
        src = self.store.all().filter(F.col("asset_uri") == source_uri)
        moved = src.withColumn("asset_uri", F.lit(target_uri))
        job_uuid = self._uuid("copy")
        events = self.store.merge(moved, overwrite=overwrite)
        return self._append_history(events, job_uuid)

    def update_tag_subset(self, template_id: str, asset_uri: str, column: str | None, raw_rows: list[dict]) -> int:
        """Overwrite-merge of a field subset (reference main.py:2868-2919
        -> DataCatalogController.py:2091-2178): only the named fields
        change, other fields of the tag survive."""
        _reject_repeated_field_ids(raw_rows)
        rows = [
            {
                "asset_uri": asset_uri,
                "column": column,
                "template_id": template_id,
                "field_id": r["field_id"],
                "field_type": r["field_type"],
                "raw_value": r.get("raw_value"),
            }
            for r in raw_rows
        ]
        tags = DYN.coerce_long_rows(DYN.raw_rows_to_df(self.spark, rows), bool_mode="csv")
        job_uuid = self._uuid("upd")
        events = self.store.merge(tags)
        return self._append_history(events, job_uuid)

    def create_entries(self, directory: str, project: str = "local", dataset: str | None = None) -> DataFrame:
        """S15 (reference apply_entry_config,
        DataCatalogController.py:498-674): discover files as catalog
        entries — one inventory row per file with footer schema — and
        keep them on the engine for subsequent config runs. Re-running
        replaces rows for the same asset_uri (idempotent)."""
        self._add_entries(directory, project, dataset)
        return self.assets

    def _add_entries(self, directory: str, project: str, dataset: str | None) -> int:
        """create_entries' work; returns this run's discovery count, the
        ENTRY_CREATE job's count (the cumulative inventory would
        overstate a job's work on every re-run)."""
        from .operators.discovery import discover_parquet_assets

        # the discovery frame is built from driver rows (a LocalRelation
        # up to local_df's cap), so collecting it runs no Spark job; an
        # inventory rebuilt from driver rows stays one flat relation
        # however many runs replaced its rows
        found = [
            r.asDict(recursive=True)
            for r in discover_parquet_assets(self.spark, directory, project, dataset).collect()
        ]
        self._entries.update((r["asset_uri"], r) for r in found)
        self.assets = local_df(self.spark, list(self._entries.values()), ASSETS_SCHEMA)
        return len(found)

    def export_reports(self, base_path: str, truncate: bool = False) -> dict[str, int]:
        """TAG_EXPORT (reference export path, BigQueryUtils.py:234-313):
        write the three report grains under base_path; returns row
        counts. When the job_metadata settings doc is enabled and rows
        exist, the job-metadata table (reference BigQueryUtils.py:
        504-521) exports alongside, day-partitioned on event_time's
        date like the reference table."""
        from .operators import export as EXP

        out = {}
        for name, df in [
            ("catalog_report_dataset_tags", EXP.export_dataset_tags(self.store.all())),
            ("catalog_report_table_tags", EXP.export_table_tags(self.store.all())),
            ("catalog_report_column_tags", EXP.export_column_tags(self.store.all())),
        ]:
            out[name] = df.count()
            if out[name]:
                EXP.write_report(df, f"{base_path}/{name}", truncate=truncate)
        if self.job_metadata_enabled() and self._job_metadata:
            md = self.job_metadata_df()
            out["job_metadata"] = md.count()
            # always a full overwrite: job_metadata_df() is the CUMULATIVE
            # dimension-sized list, and its rows carry no per-export stamp
            # (unlike the report tables' export_time) — an append would
            # duplicate every prior row on each re-export
            (
                md.withColumn("event_date", F.to_date("event_time"))
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(f"{base_path}/job_metadata")
            )
        return out

    # -- job metadata --------------------------------------------------------

    def job_metadata_enabled(self) -> bool:
        """Gate on job-metadata recording — OFF until configured, the
        reference default (ENABLE_JOB_METADATA in tagengine.ini,
        main.py:178-190; settings doc TagEngineStoreHandler.py:153-165)."""
        return bool(self.settings.get("job_metadata", {}).get("enabled"))

    def _record_job_metadata(self, job_uuid: str, metadata, event_time) -> None:
        """One (event_time, job_uuid, metadata JSON, tag_creator_sa,
        tag_invoker_sa) row per job that supplied metadata — reference
        write_job_metadata (BigQueryUtils.py:196-209, row schema
        :504-521). Non-dict metadata and disabled settings are ignored
        with the reference's warning semantics (main.py:3003-3009); the
        service accounts come from the settings doc (the engine has no
        auth layer — SURVEY scopes out F13/JWT)."""
        import json
        import warnings

        if metadata is None:
            return
        if not isinstance(metadata, dict):
            warnings.warn(f"job metadata ignored: {type(metadata).__name__} is not a dict")
            return
        if not self.job_metadata_enabled():
            warnings.warn("job metadata ignored: job_metadata settings doc not enabled")
            return
        try:
            encoded = json.dumps(metadata, sort_keys=True)
        except (TypeError, ValueError) as exc:
            # same warn-and-ignore contract as the non-dict case: bad
            # metadata must never kill the job it annotates (it would
            # raise BEFORE the dispatch try-blocks, so the job would die
            # with no ledger row at all)
            warnings.warn(f"job metadata ignored: not JSON-serializable ({exc})")
            return
        doc = self.settings.get("job_metadata", {})
        self._job_metadata.append(
            {
                "event_time": event_time,
                "job_uuid": job_uuid,
                "metadata": encoded,
                "tag_creator_sa": doc.get("tag_creator_sa", "local"),
                "tag_invoker_sa": doc.get("tag_invoker_sa", "local"),
            }
        )

    def job_metadata_df(self) -> DataFrame:
        """The job-metadata table in the reference's exact column order
        (BigQueryUtils.py:504-521); dimension-sized like the jobs
        ledger."""
        from .model.schemas import JOB_METADATA_SCHEMA

        return local_df(self.spark, self._job_metadata, JOB_METADATA_SCHEMA)

    # -- history / scheduling ----------------------------------------------

    def _append_history(self, events: DataFrame, job_uuid: str) -> int:
        """T2: every applied mutation appends an audit row; returns the
        event count. One driver-side timestamp per append (the
        reference stamps one event time per job). The events of a merge
        run on the driver are written from the driver, a bucket merge's
        with one Spark write."""
        rows = getattr(events, "_tag_engine_event_rows", None)
        if not self.tag_history_enabled():
            return len(rows) if rows is not None else events.count()
        now = datetime.datetime.now(datetime.timezone.utc)
        if rows is not None:
            return self._history_log.append_rows(rows, now, job_uuid)
        return self._history_log.append_df(events, now, job_uuid)

    def history(self) -> DataFrame:
        """The audit stream (TAG_HISTORY_SCHEMA): one parquet read of the
        history log, under the load_state snapshot's history when there
        is one. asset_name is the singularized reference form
        project/dataset/ds/table/t[/column/c] (BigQueryUtils.py:123-128);
        field_value renders the typed value."""
        from .model.coercion import render_tag_value

        log = self._history_log.read()
        if log is None:
            if self._history_snapshot is not None:
                return self._history_snapshot
            return local_df(self.spark, [], TAG_HISTORY_SCHEMA)
        singular = F.regexp_replace(
            F.regexp_replace(F.col("asset_uri"), "/datasets/", "/dataset/"),
            "/tables/",
            "/table/",
        )
        asset_name = F.when(
            F.col("column").isNotNull(), F.concat(singular, F.lit("/column/"), F.col("column"))
        ).otherwise(singular)
        rendered = log.select(
            F.col("event_time"),
            asset_name.alias("asset_name"),
            F.col("column"),
            F.col("template_id"),
            F.col("field_id"),
            render_tag_value(
                F.col("field_type"),
                F.col("field_value_string"),
                F.col("field_value_double"),
                F.col("field_value_bool"),
                F.col("field_value_ts"),
            ).alias("field_value"),
            F.col("action"),
            F.lit(None).cast("string").alias("tag_creator_account"),
            F.lit(None).cast("string").alias("tag_invoker_account"),
            F.col("job_uuid"),
            F.to_date("event_time").alias("event_date"),
        )
        if self._history_snapshot is None:
            return rendered
        return self._history_snapshot.unionByName(rendered)

    # -- persistence --------------------------------------------------------

    def save_state(self, base_path: str) -> None:
        """Persist the engine's full state: configs/templates/jobs as
        JSON (they are Firestore-document sized in the reference —
        TagEngineStoreHandler.py:366-1131), tags and history as parquet.

        save_state owns ``base_path``: tags/, history/ and meta.json are
        written into a sibling temp directory that replaces the whole
        of ``base_path`` in one swap (``commit_dir``). A snapshot
        therefore appears whole or not at all: a save cut short leaves
        the previous snapshot, or, on a first save, no directory."""
        import json
        import os
        import shutil
        import uuid

        def default(o):
            if isinstance(o, datetime.datetime):
                return {"__dt__": o.isoformat()}
            if isinstance(o, (set, frozenset)):
                # config kwargs may carry sets; order them for a
                # deterministic snapshot (they reload as lists)
                return sorted(o)
            raise TypeError(type(o))

        meta = {
            "templates": self.templates,
            "configs": self.configs,
            "jobs": self.jobs,
            "job_metadata": self._job_metadata,
            "seq": self._seq,
            "settings": self.settings,
        }
        base_path = os.path.normpath(base_path)
        tmp = f"{base_path}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            self.store.write(os.path.join(tmp, "tags"))
            self.history().write.parquet(os.path.join(tmp, "history"))
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f, default=default)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        commit_dir(tmp, base_path)

    @classmethod
    def load_state(cls, spark: SparkSession, base_path: str, qualify=None) -> "TagEngine":
        """An engine with the state ``save_state`` wrote to ``base_path``.
        Nothing it returns reads under ``base_path``: the snapshot's
        history, and a tag state too large to hold on the driver, are
        read from the engine's own file copies, so a later save_state
        to the same path (which replaces it) leaves the engine whole.
        The copies are removed when the engine is collected or the
        process exits."""
        import json
        import os
        import shutil
        import tempfile
        import weakref

        def hook(d):
            if "__dt__" in d:
                return datetime.datetime.fromisoformat(d["__dt__"])
            return d

        eng = cls(spark, qualify=qualify)
        recover_dir(os.path.normpath(base_path))
        with open(os.path.join(base_path, "meta.json")) as f:
            meta = json.load(f, object_hook=hook)
        eng.templates = meta["templates"]
        eng.configs = meta["configs"]
        eng.jobs = meta["jobs"]
        eng._job_metadata = meta.get("job_metadata", [])
        eng._seq = meta["seq"]
        # older snapshots predate the settings store: keep the
        # constructor default (tag_history enabled)
        eng.settings = meta.get("settings", eng.settings)
        own = tempfile.mkdtemp(prefix="tag_engine_snapshot_")
        # the copies go with the engine, or at exit
        weakref.finalize(eng, shutil.rmtree, own, True)
        copy = {
            name: shutil.copytree(os.path.join(base_path, name), os.path.join(own, name))
            for name in ("tags", "history")
        }
        # set_state keeps the store's driver-resident mirror in sync —
        # without it the next merge would take the empty-store fast path
        # and duplicate same-key tags
        eng.store.set_state(spark.read.parquet(copy["tags"]))
        if eng.store._rows is not None:
            # held on the driver: the copy is not read again
            shutil.rmtree(copy["tags"])
        eng._history_snapshot = spark.read.schema(TAG_HISTORY_SCHEMA).parquet(copy["history"])
        return eng

    def jobs_df(self) -> DataFrame:
        from .model.schemas import JOBS_SCHEMA

        return local_df(self.spark, self.jobs, JOBS_SCHEMA)

    def jobs_by_config(self, config_uuid: str) -> DataFrame:
        """O5 (reference TagEngineStoreHandler.py:1238-1247): one
        config's jobs, most recent completion first."""
        return (
            self.jobs_df()
            .filter(F.col("config_uuid") == config_uuid)
            .orderBy(F.desc("completion_time"))
        )

    def active_configs(self) -> list[dict]:
        """O5 (reference TagEngineStoreHandler.py:1345-1356): non-INACTIVE
        configs ordered by config_status desc (driver-side — config
        metadata is always driver-resident and tiny)."""
        return sorted(
            (c for c in self.configs.values() if c["config_status"] != "INACTIVE"),
            key=lambda c: c["config_status"],
            reverse=True,
        )

    def delete_config(self, config_uuid: str, config_type: str | None = None) -> bool:
        """Config hard-delete (reference TagEngineStoreHandler.py:
        1286-1314 via main.py:3235 /delete_config): False when the uuid
        does not exist or the supplied config_type does not match the
        stored one (the reference resolves the collection from the type,
        so a wrong type is a miss); True after removal. Job-ledger rows
        for past runs are kept — the reference deletes only the config
        document."""
        cfg = self.configs.get(config_uuid)
        if cfg is None or (config_type is not None and cfg["config_type"] != config_type):
            return False
        del self.configs[config_uuid]
        return True

    def purge_inactive_configs(self, config_type: str = "ALL") -> int:
        """Bulk-delete INACTIVE configs of one type, or every type for
        'ALL' (reference TagEngineStoreHandler.py:1317-1343 via
        main.py:3296 /purge_inactive_configs); returns the deleted
        count. Configs go INACTIVE when a newer config with the same
        (type, template, uris) hash supersedes them (P11), so this is
        the reference's cleanup for superseded-config buildup."""
        doomed = [
            uuid
            for uuid, c in self.configs.items()
            if c["config_status"] == "INACTIVE"
            and (config_type == "ALL" or c["config_type"] == config_type)
        ]
        for uuid in doomed:
            del self.configs[uuid]
        return len(doomed)

    # -- settings (reference settings collection) --------------------------

    def set_settings(self, doc: str, **values) -> None:
        """Write one settings document (reference doc_ref.set semantics:
        full replace, TagEngineStoreHandler.py:65-183). Documents:
        a user email (default template coordinates), 'tag_history',
        'job_metadata', 'coverage_report'. Values must persist through
        the JSON snapshot, so sets/tuples normalize to sorted lists at
        write time rather than failing later inside save_state; stored
        values are copies, detached from the caller's objects."""
        import copy

        self.settings[doc] = {
            k: sorted(copy.deepcopy(v))
            if isinstance(v, (set, frozenset))
            else copy.deepcopy(list(v))
            if isinstance(v, tuple)
            else copy.deepcopy(v)
            for k, v in values.items()
        }

    def get_settings(self, doc: str) -> tuple[bool, dict]:
        """(exists, settings) like the reference's read_* pairs
        (TagEngineStoreHandler.py:50-62). Returns a COPY — the
        reference's read is a document snapshot; mutating it must not
        edit engine state behind set_settings' full-replace contract."""
        import copy

        s = self.settings.get(doc)
        return (s is not None), copy.deepcopy(s) if s else {}

    def tag_history_enabled(self) -> bool:
        """Gate on history appends (reference read_tag_history_settings,
        TagEngineStoreHandler.py:79-93: enabled only when the settings
        doc exists and says so). Tagging itself never depends on it."""
        return bool(self.settings.get("tag_history", {}).get("enabled"))

    def coverage_report(self, assets: DataFrame) -> DataFrame:
        """Settings-driven coverage report (reference main.py
        /coverage_report + generate_coverage_report,
        TagEngineStoreHandler.py:185-253): restrict assets to the
        configured included projects, apply the configured
        dataset/table exclusions, roll up per dataset. Unconfigured =
        report everything (no projects filter, no exclusions)."""
        from .operators.coverage import coverage_report as _report

        _, s = self.get_settings("coverage_report")
        included = s.get("included_projects")
        if included is not None:
            # configured-but-empty means "no projects onboarded": an
            # EMPTY report, not an everything report (the reference
            # iterates the configured list, so [] yields nothing)
            assets = assets.filter(
                F.col("project").isin(list(included)) if included else F.lit(False)
            )
        return _report(
            assets,
            self.store.all(),
            excluded_datasets=s.get("excluded_datasets"),
            excluded_tables=s.get("excluded_tables"),
        )

    def recent_log_entries(self, limit: int = 25) -> DataFrame:
        """O6 (reference main.py:195-225 get_log_entries): the latest
        ``limit`` audit entries, newest first, payload truncated to 120
        chars. The reference tails Cloud Logging; the engine's audit
        stream is the tag history."""
        payload = F.concat_ws(
            " ", F.col("action"), F.col("asset_name"), F.col("field_id"), F.col("field_value")
        )
        return (
            self.history()
            .orderBy(F.desc("event_time"), F.asc("asset_name"), F.asc("field_id"))
            .limit(limit)
            .select("event_time", F.substring(payload, 1, 120).alias("payload"))
        )

    def ready_configs(self, now: datetime.datetime) -> list[dict]:
        """P10: AUTO + ACTIVE + READY + next_run <= now."""
        return [
            c
            for c in self.configs.values()
            if c.get("refresh_mode") == "AUTO"
            and c["config_status"] == "ACTIVE"
            and c["scheduling_status"] == "READY"
            and c.get("next_run") is not None
            and c["next_run"] <= now
        ]

    def run_ready_configs(self, assets: DataFrame, now: datetime.datetime | None = None, **kw) -> list[str]:
        """T1: the cron path — run every ready config, bump version and
        next_run += frequency (TagEngineStoreHandler.py:290-309).

        Each config runs isolated, like the reference's one-Cloud-Task-
        per-config dispatch: a failing config gets its ERROR ledger row
        (written by trigger_job) and its scheduling_status restored so
        the next cycle retries it, and the remaining ready configs
        still run. The incremental flag is dropped for config types it
        cannot apply to — on the cron path that's a per-type
        optimization toggle, not a per-call contract violation."""
        now = now or datetime.datetime.now(datetime.timezone.utc)
        job_ids = []
        for cfg in self.ready_configs(now):
            cfg["scheduling_status"] = "PENDING"
            cfg["version"] += 1
            step = cfg.get("refresh_frequency", 24) * _REFRESH_UNITS.get(
                cfg.get("refresh_unit", "hours"), 3600
            )
            cfg["next_run"] = cfg["next_run"] + datetime.timedelta(seconds=step)
            per_kw = dict(kw)
            if cfg["config_type"] in _NON_INCREMENTAL_TYPES:
                per_kw.pop("incremental", None)
            recorded = len(self.jobs)
            try:
                job_ids.append(self.trigger_job(cfg["config_uuid"], assets, **per_kw))
            except Exception as exc:
                cfg["scheduling_status"] = "READY"
                if len(self.jobs) == recorded:
                    # the raise came before trigger_job wrote a ledger
                    # row (validation, a type with no runner): record
                    # the failure here so no cron failure is ever silent
                    self._record_job(
                        self._uuid("job"), cfg["config_uuid"],
                        cfg["config_type"],
                        datetime.datetime.now(datetime.timezone.utc),
                        status="ERROR", task_count=1, tasks_failed=1,
                        errors=[("scheduler", repr(exc))],
                    )
        return job_ids
