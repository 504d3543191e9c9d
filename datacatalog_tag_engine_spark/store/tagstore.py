"""Tags table with idempotent MERGE semantics (SURVEY.md S13/S14/P5,
section 2.10 #18).

The reference writes tags one catalog RPC at a time with retry-once
backoff (reference: DataCatalogController.py:1608-1652) and reconciles
column tags per entry (:456-473). Here every write is a bulk MERGE
keyed on (asset_uri, column, template_id, field_id):

* upsert: incoming row replaces the existing row with the same key;
* overwrite=False guard: incoming rows whose TAG (asset, column,
  template) already exists are skipped (reference: P5 call sites
  :239-243, :752-758, :1027-1031, :1334-1338);
* delete-when-empty: an incoming tag whose field values are ALL null
  deletes the existing tag (reference: create_update_delete_tag
  :1584-1586);
* every applied mutation emits a history event (CREATE/UPDATE/DELETE)
  for the audit stream (SURVEY T2).

MERGE is retried-task idempotent (SURVEY R6): re-applying the same
incoming batch converges to the same table.

Scale: the merge is a single shuffle on the 4-part key; the tags table
is tiny next to the data being profiled, so the join side of the guard
checks broadcasts. Parquet persistence writes a temp directory and
swaps it in with the old one renamed aside (``commit_dir``), so a
crash never leaves the path without state; on a real deployment this
table would be Delta/Iceberg and this class maps 1:1 onto
``MERGE INTO``.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model.schemas import TAGS_SCHEMA
from ..session import arrow_table, local_df

TAG_KEY = ["asset_uri", "column", "template_id", "field_id"]
TAG_GROUP_KEY = ["asset_uri", "column", "template_id"]
VALUE_COLS = ["field_value_string", "field_value_double", "field_value_bool", "field_value_ts"]


def _null_safe_key(df: DataFrame) -> list:
    # `column` is null for table-level tags; join null-safely on it.
    return [df[c] for c in TAG_KEY]


class TagStore:
    # While total state stays at most this many rows the MERGE runs on
    # the driver over plain dicts (the reference's own regime: tags are
    # Firestore documents, DataCatalogController.py:1608-1652) — a
    # dimension-sized merge otherwise pays seconds of per-job overhead
    # (4 broadcast joins + a window shuffle + an eager checkpoint) to
    # move a handful of rows. Past the threshold the store promotes
    # one-way to the distributed MERGE below, whose semantics these
    # dict operations mirror rule for rule.
    SMALL_STATE_MAX = 4096

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        if path:
            recover_dir(path)
        if path and os.path.exists(path):
            self._df = spark.read.parquet(path)
            probe = self._df.limit(self.SMALL_STATE_MAX + 1).collect()
            if len(probe) <= self.SMALL_STATE_MAX:
                self._rows = [r.asDict() for r in probe]
                self._df = self._small_df(self._rows)
            else:
                self._rows = None
            self._known_empty = False
        else:
            self._df = local_df(spark, [], TAGS_SCHEMA)
            self._known_empty = True
            self._rows = []

    def all(self) -> DataFrame:
        return self._df

    def set_state(self, df: DataFrame) -> None:
        """Inject externally-persisted state (engine load_state), keeping
        the driver-resident mirror consistent so the next merge takes
        the right path and classifies UPDATE vs CREATE correctly."""
        self._df = df
        self._known_empty = False
        probe = df.limit(self.SMALL_STATE_MAX + 1).collect()
        if len(probe) <= self.SMALL_STATE_MAX:
            self._rows = [r.asDict() for r in probe]
            self._df = self._small_df(self._rows)
        else:
            self._rows = None

    def _small_df(self, rows: list[dict]) -> DataFrame:
        data = [tuple(r.get(f.name) for f in TAGS_SCHEMA.fields) for r in rows]
        return local_df(self.spark, data, TAGS_SCHEMA)

    def _merge_small(
        self, inc_rows: list[dict], overwrite: bool, delete_when_empty: bool
    ) -> DataFrame:
        """Driver-resident MERGE for dimension-sized state: identical
        semantics to the distributed path (upsert, overwrite guard,
        delete-when-empty, CREATE/UPDATE/DELETE events), no Spark jobs
        beyond the caller's one evaluation of the incoming plan."""
        import pyspark.sql.types as T

        def gkey(r):
            return (r["asset_uri"], r["column"], r["template_id"])

        def key(r):
            return (r["asset_uri"], r["column"], r["template_id"], r["field_id"])

        def is_empty(r):
            return all(r.get(c) is None for c in VALUE_COLS)

        groups: dict[tuple, list[dict]] = {}
        for r in inc_rows:
            groups.setdefault(gkey(r), []).append(r)
        all_empty = {g for g, rs in groups.items() if all(is_empty(r) for r in rs)}
        deletes = all_empty if delete_when_empty else set()
        upserts = [r for r in inc_rows if gkey(r) not in all_empty and not is_empty(r)]

        existing = self._rows
        if not overwrite:
            existing_groups = {gkey(r) for r in existing}
            upserts = [r for r in upserts if gkey(r) not in existing_groups]
        existing_keys = {key(r) for r in existing}
        events = [
            {**r, "action": "UPDATE" if key(r) in existing_keys else "CREATE"}
            for r in upserts
        ]
        events += [{**r, "action": "DELETE"} for r in existing if gkey(r) in deletes]

        upsert_keys = {key(r) for r in upserts}
        survivors = [
            r for r in existing if gkey(r) not in deletes and key(r) not in upsert_keys
        ]
        self._rows = survivors + [dict(r) for r in upserts]
        self._df = self._small_df(self._rows)
        self._known_empty = not self._rows
        if self.path:
            self._persist()

        event_schema = T.StructType(
            list(TAGS_SCHEMA.fields) + [T.StructField("action", T.StringType(), False)]
        )
        data = [tuple(r.get(f.name) for f in event_schema.fields) for r in events]
        out = local_df(self.spark, data, event_schema)
        # the caller's history append writes these rows from the driver
        # instead of running a Spark write over the frame
        out._tag_engine_event_rows = events
        return out

    def merge(
        self,
        incoming: DataFrame,
        overwrite: bool = True,
        delete_when_empty: bool = True,
    ) -> DataFrame:
        """Apply a batch of incoming tag rows; returns the history events
        (TAG_HISTORY-shaped minus accounts) the mutation produced.

        ``column`` must exist in incoming (null for table-level tags).
        """
        existing = self._df
        inc = incoming
        # normalize nullable column for null-safe grouping
        inc = inc.withColumn("column", F.col("column").cast("string"))

        if self._rows is not None:
            # state is driver-resident: probe the incoming size with a
            # limit-collect (stops early past the cap). If everything
            # stays dimension-sized, merge on the driver — no joins, no
            # window, no checkpoint. A full probe promotes the store to
            # the distributed path for good (one re-evaluation of the
            # incoming plan, paid once at the small->large transition).
            probe = inc.limit(self.SMALL_STATE_MAX + 1).collect()
            if len(probe) + len(self._rows) <= self.SMALL_STATE_MAX:
                return self._merge_small(
                    [r.asDict() for r in probe], overwrite, delete_when_empty
                )
            self._rows = None

        empty_flag = F.forall(F.array(*[F.col(c).isNull() for c in VALUE_COLS]), lambda x: x)
        grp = Window.partitionBy(*TAG_GROUP_KEY)
        inc = inc.withColumn("_all_empty", F.min(F.when(empty_flag, 1).otherwise(0)).over(grp) == 1)

        if delete_when_empty:
            deletes = inc.filter(F.col("_all_empty")).select(*TAG_GROUP_KEY).distinct()
        else:
            # all-empty groups are no-ops, not deletions
            deletes = inc.filter(F.lit(False)).select(*TAG_GROUP_KEY).distinct()
        upserts = inc.filter(~F.col("_all_empty") & ~empty_flag).drop("_all_empty")

        if self._known_empty:
            # first merge onto an empty store: every upsert is a CREATE,
            # nothing exists to guard, delete, or survive — skip all
            # four joins (this is every engine's cold start)
            upserts_flagged = upserts.withColumn("action", F.lit("CREATE"))
            deleted_rows = upserts_flagged.filter(F.lit(False)).withColumn(
                "action", F.lit("DELETE")
            )
            survivors = existing
        else:
            if not overwrite:
                # skip upserts whose tag already exists (P5)
                existing_tags = existing.select(*TAG_GROUP_KEY).distinct()
                cond = [upserts[k].eqNullSafe(existing_tags[k]) for k in TAG_GROUP_KEY]
                upserts = upserts.join(existing_tags, cond, "left_anti")

            # classify CREATE vs UPDATE against current state (for history)
            existing_keys = existing.select(*TAG_KEY).withColumn("_existed", F.lit(True))
            cond = [upserts[k].eqNullSafe(existing_keys[k]) for k in TAG_KEY]
            upserts_flagged = (
                upserts.join(existing_keys, cond, "left")
                .select(*[upserts[c] for c in upserts.columns], existing_keys["_existed"])
                .withColumn("action", F.when(F.col("_existed"), "UPDATE").otherwise("CREATE"))
                .drop("_existed")
            )
            # deleted rows (existing rows of tag groups marked delete)
            dcond = [existing[k].eqNullSafe(deletes[k]) for k in TAG_GROUP_KEY]
            deleted_rows = existing.join(deletes, dcond, "left_semi").withColumn("action", F.lit("DELETE"))

            # MERGE: existing rows lose to same-key upserts; delete groups drop
            survivors = existing.join(deletes, dcond, "left_anti")
            ucond = [survivors[k].eqNullSafe(upserts_flagged[k]) for k in TAG_KEY]
            survivors = survivors.join(upserts_flagged.select(*TAG_KEY), ucond, "left_anti")
        self._known_empty = False

        # ONE eager checkpoint materializes new state AND history events
        # together: the checkpoint truncates the self-referential merge
        # lineage (each merge reads the previous state) so plans stay
        # flat across many merges, and stacking the events into the same
        # job means the caller's history append never re-runs the merge
        # joins (previously the second action recomputed them — half of
        # every merge-chain's wall time). Coalesce first (narrow, no
        # shuffle): post-merge state otherwise inherits one near-empty
        # partition per shuffle partition and every later op schedules
        # that many tasks.
        state_part = (
            survivors.withColumn("action", F.lit(None).cast("string"))
            .unionByName(upserts_flagged)
            .withColumn("_role", F.lit("state"))
        )
        event_part = (
            upserts_flagged.unionByName(deleted_rows).withColumn("_role", F.lit("event"))
        )
        parallelism = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        combined = (
            state_part.unionByName(event_part)
            .coalesce(max(8, parallelism // 4))
            .localCheckpoint(eager=True)
        )
        # The previous merge's checkpoint is superseded now, but event
        # frames an earlier merge returned may still read it, and a
        # freed local checkpoint cannot recompute (its lineage is
        # truncated). It is left to Spark's ContextCleaner, which frees
        # it once no plan references it.
        self._df = combined.filter(F.col("_role") == "state").drop("_role", "action")
        if self.path:
            self._persist()

        return combined.filter(F.col("_role") == "event").drop("_role")

    def _persist(self) -> None:
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        if self._rows is None:
            self._df.write.parquet(tmp)
        else:
            # driver-resident state is written from the driver, and the
            # in-plan frame stays the store's view of it
            os.makedirs(tmp)
            data = [tuple(r.get(f.name) for f in TAGS_SCHEMA.fields) for r in self._rows]
            pq.write_table(arrow_table(data, TAGS_SCHEMA), os.path.join(tmp, "part-00000.parquet"))
        commit_dir(tmp, self.path)
        if self._rows is None:
            self._df = self.spark.read.parquet(self.path)


def commit_dir(tmp: str, path: str) -> None:
    """Replace directory ``path`` with the complete directory ``tmp``.
    The old directory is renamed aside first, so a crash at any step
    leaves either the old or the new directory in place or aside, and
    ``recover_dir`` restores the old one."""
    aside = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, aside)
    os.rename(tmp, path)
    shutil.rmtree(aside, ignore_errors=True)


def recover_dir(path: str) -> None:
    """Finish or roll back a ``commit_dir`` a crash interrupted: restore
    the directory renamed aside when ``path`` is missing, then delete
    the left-over temp and aside directories."""
    pattern = glob.escape(path)
    aside = glob.glob(pattern + ".old-*")
    if aside and not os.path.exists(path):
        os.rename(aside.pop(), path)
    for d in aside + glob.glob(pattern + ".tmp-*"):
        shutil.rmtree(d, ignore_errors=True)
