"""Tags table with idempotent MERGE semantics (SURVEY.md S13/S14/P5,
section 2.10 #18).

The reference writes tags one catalog RPC at a time with retry-once
backoff (reference: DataCatalogController.py:1608-1652) and reconciles
column tags per entry (:456-473). Here every write is a bulk MERGE
keyed on (asset_uri, column, template_id, field_id). Its rules live in
one function, ``merge_rows``:

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

``TagStore`` applies ``merge_rows`` in one of two places, by the
driver-rows rule (``session.DRIVER_ROWS_MAX``). On the driver, it
merges a state of at most that many rows held as dicts, or, once the
state is distributed, a batch that fits under the cap together with its
touched slice: the state rows of the assets the batch names, collected,
merged and swapped back into the state. Larger batches are merged per
hash bucket of ``asset_uri`` in Python workers, over the state rows of
the tags the batch touches. Every rule
is local to one tag and a tag's rows share one ``asset_uri``, so all
three give the same result. Parquet persistence writes a temp
directory and swaps it in with the old one renamed aside
(``commit_dir``), so a crash never leaves the path without state; on a
real deployment this table would be Delta/Iceberg and this class maps
1:1 onto ``MERGE INTO``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.schemas import TAGS_SCHEMA
from ..session import DRIVER_ROWS_MAX, arrow_table, driver_rows, local_df

TAG_GROUP_KEY = ["asset_uri", "column", "template_id"]
VALUE_COLS = ["field_value_string", "field_value_double", "field_value_bool", "field_value_ts"]
# the events a merge returns: the tag columns plus CREATE/UPDATE/DELETE
EVENT_SCHEMA = T.StructType(list(TAGS_SCHEMA.fields) + [T.StructField("action", T.StringType())])
# a bucket merge returns state rows (null action) and event rows in one
# frame, told apart by _role
_BUCKET_SCHEMA = T.StructType(
    list(EVENT_SCHEMA.fields) + [T.StructField("_role", T.StringType(), False)]
)


def merge_rows(
    existing: list[dict], incoming: list[dict], overwrite: bool, delete_when_empty: bool
) -> tuple[list[dict], list[dict]]:
    """The MERGE rules over rows keyed by the TAGS_SCHEMA column names:
    returns the new state and the events (rows plus ``action``).
    ``existing`` must hold every state row of each tag ``incoming``
    touches; other state rows may be left out, and pass through."""

    def gkey(r):
        return (r["asset_uri"], r["column"], r["template_id"])

    def key(r):
        return (r["asset_uri"], r["column"], r["template_id"], r["field_id"])

    def is_empty(r):
        return all(r.get(c) is None for c in VALUE_COLS)

    groups: dict[tuple, list[dict]] = {}
    for r in incoming:
        groups.setdefault(gkey(r), []).append(r)
    all_empty = {g for g, rs in groups.items() if all(is_empty(r) for r in rs)}
    deletes = all_empty if delete_when_empty else set()
    upserts = [r for r in incoming if gkey(r) not in all_empty and not is_empty(r)]

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
    return survivors + [dict(r) for r in upserts], events


def _merge_bucket(overwrite: bool, delete_when_empty: bool):
    def apply(state, incoming):
        merged, events = merge_rows(
            state.to_pylist(), incoming.to_pylist(), overwrite, delete_when_empty
        )
        rows = [{**r, "action": None, "_role": "state"} for r in merged]
        rows += [{**r, "_role": "event"} for r in events]
        return arrow_table(rows, _BUCKET_SCHEMA)

    return apply


def _isin(spark: SparkSession, name: str, values) -> Column:
    """``F.col(name).isin(list(values))`` for string values, with the
    same plan. The values travel as one JSON string that the JVM
    parses, so the py4j calls do not grow with their number; PySpark's
    ``isin`` makes calls per value (~1 s per 1,000 values)."""
    jvm = spark._jvm
    jlist = jvm.com.fasterxml.jackson.databind.ObjectMapper().readValue(
        json.dumps(list(values)), jvm.java.util.List._java_lang_class
    )
    return Column(F.col(name)._jc.isInCollection(jlist))


class TagStore:
    # The most rows ``merge_rows`` takes on the driver at once (batch plus
    # the state rows it reads): the driver-rows rule. While the whole
    # state fits, it is held on the driver and a merge runs no Spark job
    # of its own. Past the cap the store promotes one-way to a
    # distributed state; a batch whose touched slice still fits merges
    # on the driver, and the rest merge per hash bucket of the touched
    # tags. Tests lower it per instance to force a path.
    SMALL_STATE_MAX = DRIVER_ROWS_MAX

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        if path:
            recover_dir(path)
        if path and os.path.exists(path):
            self.set_state(spark.read.parquet(path))
        else:
            self._df = local_df(spark, [], TAGS_SCHEMA)
            self._rows = []

    def all(self) -> DataFrame:
        return self._df

    def set_state(self, df: DataFrame) -> None:
        """Inject externally-persisted state (engine load_state), keeping
        the driver-resident mirror consistent so the next merge takes
        the right path and classifies UPDATE vs CREATE correctly."""
        self._rows = driver_rows(df, self.SMALL_STATE_MAX)
        self._df = df if self._rows is None else local_df(self.spark, self._rows, TAGS_SCHEMA)

    def _merge_small(
        self,
        existing: list[dict],
        inc_rows: list[dict],
        overwrite: bool,
        delete_when_empty: bool,
        touched: Column | None = None,
    ) -> DataFrame:
        """MERGE on the driver, over the whole driver-resident state, or
        over the slice ``existing`` of a distributed state that the
        predicate ``touched`` selected. Driver-resident state runs no
        Spark job beyond the caller's one evaluation of the incoming
        plan; a slice is swapped into the distributed state with one
        narrow checkpoint (no join, shuffle or Python worker)."""
        merged, events = merge_rows(existing, inc_rows, overwrite, delete_when_empty)
        if touched is None:
            self._rows = merged
            self._df = local_df(self.spark, merged, TAGS_SCHEMA)
        else:
            # the slice holds every state row of the batch's assets, so
            # the rest of the state passes through untouched; coalescing
            # back to the state's partition count keeps the union's
            # local partitions from piling up merge after merge
            parts = self._df.rdd.getNumPartitions()
            self._df = (
                self._df.filter(~touched)
                .unionByName(local_df(self.spark, merged, TAGS_SCHEMA))
                .coalesce(parts)
                .localCheckpoint(eager=True)
            )
        if self.path:
            self._persist()

        out = local_df(self.spark, events, EVENT_SCHEMA)
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
        # normalize nullable column for null-safe grouping
        inc = incoming.withColumn("column", F.col("column").cast("string"))

        # probe the incoming size with a limit-collect (stops early past
        # the cap). The driver merges the batch when it fits together
        # with the state rows it reads: the whole driver-resident state,
        # or a distributed state's touched slice (every state row of
        # the batch's assets, collected with a limit that stops past the
        # cap). Otherwise the batch is merged per bucket, re-evaluating
        # its plan; a driver-resident store promotes to the distributed
        # path for good.
        batch = driver_rows(inc, self.SMALL_STATE_MAX)
        if batch is not None:
            touched = None
            existing = self._rows
            if existing is None:
                # a limit-collect scans partitions in waves, the first
                # this wide; coalescing the slice to it keeps the
                # collect to one job however many partitions the state has
                wave = int(self.spark.conf.get("spark.sql.limit.initialNumPartitions"))
                touched = _isin(self.spark, "asset_uri", {r["asset_uri"] for r in batch})
                existing = driver_rows(
                    self._df.filter(touched).coalesce(wave), self.SMALL_STATE_MAX - len(batch)
                )
            if existing is not None and len(existing) + len(batch) <= self.SMALL_STATE_MAX:
                return self._merge_small(existing, batch, overwrite, delete_when_empty, touched)
        empty = self._rows == []
        self._rows = None

        parallelism = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if empty:
            # first merge onto an empty store (every engine's cold start,
            # and a bulk first load): every row with a value is kept as a
            # CREATE, and no row with a value is in an all-empty tag, so
            # the batch never reaches Python
            has_value = F.exists(F.array(*[F.col(c).isNotNull() for c in VALUE_COLS]), lambda v: v)
            kept = inc.filter(has_value)
            merged = kept.withColumn("action", F.lit("CREATE")).withColumn("_role", F.lit("event"))
        else:
            # only the state rows of touched tags reach merge_rows; the
            # touched keys are renamed so a batch derived from the state
            # itself (copy_tags) joins without ambiguous self-join columns
            existing = self._df
            touched = inc.select(*[F.col(k).alias(f"_t_{k}") for k in TAG_GROUP_KEY]).distinct()
            cond = [existing[k].eqNullSafe(touched[f"_t_{k}"]) for k in TAG_GROUP_KEY]
            hit = existing.join(touched, cond, "left_semi")
            kept = existing.join(touched, cond, "left_anti")
            bucket = F.pmod(F.hash("asset_uri"), F.lit(parallelism))
            merged = (
                hit.groupBy(bucket)
                .cogroup(inc.groupBy(bucket))
                .applyInArrow(_merge_bucket(overwrite, delete_when_empty), _BUCKET_SCHEMA)
            )

        # ONE eager checkpoint materializes new state AND history events
        # together: the checkpoint truncates the self-referential merge
        # lineage (each merge reads the previous state) so plans stay
        # flat across many merges, and stacking the events into the same
        # job means the caller's history append never re-runs the
        # merge. Coalesce first (narrow, no shuffle): post-merge state
        # otherwise inherits one near-empty partition per shuffle
        # partition and every later op schedules that many tasks.
        combined = (
            kept.withColumn("action", F.lit(None).cast("string"))
            .withColumn("_role", F.lit("state"))
            .unionByName(merged)
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

    def write(self, path: str) -> None:
        """Write the state as parquet into the new directory ``path``: a
        driver-resident state from the driver, a distributed one with
        one Spark write."""
        if self._rows is None:
            self._df.write.parquet(path)
        else:
            os.makedirs(path)
            pq.write_table(arrow_table(self._rows, TAGS_SCHEMA), os.path.join(path, "part-00000.parquet"))

    def _persist(self) -> None:
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        self.write(tmp)
        commit_dir(tmp, self.path)
        # a driver-resident state's in-plan frame stays the store's view
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
