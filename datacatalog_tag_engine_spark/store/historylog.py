"""Tag history as an eager, append-only parquet log (reference: the
history table written once per tag mutation, BigQueryUtils.py:344-387).

Every append is written at once as one entry of the log directory,
named by the append range it covers: ``00000007-00000007.parquet``.
The log follows the driver-rows rule (``session.DRIVER_ROWS_MAX``): the
events of a merge run on the driver (a small state, or a small batch's
touched slice of a distributed state) are written with pyarrow as one
file; a bucket merge's events are written by one Spark write as a
directory of part files, and its event count comes from the written
parquet footers. Entries hold the typed tag columns plus ``action``,
``event_time`` and ``job_uuid``; rendering (asset_name, field_value)
happens at read time, in ``TagEngine.history``.

Compaction bounds the number of files a read opens: every
``compact_every`` appends, each run of consecutive entries of at most
``DRIVER_ROWS_MAX`` rows (the previous compacted file included) is
merged on the driver with pyarrow into one file named by the range it
covers. Larger entries stay as written, so no run spans them and a
range always covers exactly the entries merged into it.

Crash safety: entries and compactions appear via a hidden temp name
plus ``os.replace``, so a reader sees an entry whole or not at all. The
files a compaction supersedes stay on disk until a log is next opened
on the directory, so a ``history()`` frame handed out earlier stays
readable; opening deletes them and any left-over temp files.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..model.schemas import TAGS_SCHEMA
from ..session import DRIVER_ROWS_MAX, arrow_table

# the typed tag columns (no per-tag job_uuid/updated_ts: the event's
# job_uuid is the job that appended it) plus the event columns
LOG_SCHEMA = T.StructType(
    [f for f in TAGS_SCHEMA.fields if f.name not in ("job_uuid", "updated_ts")]
    + [
        T.StructField("action", T.StringType(), True),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("job_uuid", T.StringType(), True),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(LOG_SCHEMA)

_ENTRY = re.compile(r"^(\d{8})-(\d{8})\.parquet$")


def _entry_name(lo: int, hi: int) -> str:
    return f"{lo:08d}-{hi:08d}.parquet"


def _span(name: str) -> tuple[int, int]:
    m = _ENTRY.match(name)
    return int(m.group(1)), int(m.group(2))


class HistoryLog:
    def __init__(self, spark: SparkSession, directory: str | None, compact_every: int):
        self.spark = spark
        self.directory = directory
        self.compact_every = compact_every
        self._live: list[str] = []  # entry names, in append order
        self._counts: dict[str, int] = {}
        self._next = 1
        self._since_compaction = 0
        self._frame: DataFrame | None = None  # read() until the next change
        if directory and os.path.isdir(directory):
            self._open()

    def _open(self) -> None:
        entries = []
        for n in os.listdir(self.directory):
            if _ENTRY.match(n):
                entries.append(n)
            else:  # a temp file or directory left by a crash
                self._remove(n)
        # ranges are nested or disjoint; in (lo, widest first) order an
        # entry is superseded when an earlier range already reaches its end
        reach = 0
        for n in sorted(entries, key=lambda n: (_span(n)[0], -_span(n)[1])):
            hi = _span(n)[1]
            if hi <= reach:
                self._remove(n)
            else:
                self._live.append(n)
                reach = hi
        self._next = reach + 1

    def _remove(self, name: str) -> None:
        path = self._path(name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)

    def _path(self, name: str) -> str:
        return os.path.join(self.directory, name)

    def _temp(self) -> str:
        if self.directory is None:
            self.directory = tempfile.mkdtemp(prefix="tag_engine_history_")
            # a temp log goes with its owner, or at exit
            weakref.finalize(self, shutil.rmtree, self.directory, True)
        os.makedirs(self.directory, exist_ok=True)
        return self._path(f".tmp-{uuid.uuid4().hex}")

    def files(self) -> list[str]:
        """Paths of the live entries, oldest first."""
        return [self._path(n) for n in self._live]

    # -- appends -------------------------------------------------------------

    def append_rows(self, events: list[dict], event_time, job_uuid: str) -> int:
        """Write the events of a merge run on the driver (dicts with the
        tag columns and ``action``) as one file; returns the event
        count."""
        if events:
            rows = [{**e, "event_time": event_time, "job_uuid": job_uuid} for e in events]
            tmp = self._temp()
            pq.write_table(arrow_table(rows, LOG_SCHEMA), tmp)
            self._commit(tmp, len(rows))
        return len(events)

    def append_df(self, events: DataFrame, event_time, job_uuid: str) -> int:
        """Write a bucket merge's events with one Spark write; returns
        the event count, read from the written footers."""
        tmp = self._temp()
        events.select(
            *[F.col(f.name) for f in LOG_SCHEMA.fields if f.name not in ("event_time", "job_uuid")],
            F.lit(event_time).alias("event_time"),
            F.lit(job_uuid).alias("job_uuid"),
        ).write.parquet(tmp)
        rows = _footer_rows(tmp)
        self._commit(tmp, rows)
        return rows

    def _commit(self, tmp: str, rows: int) -> None:
        name = _entry_name(self._next, self._next)
        os.replace(tmp, self._path(name))
        self._next += 1
        self._live.append(name)
        self._counts[name] = rows
        self._frame = None
        self._since_compaction += 1
        if self._since_compaction >= self.compact_every:
            self.compact()

    # -- compaction ----------------------------------------------------------

    def compact(self) -> None:
        """Merge each run of two or more consecutive small entries into
        one file, on the driver."""
        runs: list[list[str]] = [[]]
        for n in self._live:
            if self._count(n) <= DRIVER_ROWS_MAX:
                runs[-1].append(n)
            else:
                runs.append([])
        for run in runs:
            if len(run) < 2:
                continue
            table = pa.concat_tables([_read_table(self._path(n)) for n in run])
            name = _entry_name(_span(run[0])[0], _span(run[-1])[1])
            tmp = self._temp()
            pq.write_table(table, tmp)
            os.replace(tmp, self._path(name))
            i = self._live.index(run[0])
            self._live[i : i + len(run)] = [name]
            self._counts[name] = table.num_rows
            self._frame = None
        self._since_compaction = 0

    def _count(self, name: str) -> int:
        if name not in self._counts:
            self._counts[name] = _footer_rows(self._path(name))
        return self._counts[name]

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame | None:
        """One parquet read of every live entry (LOG_SCHEMA), or None
        while the log is empty."""
        if not self._live:
            return None
        if self._frame is None:
            self._frame = self.spark.read.schema(LOG_SCHEMA).parquet(*self.files())
        return self._frame


def _parquet_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]


def _footer_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def _read_table(path: str):
    # Spark writes INT96 timestamps, which pyarrow reads as naive
    # timestamps holding UTC instants
    parts = [
        pq.read_table(f, coerce_int96_timestamp_unit="us").select(_ARROW_SCHEMA.names).cast(_ARROW_SCHEMA)
        for f in _parquet_files(path)
    ]
    return pa.concat_tables(parts) if parts else _ARROW_SCHEMA.empty_table()

