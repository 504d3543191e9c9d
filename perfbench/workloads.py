"""The tag-lifecycle workloads. Each is a closed loop with one
client thread: the next operation starts when the previous one has
returned. A workload function takes a ``Context`` and returns a
``Result``; it never exits the process. Operations that raise or
produce a wrong output are counted in the result's tally, not fatal.

Sizes and the program thresholds each workload sits on either side of
are documented in perfbench/README.md.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs as I
from perfbench import stats

# catalog size: table assets (over 4 projects, 100 datasets) and
# inventory_view rows; assets whose data changes before the cron cycle:
# with sensitive tags, with profile tags, with neither
CATALOG_TABLES = 1500
INVENTORY_ROWS = 30_000
STALE_SHARES = (5, 10, 15)
# --seconds sizes the measured work, not a deadline, so every run does
# the same work whatever the machine's load: one interactive round per
# ROUND_SECONDS asked for, and READS_PER_SECOND catalog point reads
ROUND_SECONDS = 20
READS_PER_SECOND = 1.5
# history appends between spills in the interactive engine
INTERACTIVE_SPILL_EVERY = 5
# catalog point reads cycle through this fixed pattern
LOOKUP_KINDS = ["current", "current", "audit", "current", "current", "recent"]

NOW0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)


@dataclass
class Result:
    op_samples: list[float] = field(default_factory=list)  # latency per timed operation
    rows: int = 0  # tag rows the measured work wrote or counted
    rows_s: float = 0.0  # wall time of the steps that did so
    extra: dict = field(default_factory=dict)  # workload-specific figures
    tally: stats.Tally = field(default_factory=stats.Tally)
    ops: int = 0  # timed operations, for spark.jobs_per_op
    engine: object = None


class Context:
    """What a workload gets from the runner: the session, a private
    working directory, the seed, the work size in seconds, the tracer
    (None when tracing is off), the Spark job-id reader and the JVM's
    pid. ``begin``/``end`` mark the measured work."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, job_id, jvm_pid: int):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer, self.job_id, self.jvm_pid = tracer, job_id, jvm_pid
        self.t_begin = self.t_end = 0.0
        self.jobs_begin = self.jobs_end = 0

    def begin(self) -> None:
        """Start the clock."""
        self.jobs_begin = self.job_id()
        self.cpu_begin = cpu_counters(self.jvm_pid)
        self.t_begin = time.perf_counter()

    def end(self) -> None:
        self.t_end = time.perf_counter()
        self.cpu_end = cpu_counters(self.jvm_pid)
        self.jobs_end = self.job_id()
        self.op(None)
        if self.tracer is not None:
            self.tracer.enabled = False  # checks are not traced

    def op(self, i) -> None:
        if self.tracer is not None:
            self.tracer.op = i

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()


def cpu_counters(jvm_pid: int) -> dict:
    """Clock ticks: the machine's steal and total CPU time (/proc/stat),
    and the CPU time (user + system) of this process plus the JVM."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    own = 0
    for pid in ("self", jvm_pid):
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        own += int(fields[11]) + int(fields[12])
    return {"steal": cpu[7], "total": sum(cpu[:8]), "own": own}


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


# -- interactive ---------------------------------------------------------------

GOV_FIELDS = [
    {"field_id": "data_owner", "field_type": "string"},
    {"field_id": "data_domain", "field_type": "enum", "enum_values": ["SALES", "FINANCE", "OPS"]},
    {"field_id": "is_certified", "field_type": "bool"},
    {"field_id": "retention_days", "field_type": "double"},
]
# per-asset SQL the fused executor cannot compile (joins to other tables)
OPAQUE_FIELDS = [
    {"field_id": "ordering_customers", "field_type": "double",
     "query_expression": "select count(distinct o.o_custkey) from $table o join customer c on o.o_custkey = c.c_custkey"},
    {"field_id": "late_lines", "field_type": "double",
     "query_expression": "select count(*) from $table o join lineitem l on l.l_orderkey = o.o_orderkey where l.l_shipdate > date_add(o.o_orderdate, 90)"},
]
COLUMN_FIELDS = [
    {"field_id": "distinct_values", "field_type": "double",
     "query_expression": "select count(distinct $column) from $table"},
    {"field_id": "null_count", "field_type": "double",
     "query_expression": "select count(*) from $table where $column is null"},
]
COLUMNS_QUERY = ("select column_name from information_schema.columns "
                 "where table_name = '$table' and column_name like 'l_%key'")
# one round of the interactive kind order: 7 synchronous tag calls and 5
# jobs. The order is fixed so every seed does the same kinds of work;
# the seed picks the assets and values. A run does whole rounds, so the
# median falls among the synchronous calls
ROUND = ["update", "table", "copy", "update", "static", "copy",
         "update", "column", "copy", "update", "table", "opaque"]
STATIC_SETS = ["*", "lineitem*", "orders"]
COPY_TARGETS = ("region", "nation", "supplier", "customer", "part", "orders")


def interactive_ops(seed: int, n: int) -> list[tuple]:
    """The seeded operation sequence. DYNAMIC_TAG_TABLE jobs cycle
    through 1, 2, 3 and 4 lineitem-shaped assets (lineitem plus a seeded
    choice of the others) and DYNAMIC_TAG_COLUMN jobs through 1 and 2
    seeded ones."""
    rng = np.random.default_rng([seed, 3])
    n_table = n_column = 0
    ops = []
    for i in range(n):
        kind = ROUND[i % len(ROUND)]
        if kind == "table":
            n_table += 1
            others = rng.choice(I.LINEITEM_TABLES[1:], (n_table - 1) % 4, replace=False)
            ops.append((kind, ("lineitem", *sorted(others))))
        elif kind == "column":
            n_column += 1
            ops.append((kind, tuple(sorted(rng.choice(I.LINEITEM_TABLES, (n_column - 1) % 2 + 1, replace=False)))))
        elif kind == "static":
            ops.append((kind, STATIC_SETS[int(rng.integers(len(STATIC_SETS)))]))
        elif kind == "update":
            ops.append((kind, str(rng.choice(list(I.TPCH_ROWS) + list(I.LINEITEM_TABLES[1:]))),
                        f"owner{int(rng.integers(10 ** 6))}@example.com"))
        elif kind == "copy":
            ops.append((kind, str(rng.choice(I.LINEITEM_TABLES)), str(rng.choice(COPY_TARGETS))))
        else:
            ops.append((kind, ("orders",)))
    return ops


def interactive(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.engine import TagEngine

    spark, res = ctx.spark, Result()
    sf = os.path.join(ctx.work, "tpch")
    nrows = I.write_tpch_dir(sf, ctx.seed)
    for t in nrows:
        spark.read.parquet(os.path.join(sf, f"{t}.parquet")).createOrReplaceTempView(t)
    # a run makes 14 history appends (2 warm-up, 12 timed), fewer than
    # the default HISTORY_SPILL_EVERY (32); spilling every
    # INTERACTIVE_SPILL_EVERY appends makes each run cross the spill
    eng = res.engine = TagEngine(spark, history_spill_every=INTERACTIVE_SPILL_EVERY)
    assets = eng.create_entries(sf, project="local", dataset="tpch")
    uri = {t: f"local/datasets/tpch/tables/{t}" for t in nrows}

    def template(name, fields):
        eng.create_template(name, [{k: f[k] for k in f if k != "query_expression"} for f in fields])

    template("profile", I.PROFILE_FIELDS)
    template("opaque", OPAQUE_FIELDS)
    template("colprofile", COLUMN_FIELDS)
    template("governance", GOV_FIELDS)
    base = "bigquery/project/local/dataset/tpch/"
    ops = interactive_ops(ctx.seed, max(1, round(ctx.seconds / ROUND_SECONDS)) * len(ROUND))
    # one config per (kind, asset set); configs are driver-side records,
    # so making them all up front costs no Spark work
    cfg = {}
    specs = {"table": ("profile", I.PROFILE_FIELDS, {}), "opaque": ("opaque", OPAQUE_FIELDS, {}),
             "column": ("colprofile", COLUMN_FIELDS, {"included_columns_query": COLUMNS_QUERY})}
    for op in ops:
        if op[0] in specs and op[:2] not in cfg:
            tmpl, fields, extra = specs[op[0]]
            cfg[op[:2]] = eng.create_config(
                "DYNAMIC_TAG_COLUMN" if op[0] == "column" else "DYNAMIC_TAG_TABLE", tmpl,
                included_uris=",".join(base + t for t in op[1]), fields=[dict(f) for f in fields], **extra)
    for i, pattern in enumerate(STATIC_SETS):
        cfg[("static", pattern)] = eng.create_config(
            "STATIC_TAG_ASSET", "governance", included_uris=base + pattern,
            fields=[{"field_id": "data_owner", "field_value": f"steward{i}@example.com"},
                    {"field_id": "data_domain", "field_value": ["SALES", "FINANCE", "OPS"][i]},
                    {"field_id": "is_certified", "field_value": "TRUE"},
                    {"field_id": "retention_days", "field_value": 365 * (i + 1)}])

    def run(op) -> int:
        """One operation; returns the tag events it produced."""
        kind = op[0]
        if kind == "update":
            return eng.update_tag_subset("governance", uri[op[1]], None, [
                {"field_id": "data_owner", "field_type": "string", "raw_value": op[2]}])
        if kind == "copy":
            return eng.copy_tags(uri[op[1]], uri[op[2]])
        n0 = len(eng.jobs)
        eng.trigger_job(cfg[op[:2]], assets)
        ledger = eng.jobs[n0:]
        if not ledger or ledger[-1]["job_status"] != "SUCCESS":
            raise RuntimeError(f"{kind} job ledger: {ledger}")
        return ledger[-1]["tasks_success"]

    # warm-up, untimed: governance tags on every table, so every copy
    # source has tags, and one synchronous call
    run(("static", "*"))
    run(("update", "orders", "warm@example.com"))

    kind_cpu: dict[str, int] = {}
    ctx.begin()
    for i, op in enumerate(ops):
        ctx.op(i)
        cpu0 = cpu_counters(ctx.jvm_pid)["own"]
        try:
            n, dt = _timed(lambda: run(op))
        except Exception as exc:  # a failing operation is counted, not fatal
            res.tally.record(False, f"{op}: {type(exc).__name__}: {exc}")
            continue
        finally:
            kind_cpu[op[0]] = kind_cpu.get(op[0], 0) + cpu_counters(ctx.jvm_pid)["own"] - cpu0
        if res.tally.record(n > 0, f"{op}: no tag events"):
            res.op_samples.append(dt)
            res.rows += n
            res.rows_s += dt
        res.ops += 1
    ctx.end()
    tick = os.sysconf("SC_CLK_TCK")
    res.extra["phase_cpu_s"] = {kind: v / tick for kind, v in sorted(kind_cpu.items())}

    # lineitem's row_count tag (lineitem is in every table asset set),
    # and every other profiled table's, equals its footer num_rows; every
    # ledger row is SUCCESS
    got = {r["asset_uri"]: r["field_value_double"] for r in eng.store.all().filter(
        (F.col("field_id") == "row_count") & F.col("column").isNull()).collect()}
    res.tally.record(uri["lineitem"] in got, "lineitem has no row_count tag")
    for t in I.LINEITEM_TABLES:
        if uri[t] in got:
            footer = pq.ParquetFile(os.path.join(sf, f"{t}.parquet")).metadata.num_rows
            res.tally.record(got[uri[t]] == float(footer) == float(nrows[t]),
                             f"row_count of {t}: tag {got[uri[t]]}, footer {footer}")
    bad = [j["job_status"] for j in eng.jobs if j["job_status"] != "SUCCESS"]
    res.tally.record(not bad, f"ledger rows not SUCCESS: {bad}")
    return res


# -- catalog -----------------------------------------------------------------


def stale_assets(cat: I.Catalog, seed: int) -> np.ndarray:
    """The seeded set of table assets whose data changes before the cron
    cycle, drawn in fixed shares from the assets with sensitive tags,
    with profile tags, and with neither -- so every seed refreshes the
    same mix of work."""
    rng = np.random.default_rng([seed, 7])
    sensitive = cat.sensitive_rows > 0
    pools = [np.flatnonzero(sensitive), np.flatnonzero(cat.fused_assets & ~sensitive),
             np.flatnonzero(~cat.fused_assets & ~sensitive)]
    return np.sort(np.concatenate([rng.choice(pool, share, replace=False)
                                   for pool, share in zip(pools, STALE_SHARES)]))


class Catalog:
    """A seeded synthetic catalog wired to one TagEngine: the cron
    configs of the reference's load-test shapes, restored with the tag
    state and history a previous full refresh left behind."""

    def __init__(self, ctx: Context):
        from datacatalog_tag_engine_spark.engine import TagEngine

        spark = self.spark = ctx.spark
        cat = self.cat = I.make_catalog(os.path.join(ctx.work, "catalog"), ctx.seed,
                                        CATALOG_TABLES, INVENTORY_ROWS)
        self.assets = spark.read.parquet(cat.assets_path)
        spark.read.parquet(cat.inventory_path).createOrReplaceTempView("inventory")
        self.kw = dict(
            findings=spark.read.parquet(cat.findings_path),
            selection=spark.createDataFrame([([t], t) for t in I.INFOTYPES],
                                            "field_infotypes array<string>, notable_infotype string"),
            classification=spark.createDataFrame(I.CLASSIFICATION,
                                                 "notable_infotypes array<string>, classification_result string"),
        )
        eng = TagEngine(spark)
        eng.create_template("static", [{"field_id": f, "field_type": t,
                                        **({"enum_values": I.CONFIDENTIALITY} if t == "enum" else {})}
                                       for f, t in I.STATIC_FIELDS])
        eng.create_template("profile", [{"field_id": f["field_id"], "field_type": f["field_type"]}
                                        for f in I.PROFILE_FIELDS])
        eng.create_template("sensitive", [{"field_id": "sensitive_field", "field_type": "bool"},
                                          {"field_id": "sensitive_type", "field_type": "string"}])
        common = dict(refresh_mode="AUTO", refresh_frequency=24, refresh_unit="hours", next_run=NOW0)
        all_projects = ",".join(f"bigquery/project/{p}" for p in cat.projects)
        eng.create_config("STATIC_TAG_ASSET", "static", included_uris=all_projects,
                          fields=[{"field_id": f, "field_value": cat.static_values[f]}
                                  for f, _ in I.STATIC_FIELDS], **common)
        eng.create_config("DYNAMIC_TAG_TABLE", "profile", included_uris=cat.dynamic_uri,
                          excluded_uris=cat.dynamic_excluded, inventory_view="inventory",
                          fields=[dict(f) for f in I.PROFILE_FIELDS], **common)
        eng.create_config("SENSITIVE_TAG_COLUMN", "sensitive", included_uris=all_projects, **common)
        self.export_dir = os.path.join(ctx.work, "export")
        self.export_cfg = eng.create_config("TAG_EXPORT", None, target_path=self.export_dir, truncate=True)
        self.included, self.excluded_ds = cat.projects[:3], [cat.datasets[1][1]]
        eng.set_settings("coverage_report", included_projects=self.included, excluded_datasets=self.excluded_ds)
        # save_state writes the configs and an empty store; the snapshot
        # replaces the empty tags/ and history/ before load_state reads them
        snapshot = os.path.join(ctx.work, "snapshot")
        eng.save_state(snapshot)
        for name in ("tags", "history"):
            shutil.rmtree(os.path.join(snapshot, name))
        I.write_tag_snapshot(cat, snapshot, ctx.seed)
        self.eng = TagEngine.load_state(spark, snapshot)
        self.stale = stale_assets(cat, ctx.seed)

    def refresh_cycle(self) -> list[dict]:
        """One incremental cron cycle after the data of the seeded stale
        assets changed (their ``updated_ts`` moves to now); returns its
        job-ledger rows."""
        from pyspark.sql import functions as F

        changed = self.spark.createDataFrame([(str(u),) for u in self.cat.table_uris[self.stale]],
                                             "asset_uri string")
        now = datetime.datetime.now(datetime.timezone.utc)
        assets = (self.assets.join(F.broadcast(changed.withColumn("_changed", F.lit(now))), "asset_uri", "left")
                  .withColumn("updated_ts", F.coalesce("_changed", "updated_ts")).drop("_changed"))
        n0 = len(self.eng.jobs)
        self.eng.run_ready_configs(assets, now=NOW0 + datetime.timedelta(days=1), incremental=True, **self.kw)
        return self.eng.jobs[n0:]

    def check_refresh(self, tally: stats.Tally, ledger: list[dict]) -> None:
        """The cycle updated exactly the seeded stale assets: its event
        count equals their expected tags, the assets its history events
        name are exactly the stale set, and the store still holds
        tables x static fields + fused rows + sensitive rows + dataset
        tags."""
        from pyspark.sql import functions as F

        want = int(self.cat.expected_tags_per_table()[self.stale].sum())
        events = sum(r["tasks_success"] for r in ledger)
        tally.record(events == want and _ledger_ok(ledger), f"refresh events {events}, expected {want}")
        asset = F.regexp_extract("asset_name", r"^(.*?/table/[^/]+)", 1)
        got = {r["a"] for r in self.eng.history().filter(F.col("job_uuid").isin([r["job_uuid"] for r in ledger]))
               .select(asset.alias("a")).distinct().collect()}
        want_assets = {I.singular_name(str(u)) for u in self.cat.table_uris[self.stale]}
        tally.record(got == want_assets, f"refresh touched {len(got)} assets, stale set has {len(want_assets)}")
        want_rows = self.cat.expected_store_rows()
        state = self.eng.store.all().count()
        tally.record(state == want_rows, f"store rows {state}, expected {want_rows}")


def catalog(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    res = Result()
    c = Catalog(ctx)
    cat, eng = c.cat, c.eng
    res.engine = eng
    per_table = cat.expected_tags_per_table()
    is_stale = np.zeros(cat.n_tables, bool)
    is_stale[c.stale] = True
    # seeded lookup order over table assets
    order = np.random.default_rng([ctx.seed, 5]).permutation(cat.n_tables)

    def step(name, fn):
        try:
            out, dt = _timed(fn)
        except Exception as exc:
            res.tally.record(False, f"{name}: {type(exc).__name__}: {exc}")
            return None, 0.0
        res.tally.record(True)
        return out, dt

    ctx.begin()
    cpu = [ctx.cpu_begin["own"]]
    ctx.op(0)
    ledger, refresh_s = step("refresh cycle", c.refresh_cycle)
    cpu.append(cpu_counters(ctx.jvm_pid)["own"])
    ctx.op(1)
    n0 = len(eng.jobs)
    _, export_s = step("export", lambda: eng.trigger_job(c.export_cfg))
    export_ledger = eng.jobs[n0:]
    cpu.append(cpu_counters(ctx.jvm_pid)["own"])
    ctx.op(2)

    def coverage():
        with ctx.span("coverage.collect"):
            return eng.coverage_report(c.assets).collect()

    cov, coverage_s = step("coverage", coverage)
    cpu.append(cpu_counters(ctx.jvm_pid)["own"])

    lookups: dict[str, list[float]] = {k: [] for k in LOOKUP_KINDS}
    n_reads = max(len(LOOKUP_KINDS), round(ctx.seconds * READS_PER_SECOND))
    for i, a in enumerate(order[:n_reads]):
        kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
        u = str(cat.table_uris[a])
        ctx.op(3 + i)
        try:
            t = time.perf_counter()
            with ctx.span(f"read.{kind}"):
                if kind == "current":
                    rows = eng.store.all().filter(F.col("asset_uri") == u).collect()
                elif kind == "audit":
                    s = I.singular_name(u)
                    rows = eng.history().filter((F.col("asset_name") == s)
                                                | F.col("asset_name").startswith(s + "/column/")).collect()
                else:
                    rows = eng.recent_log_entries(25).collect()
            dt = time.perf_counter() - t
        except Exception as exc:
            res.tally.record(False, f"read {kind} {u}: {type(exc).__name__}: {exc}")
            continue
        # the audit trail holds the snapshot's CREATE per tag, plus an
        # UPDATE per tag when the refresh recomputed the asset
        want = 25 if kind == "recent" else int(per_table[a]) * (2 if kind == "audit" and is_stale[a] else 1)
        if res.tally.record(len(rows) == want, f"read {kind} {u}: {len(rows)} rows, expected {want}"):
            res.op_samples.append(dt)
            lookups[kind].append(dt)
    ctx.end()
    cpu.append(ctx.cpu_end["own"])
    res.ops = 3 + sum(map(len, lookups.values()))
    tick = os.sysconf("SC_CLK_TCK")
    res.extra["phase_cpu_s"] = {phase: (b - a) / tick for phase, a, b in
                                zip(("refresh", "export", "coverage", "reads"), cpu, cpu[1:])}

    if ledger is not None:
        c.check_refresh(res.tally, ledger)
    res.tally.record(_ledger_ok(export_ledger), f"export ledger {export_ledger}")
    # export rows per grain == matching store rows; coverage tag_count
    # sum == store rows of the covered assets
    tags = eng.store.all()
    want = {
        "catalog_report_dataset_tags": tags.filter(~F.col("asset_uri").contains("/tables/")).count(),
        "catalog_report_table_tags": tags.filter(F.col("column").isNull()
                                                 & F.col("asset_uri").contains("/tables/")).count(),
        "catalog_report_column_tags": tags.filter(F.col("column").isNotNull()).count(),
    }
    written = {name: _parquet_rows(os.path.join(c.export_dir, name)) for name in want}
    for name in want:
        res.tally.record(written[name] == want[name], f"{name}: wrote {written[name]}, store has {want[name]}")
    covered = c.assets.filter(F.col("project").isin(c.included) & ~F.col("dataset").isin(c.excluded_ds))
    want_cov = tags.join(covered.select("asset_uri"), "asset_uri", "left_semi").count()
    got_cov = sum(r["tag_count"] for r in cov or [])
    res.tally.record(got_cov == want_cov, f"coverage tag_count {got_cov}, store rows {want_cov}")

    # batch throughput: tag rows the refresh wrote, the export wrote and
    # the coverage report counted, per second of those three steps
    refresh_rows = sum(r["tasks_success"] for r in ledger or [])
    res.rows = refresh_rows + sum(written.values()) + got_cov
    res.rows_s = refresh_s + export_s + coverage_s
    res.extra.update(refresh_s=refresh_s, refresh_rows=refresh_rows, export_s=export_s,
                     coverage_s=coverage_s, export_rows=sum(written.values()),
                     export_bytes=sum(_dir_bytes(os.path.join(c.export_dir, n)) for n in want),
                     lookups=lookups)
    return res


def _ledger_ok(rows: list[dict]) -> bool:
    return bool(rows) and all(r["job_status"] == "SUCCESS" for r in rows)


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
               for root, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


WORKLOADS = {"interactive": interactive, "catalog": catalog}
