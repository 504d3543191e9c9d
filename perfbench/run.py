#!/usr/bin/env python3
"""Tag-lifecycle benchmark for the Tag Engine's public ``TagEngine`` API.

One run:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

runs one workload (interactive | catalog) in this
process on local[<cpus>], checks the engine's outputs, prints a
human-readable report and, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. It exits 1 when a check failed, 2 when the engine
package is not beside the benchmark.

Steadiness report (k fresh processes, seeds seed..seed+k-1):

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0 --repeat 5

prints each metric's median, quartiles and relative spread; with
``--overhead`` it also runs the other trace mode on every seed and
prints the tracing overhead (traced minus untraced end-to-end medians).

Everything the run writes stays under ``.perfbench_work/`` in the
current directory; the traced run leaves its spans there as JSON lines.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datacatalog_tag_engine_spark"
sys.path.insert(0, ROOT)  # the engine package and perfbench itself

from perfbench import stats, trace, workloads  # noqa: E402

# gated end-to-end metrics: (name, unit); every workload reports all.
# Both are CPU seconds of this process plus the JVM: wall-clock figures
# are reported but not gated, because on a shared machine they follow
# the host's CPU steal far more than CPU time does
E2E = [("setup_s", "s"), ("work_cpu_s", "s")]
# per-layer metrics of the traced run that every workload reports
PER_LAYER = [
    ("dynamic.self_s", "s"), ("dynamic.per_asset_assets", "count"),
    ("dynamic.spark_jobs_per_asset", "jobs/asset"), ("dynamic.fused_rows", "rows"),
    ("tagstore.merge_s", "s"), ("tagstore.merge_calls", "count"),
    ("tagstore.merge_small_share", "ratio"), ("tagstore.rows_in", "rows"),
    ("tagstore.events_out", "rows"), ("tagstore.state_rows", "rows"),
    ("tagstore.state_partitions", "count"), ("tagstore.read_s", "s"),
    ("engine.self_s", "s"), ("uri.expand_calls", "count"), ("uri.matched_assets", "count"),
    ("incremental.stale_share", "ratio"), ("sensitive.tag_rows", "rows"),
    ("export.rows_written", "rows"), ("export.bytes_written", "bytes"),
    ("spark.jobs", "count"), ("spark.jobs_per_op", "jobs/op"),
]
# per-layer times that are zero by design on the workloads that bypass
# the layer; printed in the report, not in the JSON line
REPORT_ONLY = [("dynamic.per_asset_s", "s"), ("dynamic.fused_s", "s"),
               ("export.write_report_s", "s"), ("coverage.report_s", "s"),
               ("engine.history_read_s", "s")]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["interactive", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness report over this many fresh processes")
    ap.add_argument("--overhead", action="store_true", help="with --repeat: also run the other trace mode")
    return ap.parse_args(argv)


# -- environment ------------------------------------------------------------------


def prepare_environment(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` and size the session to this machine's cores."""
    import tempfile

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])


def start_spark():
    from datacatalog_tag_engine_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def job_id() -> int:
        # the scheduler's next job id: one counter for the application's
        # life, so deltas never undercount (unlike job-group listings,
        # which spark.ui.retainedJobs caps)
        return int(scheduler.nextJobId())

    return spark, job_id


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


# -- tracing ----------------------------------------------------------------------


def install_tracer(tracer) -> None:
    """Wrap the public entry points of each layer (from outside the
    package). Counting that needs Spark runs in ``tracer.own()`` so it
    is neither charged to a layer nor counted as the program's jobs."""
    from datacatalog_tag_engine_spark import engine as EN
    from datacatalog_tag_engine_spark.operators import dynamic as DYN
    from datacatalog_tag_engine_spark.operators import export as EXP
    from datacatalog_tag_engine_spark.operators import incremental as INC
    from datacatalog_tag_engine_spark.operators import uri as URI
    from datacatalog_tag_engine_spark.store import tagstore as TS

    def after_trigger(sp, args, kwargs, job_uuid):
        sp.attrs["job_uuid"] = job_uuid

    def after_merge(sp, args, kwargs, events):
        store = args[0]
        with tracer.own():
            counts = {r["action"]: r["count"] for r in events.groupBy("action").count().collect()}
        # a store whose state is still driver-resident merged on the
        # driver (TagStore.SMALL_STATE_MAX); promotion is one-way
        sp.attrs.update(events=sum(counts.values()),
                        rows_in=counts.get("CREATE", 0) + counts.get("UPDATE", 0),
                        small=getattr(store, "_rows", None) is not None)

    def after_per_asset(sp, args, kwargs, rows):
        sp.attrs["assets"] = len(kwargs["asset_uris"] if "asset_uris" in kwargs else args[2])

    def after_fused(sp, args, kwargs, df):
        # the traced run alone forces the fused plan before the merge,
        # so the executor's own cost shows apart from the checkpoint
        with tracer.span("dynamic.fused_force") as force:
            df.write.format("noop").mode("overwrite").save()
        tracer.excluded.append((force.jobs0, force.jobs1))

    def after_expand(sp, args, kwargs, df):
        with tracer.own():
            sp.attrs["matched"] = df.count()

    def after_stale(sp, args, kwargs, df):
        with tracer.own():
            sp.attrs.update(stale=df.count(), input=args[0].count())

    for name in ("trigger_job", "run_ready_configs", "export_reports", "coverage_report",
                 "history", "update_tag_subset", "copy_tags"):
        tracer.wrap(EN.TagEngine, name, f"engine.{name}", after_trigger if name == "trigger_job" else None)
    tracer.wrap(TS.TagStore, "merge", "tagstore.merge", after_merge)
    tracer.wrap(TS.TagStore, "all", "tagstore.all")
    tracer.wrap(DYN, "run_config_per_asset", "dynamic.run_config_per_asset", after_per_asset)
    tracer.wrap(DYN, "run_config_fused", "dynamic.run_config_fused", after_fused)
    tracer.wrap(DYN, "coerce_long_rows", "dynamic.coerce_long_rows")
    tracer.wrap(URI, "expand_included_excluded", "uri.expand_included_excluded", after_expand)
    tracer.wrap(INC, "stale_assets", "incremental.stale_assets", after_stale)
    tracer.wrap(EXP, "write_report", "export.write_report")


def layer_metrics(tracer, ctx, res) -> dict[str, float]:
    self_t = tracer.self_times()
    eng = res.engine
    ledger = {j["job_uuid"]: j for j in eng.jobs}
    trig = {s.id: s for s in tracer.by_name("engine.trigger_job")}

    def self_sum(*names):
        return sum(self_t[s.id] for s in tracer.by_name(*names))

    def ledger_rows(spans):
        return [ledger[s.attrs["job_uuid"]] for s in spans if s.attrs.get("job_uuid") in ledger]

    per_asset = tracer.by_name("dynamic.run_config_per_asset")
    n_assets = sum(s.attrs["assets"] for s in per_asset)
    fused_jobs = ledger_rows([trig[s.parent] for s in tracer.by_name("dynamic.run_config_fused")
                              if s.parent in trig])
    merges = tracer.by_name("tagstore.merge")
    stale = tracer.by_name("incremental.stale_assets")
    stale_in = sum(s.attrs["input"] for s in stale)
    expands = tracer.by_name("uri.expand_included_excluded")
    jobs = stats.job_delta(ctx.jobs_begin, ctx.jobs_end, tracer.excluded)
    state = eng.store.all()
    return {
        "dynamic.self_s": self_sum("dynamic.run_config_per_asset", "dynamic.run_config_fused",
                                   "dynamic.coerce_long_rows", "dynamic.fused_force"),
        "dynamic.per_asset_s": stats.union_length([(s.start, s.end) for s in per_asset],
                                                  float("-inf"), float("inf")),
        "dynamic.per_asset_assets": n_assets,
        "dynamic.spark_jobs_per_asset": tracer.jobs_in(per_asset) / n_assets if n_assets else 0.0,
        "dynamic.fused_s": tracer.total("dynamic.fused_force"),
        "dynamic.fused_rows": sum(j["tasks_success"] for j in fused_jobs),
        "tagstore.merge_s": tracer.total("tagstore.merge"),
        "tagstore.merge_calls": len(merges),
        "tagstore.merge_small_share": (sum(s.attrs["small"] for s in merges) / len(merges)) if merges else 0.0,
        "tagstore.rows_in": sum(s.attrs["rows_in"] for s in merges),
        "tagstore.events_out": sum(s.attrs["events"] for s in merges),
        "tagstore.state_rows": state.count(),
        "tagstore.state_partitions": state.rdd.getNumPartitions(),
        "tagstore.read_s": tracer.total("tagstore.all", "read.current"),
        "engine.self_s": self_sum("engine.trigger_job", "engine.run_ready_configs", "engine.export_reports",
                                  "engine.update_tag_subset", "engine.copy_tags"),
        "engine.history_read_s": tracer.total("engine.history", "read.audit", "read.recent"),
        "uri.expand_calls": len(expands),
        "uri.matched_assets": sum(s.attrs["matched"] for s in expands),
        "incremental.stale_share": sum(s.attrs["stale"] for s in stale) / stale_in if stale_in else 0.0,
        "sensitive.tag_rows": sum(j["tasks_success"] for j in ledger_rows(trig.values())
                                  if j["config_type"] == "SENSITIVE_TAG_COLUMN"),
        "export.write_report_s": tracer.total("export.write_report"),
        "export.rows_written": res.extra.get("export_rows", 0),
        "export.bytes_written": res.extra.get("export_bytes", 0),
        "coverage.report_s": tracer.total("engine.coverage_report", "coverage.collect"),
        "spark.jobs": jobs,
        "spark.jobs_per_op": jobs / res.ops if res.ops else 0.0,
    }


# -- one run ----------------------------------------------------------------------


def e2e_metrics(workload: str, ctx, res, rss: float) -> dict[str, dict]:
    """The gated end-to-end metrics plus the workload's named figures,
    each with its unit and sample count."""
    samples = res.op_samples
    p50 = stats.median(samples) if samples else float("nan")
    tail, pct = stats.tail(samples) if samples else (float("nan"), None)
    rate = res.rows / res.rows_s if res.rows_s else 0.0
    # CPU ticks of this process plus the JVM, and the host's steal share
    # of all CPU time, over the measured work. Both processes start in
    # set-up, so their CPU time at the first timed operation is the
    # set-up's
    tick = os.sysconf("SC_CLK_TCK")
    d = {k: ctx.cpu_end[k] - ctx.cpu_begin[k] for k in ctx.cpu_begin}
    out = {
        "setup_s": {"value": ctx.cpu_begin["own"] / tick, "unit": "s", "n": 1},
        "work_cpu_s": {"value": d["own"] / tick, "unit": "s", "n": res.ops},
        "setup_wall_s": {"value": ctx.t_begin - T_PROCESS, "unit": "s", "n": 1},
        "op_p50_s": {"value": p50, "unit": "s", "n": len(samples)},
        "work_s": {"value": ctx.t_end - ctx.t_begin, "unit": "s", "n": res.ops},
        "op_tail_s": {"value": tail, "unit": "s", "n": len(samples),
                      "percentile": pct if pct is not None else 100},
        "rows_per_s": {"value": rate, "unit": "rows/s", "n": res.rows},
        "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
    }
    named = {}
    if workload == "interactive":
        named["job_latency_p50_s"] = out["op_p50_s"]
        named[f"job_latency_p{out['op_tail_s']['percentile']}_s"] = out["op_tail_s"]
        named["tag_events_per_s"] = out["rows_per_s"]
        for kind, v in res.extra["phase_cpu_s"].items():
            named[f"{kind}_cpu_s"] = {"value": v, "unit": "s", "n": 1}
    else:
        x = res.extra
        named["incremental_refresh_s"] = {"value": x["refresh_s"], "unit": "s", "n": 1}
        named["refresh_tags_per_s"] = {"value": x["refresh_rows"] / x["refresh_s"] if x["refresh_s"] else 0.0,
                                       "unit": "rows/s", "n": x["refresh_rows"]}
        named["export_s"] = {"value": x["export_s"], "unit": "s", "n": 1}
        named["coverage_s"] = {"value": x["coverage_s"], "unit": "s", "n": 1}
        named["lookup_p50_s"] = out["op_p50_s"]
        named[f"lookup_p{out['op_tail_s']['percentile']}_s"] = out["op_tail_s"]
        for phase, v in x["phase_cpu_s"].items():
            named[f"{phase}_cpu_s"] = {"value": v, "unit": "s", "n": 1}
        for kind, vals in sorted(x["lookups"].items()):
            if vals:
                named[f"lookup_{kind}_p50_s"] = {"value": stats.median(vals), "unit": "s", "n": len(vals)}
    named["steal_share"] = {"value": d["steal"] / d["total"] if d["total"] else 0.0, "unit": "ratio", "n": 1}
    named["op_failure_ratio"] = {"value": res.tally.ratio, "unit": "ratio", "n": res.tally.attempted}
    return {**out, **named}


def run_once(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    prepare_environment(work)
    spark = None
    try:
        spark, job_id = start_spark()
        tracer = None
        if args.trace:
            tracer = trace.Tracer(job_id)
            install_tracer(tracer)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx = workloads.Context(spark, work, args.seed, args.seconds, tracer, job_id, jvm_pid)
        res = workloads.WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.enabled = False
        rss = peak_rss_mb(jvm_pid)
        e2e = e2e_metrics(args.workload, ctx, res, rss)
        layers = layer_metrics(tracer, ctx, res) if tracer is not None else {}
        if tracer is not None:
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    for name, m in e2e.items():
        extra = f" p{m['percentile']}" if "percentile" in m else ""
        print(f"# {name:<28} {m['value']:.6g} {m['unit']} (n={m['n']}{extra})")
    if layers:
        units = dict(PER_LAYER + REPORT_ONLY)
        print("# per-layer (whole run except the checks; lazy plans are charged to their first eager consumer)")
        for name in sorted(layers):
            print(f"# {name:<32} {layers[name]:.6g} {units[name]}")
    print(f"# attempted {res.tally.attempted} failed {res.tally.failed}")
    for reason in res.tally.reasons:
        print(f"# FAILED {reason}")
    print("E2E " + json.dumps({k: {"value": v["value"], "unit": v["unit"], "n": v["n"]} for k, v in e2e.items()}))
    if args.trace:
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name]["value"], "unit": unit} for name, unit in E2E}
    correct = res.tally.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.tally.attempted,
                      "failed": res.tally.failed, "metrics": metrics}))
    return 0 if correct else 1


# -- steadiness report --------------------------------------------------------------


def child(args, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(seed),
           "--seconds", f"{args.seconds:g}", "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"run with seed {seed} trace {trace} exited {proc.returncode}")
    e2e = json.loads(next(line[4:] for line in lines if line.startswith("E2E ")))
    e2e["wall_s"] = {"value": wall, "unit": "s", "n": 1}
    return json.loads(lines[-1]), e2e


def repeat(args) -> int:
    gated, named, other = {}, {}, {}
    for i in range(args.repeat):
        seed = args.seed + i
        last, e2e = child(args, seed, args.trace)
        for k, v in last["metrics"].items():
            gated.setdefault(k, []).append(v["value"])
        for k, v in e2e.items():
            named.setdefault(k, []).append(v["value"])
        if args.overhead:
            _, e2e_other = child(args, seed, 1 - args.trace)
            for k, v in e2e_other.items():
                other.setdefault(k, []).append(v["value"])
        print(f"# seed {seed}: " + ", ".join(f"{k}={v['value']:.6g}" for k, v in last["metrics"].items()),
              flush=True)
        print(f"# seed {seed} E2E " + json.dumps({k: round(v["value"], 6) for k, v in e2e.items()}), flush=True)

    def table(title, series):
        print(f"\n{title}\n{'metric':<32} {'median':>12} {'q1':>12} {'q3':>12} {'rel_iqr':>8}")
        for k, vals in series.items():
            s = stats.spread(vals)
            print(f"{k:<32} {s['median']:>12.6g} {s['q1']:>12.6g} {s['q3']:>12.6g} {s['rel_iqr']:>8.3f}")

    table(f"{args.workload}, {args.repeat} runs, trace {args.trace}: metrics of the JSON line", gated)
    table("all end-to-end figures", named)
    if args.overhead:
        traced, plain = (named, other) if args.trace else (other, named)
        print("\ntracing overhead: traced minus untraced median")
        for k in plain:
            if k in traced:
                d = stats.median(traced[k]) - stats.median(plain[k])
                print(f"{k:<32} {d:>+12.6g}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.repeat:
        return repeat(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
