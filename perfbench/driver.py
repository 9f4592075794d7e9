"""Timed loops of the two workloads and their metrics.

`measure` runs the workload's cold set-up operation, then its timed loop
for at least `--seconds` seconds, checking every timed operation. With
tracing on it also records spans; `layer_report` turns those spans and the
Spark event log into the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys
from contextlib import nullcontext

from . import harness, mix
from .harness import Ledger, RssSampler, clock, geomean, median
from .trace import Tracer, gap, jobs_within, read_jobs, self_time

MIN_HOURS = 2
MIN_PASSES = 1

# ------------------------------------------------------------------ names

ETL_LAYERS = [
    "pipelines.run_pipeline_s", "pipelines.build_s", "sources.header_check_s",
    "operators.validation_s", "operators.validation_jobs", "sources.csv_sink_s",
    "sinks.upsert_s", "sinks.upsert_jobs", "sources.archive_s",
    "spark.jobs.etl", "spark.tasks.etl", "spark.shuffle_bytes.etl", "driver.gap_s.etl",
]
MIX_TOTALS = ["spark.build_jobs.mix", "spark.tasks.mix", "spark.shuffle_bytes.mix", "driver.gap_s.mix"]
# the workload-level figures; each is reported on its own workload only
SUMMARY = {
    "etl_run_s": "s", "etl_events_per_s": "rows/s",
    "mix_pass_s": "s", "query_geomean_s": "s", "shared_s": "s",
    "failed_frac": "ratio",
}


def layer_names() -> list[str]:
    names = list(ETL_LAYERS)
    for q in mix.ROWS:
        names += [f"plans.build_s.{q}", f"catalyst.plan_s.{q}", f"spark.exec_s.{q}", f"spark.jobs.{q}"]
    names += MIX_TOTALS
    names += list(SUMMARY) + ["memory.peak_rss_mb", "trace.op_s"]
    return names


def layer_unit(name: str) -> str:
    if name in SUMMARY:
        return SUMMARY[name]
    if name == "memory.peak_rss_mb":
        return "MiB"
    if "bytes" in name:
        return "B"
    if "jobs" in name or "tasks" in name:
        return "count"
    return "s"


# ------------------------------------------------------------------ loops


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _etl(args, state, spark, ledger, tracer, rss):
    t0 = clock()
    # the cold hour runs every code path of an hour on a tenth of the rows
    h, paths = state.land(rows=state.file_rows // 10)
    try:
        state.run_hour(spark, h, paths)
    except Exception as e:  # noqa: BLE001
        ledger.fail(f"cold hour {h}", e)
    prep = clock() - t0
    if rss is not None:
        rss.start()
    ops, rows = [], 0
    start = clock()
    while len(ops) < MIN_HOURS or clock() - start < args.seconds:
        h, paths = state.land()
        rows += state.rows_in(paths)
        t = clock()
        try:
            with _span(tracer, f"op:hour:{h}"):
                state.run_hour(spark, h, paths)
        except Exception as e:  # noqa: BLE001
            ops.append(clock() - t)
            ledger.fail(f"hour {h}", e)
            continue
        ops.append(clock() - t)
        ledger.check(f"hour {h}", lambda: state.check(spark, h, paths, args.plant_fault))
    return prep, ops, {"etl_run_s": median(ops), "etl_events_per_s": rows / sum(ops)}


def _mix(args, state, spark, ledger, tracer, rss):
    t0 = clock()
    for name in mix.ROWS:  # the cold pass: compiles, JITs, fills the rows' caches
        try:
            state.execute(spark, name)
        except Exception as e:  # noqa: BLE001
            ledger.fail(f"cold row {name}", e)
    prep = clock() - t0
    if rss is not None:
        rss.start()
    per_row = {q: [] for q in mix.ROWS}
    passes = []
    planted = not args.plant_fault
    start = clock()
    while len(passes) < MIN_PASSES or clock() - start < args.seconds:
        total = 0.0
        for name in mix.pass_order(state):
            try:
                with _span(tracer, f"op:row:{name}"):
                    b, x, n, rows, cols = state.execute(spark, name, tracer)
            except Exception as e:  # noqa: BLE001
                ledger.fail(f"row {name}", e)
                continue
            if not planted and rows:
                rows, n, planted = rows[1:], n - 1, True
            ledger.check(f"row {name}", lambda: state.oracle.matches(name, cols, n, rows))
            per_row[name].append(b + x)
            total += b + x
        passes.append(total)
    med = {q: median(v) for q, v in per_row.items() if v}
    print(json.dumps({"row_s": med}), flush=True)
    return prep, passes, {
        "mix_pass_s": median(passes),
        "query_geomean_s": geomean(med.values()),
        "shared_s": sum(med.get(q, 0.0) for q in mix.SHARED),
    }


LOOPS = {"hourly_etl": _etl, "registry_mix": _mix}


def _install(workload: str, tracer: Tracer) -> None:
    from s3_to_redshift_with_airflow_spark.operators import kpi, validation
    from s3_to_redshift_with_airflow_spark.pipelines import music_etl
    from s3_to_redshift_with_airflow_spark.sinks import jdbc_upsert
    from s3_to_redshift_with_airflow_spark.sources import readers, writers

    if workload == "hourly_etl":
        tracer.wrap(music_etl, "run_pipeline", "pipelines.run_pipeline")
        tracer.wrap(readers, "missing_required_columns", "sources.header_check", music_etl)
        tracer.wrap(validation, "validate_datasets", "operators.validation", music_etl)
        tracer.wrap(writers, "write_csv_single", "sources.csv_sink", music_etl)
        tracer.wrap(kpi, "prepare_hourly_for_warehouse", "operators.prepare_hourly")
        tracer.wrap(jdbc_upsert, "write_upsert", "sinks.upsert")
        tracer.wrap(writers, "archive_files", "sources.archive")


def measure(args, state, spark, build_s) -> dict:
    """Cold operation, then the timed loop. The traced run also samples
    RSS over the timed phase and keeps its spans for `layer_report`."""
    ledger = Ledger()
    tracer = rss = None
    if args.trace:
        tracer, rss = Tracer(), RssSampler()
        _install(args.workload, tracer)
    try:
        prep, ops, summary = LOOPS[args.workload](args, state, spark, ledger, tracer, rss)
    finally:
        if tracer is not None:
            tracer.restore()
            rss.stop()
    summary["failed_frac"] = ledger.failed / max(1, ledger.attempted)
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {
            "setup_s": {"value": build_s + prep, "unit": "s"},
            "op_s": {"value": median(ops), "unit": "s"},
        },
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "op_times": ops,
                      "summary": {k: {"value": v, "unit": SUMMARY[k]} for k, v in summary.items()},
                      "errors": ledger.errors[:5]}), flush=True)
    if tracer is not None:
        summary["memory.peak_rss_mb"] = rss.peak_mb
        result["_trace"] = (tracer, summary, median(ops))
    return result


# ------------------------------------------------------------------ layers


def layer_report(args, result, eventlog_dir: str) -> dict:
    tracer, summary, op_s = result.pop("_trace")
    jobs = read_jobs(eventlog_dir)
    tracer.attribute(jobs)
    sp = tracer.spans
    vals = {n: 0.0 for n in layer_names()}

    def med_over(ops, fn):
        return median([fn(o) for o in ops]) if ops else 0.0

    if args.workload == "hourly_etl":
        hours = tracer.named("op:hour")

        def inside(o, name):
            return [s for s in sp if s.name == name and o.contains(s)]

        def dur(o, name):
            return sum(s.dur for s in inside(o, name))

        def njobs(o, name):
            return sum(len(jobs_within(s, sp)) for s in inside(o, name))

        vals["pipelines.run_pipeline_s"] = med_over(hours, lambda o: dur(o, "pipelines.run_pipeline"))
        vals["pipelines.build_s"] = med_over(
            hours, lambda o: sum(self_time(s, sp) for s in inside(o, "pipelines.run_pipeline"))
        )
        vals["sources.header_check_s"] = med_over(hours, lambda o: dur(o, "sources.header_check"))
        vals["operators.validation_s"] = med_over(hours, lambda o: dur(o, "operators.validation"))
        vals["operators.validation_jobs"] = med_over(hours, lambda o: njobs(o, "operators.validation"))
        vals["sources.csv_sink_s"] = med_over(hours, lambda o: dur(o, "sources.csv_sink"))
        vals["sinks.upsert_s"] = med_over(hours, lambda o: dur(o, "sinks.upsert"))
        vals["sinks.upsert_jobs"] = med_over(hours, lambda o: njobs(o, "sinks.upsert"))
        vals["sources.archive_s"] = med_over(hours, lambda o: dur(o, "sources.archive"))
        vals["spark.jobs.etl"] = med_over(hours, lambda o: len(jobs_within(o, sp)))
        vals["spark.tasks.etl"] = med_over(hours, lambda o: sum(j["tasks"] for j in jobs_within(o, sp)))
        vals["spark.shuffle_bytes.etl"] = med_over(
            hours, lambda o: sum(j["shuffle_bytes"] for j in jobs_within(o, sp))
        )
        vals["driver.gap_s.etl"] = med_over(hours, lambda o: gap(o, jobs_within(o, sp)))
    elif args.workload == "registry_mix":
        rows = tracer.named("op:row")
        for q in mix.ROWS:
            mine = [s for s in rows if s.name == f"op:row:{q}"]

            def part(o, kind, q=q):
                return [s for s in sp if s.name == f"{kind}:{q}" and o.contains(s)]

            vals[f"plans.build_s.{q}"] = med_over(mine, lambda o: sum(s.dur for s in part(o, "plans.build")))
            vals[f"catalyst.plan_s.{q}"] = med_over(mine, lambda o: sum(s.dur for s in part(o, "catalyst.plan")))
            vals[f"spark.exec_s.{q}"] = med_over(mine, lambda o: sum(s.dur for s in part(o, "spark.exec")))
            vals[f"spark.jobs.{q}"] = med_over(
                mine, lambda o: sum(len(jobs_within(s, sp)) for s in part(o, "spark.exec"))
            )
        n_pass = max(1, len(rows) // len(mix.ROWS))
        build = [s for s in sp if s.name.startswith("plans.build:") and s.parent is not None]
        vals["spark.build_jobs.mix"] = sum(len(jobs_within(s, sp)) for s in build) / n_pass
        all_jobs = [j for o in rows for j in jobs_within(o, sp)]
        vals["spark.tasks.mix"] = sum(j["tasks"] for j in all_jobs) / n_pass
        vals["spark.shuffle_bytes.mix"] = sum(j["shuffle_bytes"] for j in all_jobs) / n_pass
        vals["driver.gap_s.mix"] = sum(gap(o, jobs_within(o, sp)) for o in rows) / n_pass
    vals.update(summary)
    vals["trace.op_s"] = op_s
    _print_overhead(args, op_s)
    result["metrics"] = {n: {"value": float(v), "unit": layer_unit(n)} for n, v in vals.items()}
    return result


def _record_path(args) -> str:
    size = "-small" if args.small else ""
    return os.path.join(harness.WORK, f"untraced-{args.workload}{size}.json")


def record_untraced(args, result) -> None:
    os.makedirs(harness.WORK, exist_ok=True)
    with open(_record_path(args), "w") as f:
        json.dump({"seed": args.seed, "op_s": result["metrics"]["op_s"]["value"]}, f)


def _print_overhead(args, traced_op_s: float) -> None:
    try:
        with open(_record_path(args)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        print("perfbench: tracing overhead unknown (no untraced run of this workload yet)", file=sys.stderr)
        return
    print(json.dumps({"tracing_overhead_s": traced_op_s - rec["op_s"], "traced_op_s": traced_op_s,
                      "untraced_op_s": rec["op_s"], "untraced_seed": rec["seed"]}), flush=True)
