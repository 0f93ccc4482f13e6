"""spark-graft benchmark: one workload as a single-client closed loop.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repo root. One process starts one Spark session
(``local[nproc]``, ``shuffle_partitions = nproc``), generates the workload's
inputs from ``--seed``, checks every op's full result once, then times whole
passes over the workload's distinct ops, each submitted only after the
previous one returned. The seed also fixes the op order of every pass.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it is the run record: box state (cpus,
steal, void), sf, seed, commit and every figure behind the metrics. Spark's
warehouse, local dirs, checkpoints and temp files live in a per-run directory
under ``.perfbench-work/`` that is removed at exit; a traced run writes its
spans to ``.perfbench-out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

import measure as tr  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("bench.py", "tests/oracle.py", "data_engineering_zoomcamp_my_test_spark/__init__.py")
VOID_STEAL_PCT = 2.0

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "sources.inference_jobs": "count",
    "sources.inference_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_cold_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.eager_jobs": "count",
    "lineage.cut_jobs": "count",
    "lineage.cut_s": "s",
    "operators.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_core_s": "s",
    "spark.executor_cpu_core_s": "s",
    "spark.slot_busy_share": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.s_per_batch": "s",
    "streaming.jobs": "count",
    "sources.read_source_s": "s",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "B",
    "sinks.write_amplification": "ratio",
    "plans.sql_s": "s",
    "pipeline.stage_s.fetch": "s",
    "pipeline.stage_s.read": "s",
    "pipeline.stage_s.transform": "s",
    "pipeline.stage_s.land": "s",
    "pipeline.stage_s.query": "s",
    "pipeline.attempts_per_stage": "ratio",
    "pipeline.cache_hit_share": "ratio",
    "trace.overhead_s": "s",
}
_STAGES = ("fetch", "read", "transform", "land", "query")


def _isolate(work: str) -> None:
    """Point every temp, local and warehouse dir of Python, the JVM and
    Spark at ``work`` so a run leaves nothing behind."""
    for sub in ("tmp", "local", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    )


def _tail(latencies: list[float]) -> tuple[float, float]:
    """The latency at the highest percentile with >= 10 samples beyond it
    (the maximum when there are 10 or fewer), and that percentile."""
    xs = sorted(latencies)
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


class Runner:
    """Runs ops under their own job groups and, when traced, attributes the
    jobs each op spawned to layers."""

    def __init__(self, spark, workload):
        from data_engineering_zoomcamp_my_test_spark.streaming import windows

        self.spark, self.workload = spark, workload
        self.store = tr.StatusStore(spark)
        self.windows = windows
        self.seq = 0
        self.spans: list[dict] = []

    def run(self, op, traced: bool, acc: dict) -> tuple[float, str | None]:
        self.seq += 1
        group = f"perfbench-{self.seq}"
        self.spark.sparkContext.setJobGroup(group, op.name)
        if traced:
            j0 = self.store.next_job_id()
            self.windows.LAST_RUN_STATE.clear()
            self.workload.layer.clear()
        err = None
        t0 = time.perf_counter()
        t1 = None
        try:
            built = op.build()
            t1 = time.perf_counter()
            if traced:
                j1 = self.store.next_job_id()
                t1 = time.perf_counter()
            rows = op.action(built)
            err = op.check(built, rows)
        except Exception as exc:  # noqa: BLE001 - counted as failed, never retried
            err = f"{op.name}: {exc!r}"[:300]
        t2 = time.perf_counter()
        if not traced:
            return t2 - t0, err
        if t1 is None:
            t1, j1 = t2, None
        j2 = self.store.next_job_id()
        jobs = self.store.jobs(j0, j2)
        span = {"op": op.name, "seq": self.seq, "build_s": t1 - t0, "action_s": t2 - t1,
                "error": err, "jobs": []}
        acc["operators.construct_s"] += t1 - t0
        acc["operators.execute_s"] += t2 - t1
        acc["op_wall_s"] += t2 - t0
        batches = set()
        for job in jobs:
            build_phase = j1 is None or job["id"] < j1
            if job["group"] != group:
                cls = "streaming"
                acc["streaming.jobs"] += 1
                if "batch = " in job["description"]:
                    batches.add((job["group"], job["description"].rsplit("batch = ", 1)[1]))
            elif job["description"] == tr.SINK_JOB:
                cls = "sink"
                acc["sinks.jobs"] += 1
            elif build_phase:
                cls = tr.classify(job["name"])
                acc["operators.construct_jobs"] += 1
                key = {"inference": "sources.inference", "cut": "lineage.cut"}.get(cls)
                if key:
                    acc[f"{key}_jobs"] += 1
                    acc[f"{key}_s"] += job["seconds"]
                else:
                    acc["operators.eager_jobs"] += 1
            else:
                cls = "execute"
            acc["spark.jobs"] += 1
            for st in job["stages"]:
                acc["spark.stages"] += 1
                acc["spark.tasks"] += st["tasks"]
                acc["spark.executor_run_core_s"] += st["run_s"]
                acc["spark.executor_cpu_core_s"] += st["cpu_s"]
                for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                    acc[f"spark.{k}"] += st[k]
            span["jobs"].append({"id": job["id"], "class": cls, "name": job["name"],
                                 "seconds": job["seconds"], "stages": job["stages"]})
        if batches:
            acc["streaming.batches"] += len(batches)
            acc["streaming.replay_s"] += t1 - t0
        for state in self.windows.LAST_RUN_STATE.values():
            acc["streaming.state_rows"] += state["rows"]
            acc["streaming.state_bytes"] += state["bytes"]
        for k, v in self.workload.layer.items():
            acc[k] += v
        self.spans.append(span)
        return t2 - t0, err


def _layer_metrics(accs: list[dict], workload, cpus: int, cold_load_s: float,
                   session_s: float, overhead_s: float) -> dict[str, float]:
    """Per-pass means of the traced passes' accumulators."""
    n = len(accs)
    mean = defaultdict(float)
    for acc in accs:
        for k, v in acc.items():
            mean[k] += v / n
    out = {k: mean[k] for k in LAYER_UNITS if k in mean}
    out["session.start_s"] = session_s
    out["sources.load_table_cold_s"] = cold_load_s
    out["trace.overhead_s"] = overhead_s
    wall = mean["op_wall_s"]
    out["spark.slot_busy_share"] = mean["spark.executor_run_core_s"] / (wall * cpus) if wall else 0.0
    batches = mean["streaming.batches"]
    out["streaming.s_per_batch"] = mean["streaming.replay_s"] / batches if batches else 0.0
    runs = mean["pipeline.runs"]
    if runs:
        hits = runs - mean["attempts.fetch"]
        attempts = sum(mean[f"attempts.{s}"] for s in _STAGES)
        out["pipeline.cache_hit_share"] = hits / runs
        out["pipeline.attempts_per_stage"] = attempts / (runs * len(_STAGES) - hits)
        out["sinks.write_amplification"] = mean["sinks.bytes_written"] / (runs * workload.csv_bytes)
    return {k: float(out.get(k, 0.0)) for k in LAYER_UNITS}


def _measure(args, work: str) -> tuple[dict, dict]:
    import workloads
    from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

    wl = workloads.make(args.workload, small=args.small)
    t_gen = time.perf_counter()
    wl.inputs(work, args.seed)
    gen_s = time.perf_counter() - t_gen
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    t_session = time.perf_counter()
    spark = get_spark(EngineConfig(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        app_name="perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    ))
    session_s = time.perf_counter() - t_session
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
        cold_load_s = wl.load_tables(spark) if args.trace else 0.0
        t_check = time.perf_counter()
        wl.setup(spark)
        check_s = time.perf_counter() - t_check
        runner = Runner(spark, wl)
        pids = [os.getpid()] + [p for p in [tr.jvm_pid(spark)] if p]
        passes = max(wl.min_passes, round(args.seconds / wl.nominal_pass_s))
        if args.trace:
            # Untraced and traced passes alternate, so the tracing overhead
            # is not confounded with the JIT still warming up.
            passes *= 2
        rng = random.Random(args.seed)
        samples: dict[str, list[float]] = defaultdict(list)
        untraced: dict[str, list[float]] = defaultdict(list)
        errors: list[str] = []
        accs: list[dict] = []

        # Start the timed region from collected heaps, so it does not pay
        # for the check pass's garbage.
        gc.collect()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        setup_s = time.perf_counter() - T0
        stat0 = tr.cpu_shares()
        tr.reset_peak_rss(pids)
        t_timed = time.perf_counter()
        pass_totals: list[float] = []
        for p in range(passes):
            traced = bool(args.trace) and p % 2 == 1
            acc: dict = defaultdict(float)
            pass_totals.append(0.0)
            order = list(wl.ops)
            rng.shuffle(order)
            for op in order:
                dt, err = runner.run(op, traced, acc)
                pass_totals[-1] += dt
                (samples if traced or not args.trace else untraced)[op.name].append(dt)
                if err:
                    errors.append(err)
            if traced:
                acc["sources.load_table_s"] += wl.load_tables(spark)
                accs.append(acc)
        timed_s = time.perf_counter() - t_timed
        steal = tr.steal_pct(stat0, tr.cpu_shares())
        rss = tr.peak_rss_mb(pids)
    finally:
        gateway = spark.sparkContext._gateway  # noqa: SLF001
        spark.stop()
        _stop_jvm(gateway)

    lat = [x for xs in samples.values() for x in xs]
    pass_s = sum(statistics.median(xs) for xs in samples.values())
    tail, tail_pct = _tail(lat)
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_s": statistics.median(lat),
        "rows_per_s": sum(op.input_rows for op in wl.ops) / pass_s,
    }
    attempted = len(lat) + sum(len(xs) for xs in untraced.values())
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": wl.sf,
        "trace": args.trace,
        "cpus": cpus,
        "steal_pct": steal,
        "void": steal is not None and steal > VOID_STEAL_PCT,
        "commit": tr.git_commit(ROOT),
        "setup_parts_s": {"inputs": gen_s, "session": session_s, "check_pass": check_s},
        "passes": passes,
        "timed_s": timed_s,
        "pass_totals_s": pass_totals,
        "ops_per_pass": len(wl.ops),
        "op_tail_s": tail,
        "op_tail_percentile": tail_pct,
        "op_tail_samples": len(lat),
        "peak_rss_mb": rss,
        "input_rows_per_pass": sum(op.input_rows for op in wl.ops),
        "per_op_median_s": {k: statistics.median(v) for k, v in samples.items()},
        "failed_share": len(errors) / attempted,
        "check_failures": wl.check_failures,
        "errors": errors[:10],
        "metrics": e2e,
    }
    result = {
        "correct": not errors and not wl.check_failures,
        "attempted": attempted,
        "failed": len(errors),
    }
    if args.trace:
        base = sum(statistics.median(xs) for xs in untraced.values())
        layers = _layer_metrics(accs, wl, cpus, cold_load_s, session_s, pass_s - base)
        layers["process.peak_rss_mb"] = rss
        record["layers"] = layers
        record["untraced_pass_s"] = base
        result["metrics"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        _write_spans(args, runner.spans, record)
    else:
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    return record, result


def _stop_jvm(gateway) -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def _write_spans(args, spans: list[dict], record: dict) -> None:
    out = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"record": record, "spans": spans}, f, indent=1, default=str)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("headline", "pipelines"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs, for smoke runs")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a spark-graft checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    parent = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=parent)
    try:
        _isolate(work)
        import warnings

        warnings.simplefilter("ignore")
        record, result = _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
