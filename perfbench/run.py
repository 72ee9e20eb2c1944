"""Pipeline benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload dag_refresh --seed 1 --seconds 25 --trace 0

Run from the repository root. The run

1. sets up ``SETUP_REPS`` times: start the SparkSession through the
   program's ``session.get_spark`` and write the seeded inputs. The first
   set-up counts from process start (imports and JVM launch included), the
   others restart the SparkContext; ``setup_s`` is their median;
2. warms up untimed (one pass of the workload's code paths; for
   ``corpus_build`` this pass checks every query result against its
   DuckDB oracle);
3. repeats timed passes (at least ``MIN_PASSES``) while the next still
   fits in ``--seconds`` of measured time, with an untimed garbage
   collection before each, checking after every pass that its stage row
   counts match those the warm-up established, then checks the last
   pass's outputs untimed.

A failed check fails the run.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the Spark status API is on, timed passes alternate between
untraced and traced (at least untraced, traced, untraced), and the result
carries the per-layer metrics of the traced passes plus
``trace.overhead_s`` (median traced minus median untraced pass time). Spans are written to ``.bench_work/traces/``.

Everything the run writes stays under ``.bench_work/`` in the working
directory. Human-readable lines go to stderr; the last stdout line is the
JSON result. The exit code is 0 only when every operation and check passed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

SETUP_REPS = 3
# Timed passes per run, at least; a run ends on the first pass after which
# the next would not fit in --seconds.
MIN_PASSES = 3

# Input sizes per workload; "toy" is the smoke-test scale.
SCALES = {
    "full": {"dag_refresh": {"n_boats": 200, "days": 60},
             "corpus_build": {"n_base": 100}},
    "toy": {"dag_refresh": {"n_boats": 40, "days": 20},
            "corpus_build": {"n_base": 30}},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "rows_per_s": "1/s",
              "query_p50_s": "s", "query_p90_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from workloads import CORPUS_STAGES, DAG_STAGES

    units = {
        "session.start_s": "s",
        "plans.stages_run": "count", "plans.stages_skipped": "count",
        "plans.skip_ratio": "ratio",
        "sources.write_s": "s", "sources.bytes_written": "bytes",
        "sources.write_amplification": "ratio",
        "streaming.batches": "count", "streaming.rows_in": "count",
        "streaming.dup_dropped_ratio": "ratio", "streaming.batch_s": "s",
        "streaming.state_rows": "count",
    }
    for st in DAG_STAGES:
        units[f"pipeline.{st}.self_s"] = "s"
        units[f"pipeline.{st}.rows_out"] = "count"
    for st in CORPUS_STAGES:
        units[f"llm.{st}.self_s"] = "s"
    units["llm.near_dedup_ratio"] = "ratio"
    units["harness.build_s"] = "s"
    units["harness.exec_s"] = "s"
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_run_s": "s", "spark.core_busy_ratio": "ratio",
        "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
        "spark.max_result_bytes": "bytes",
        "trace.overhead_s": "s",
    })
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_resources(work: str) -> dict:
    """Environment for this process and the JVM it launches: all cores,
    a heap a sixteenth of RAM (1-4 GiB), two malloc arenas, and every
    scratch path under ``work``. Must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, mem_total_mb() // 16 // 256 * 256))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the JVM spark-submit starts to assemble the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # few glibc arenas: the JVM's resident size then no longer depends
        # on how many of its threads happened to malloc
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    for var in ("SPARK_GRAFT_SHUFFLE_INPUT", "PESKAS_CONFIG_ACTIVE"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None
    return {"cpus": cpus, "heap_mb": heap_mb}


def start_session(work: str, trace: bool):
    from peskas_timor_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap committed up front, so the resident size does not depend
        # on how far the heap had grown
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def shutdown(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibration_probe(spark, cpus: int) -> float:
    """Fixed synthetic CPU job (no repo code), best of two: host-speed
    context recorded with the result, never gated on."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.range(0, 20_000_000, 1, cpus)
         .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS s")
         .write.mode("overwrite").format("noop").save())
        best = min(best, time.perf_counter() - t0)
    return best


def make_workload(name: str, scale: str):
    from workloads import CorpusBuild, DagRefresh

    kinds = {"dag_refresh": DagRefresh, "corpus_build": CorpusBuild}
    return kinds[name](**SCALES[scale][name])


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="damage one output after the warm-up pass; the "
                         "correctness check must then fail the run")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work = os.path.abspath(os.path.join(
        ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    env = pin_resources(work)
    try:
        import peskas_timor_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2

    from spans import NullTracer, Tracer, instrument_runner
    from workloads import Ctx, stable_outputs

    wl = make_workload(args.workload, args.scale)
    tracer = Tracer(env["cpus"]) if trace else NullTracer()
    if trace:
        instrument_runner(tracer)
    spark = None
    attempted = failed = 0
    problems: list[str] = []
    try:
        setups, session_starts = [], []
        for rep in range(SETUP_REPS):
            t0 = T_PROCESS if rep == 0 else time.perf_counter()
            if spark is not None:
                spark.stop()
            s0 = time.perf_counter()
            spark = start_session(work, trace)
            session_starts.append(time.perf_counter() - s0)
            inputs = os.path.join(work, f"inputs-{rep}")
            wl.generate(args.seed, inputs)
            setups.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs-{rep - 1}"))
        log(f"setup {['%.2f' % s for s in setups]} s")
        if trace:
            tracer.attach(spark)
        ctx = Ctx(spark, tracer, work, args.corrupt_output)
        calib = calibration_probe(spark, env["cpus"])

        t0 = time.perf_counter()
        problems += wl.warm_up(ctx)
        attempted += 1
        failed += bool(problems)
        log(f"warm-up {time.perf_counter() - t0:.2f} s")
        walls = {False: [], True: []}
        ops: list[float] = []
        layer_rows: list[dict] = []
        measured = 0.0
        k = 0
        # a traced run alternates untraced and traced passes, starting and
        # ending untraced, so the overhead estimate straddles the JIT drift
        while not enough_passes(k, trace, measured, args.seconds,
                                walls[False] + walls[True]):
            traced = trace and k % 2 == 1
            tracer.active = traced
            tracer.pass_id = k
            quiesce(spark)
            t_pass = time.perf_counter()
            pass_ops = wl.run_pass(ctx)
            measured += time.perf_counter() - t_pass
            tracer.active = False
            walls[traced].append(wl.wall)
            ops += [sec for _, sec in pass_ops]
            attempted += len(pass_ops) + 1
            if bad := stable_outputs(wl):
                problems += bad
                failed += 1
            if traced:
                layer_rows.append(pass_layer_metrics(tracer, wl, ctx, k))
            log(f"pass {k} {'traced' if traced else 'untraced'} {wl.wall:.3f} s: "
                + " ".join(f"{n}={sec:.2f}" for n, sec in pass_ops))
            k += 1
        t0 = time.perf_counter()
        bad = wl.check(ctx)
        attempted += 1
        failed += bool(bad)
        problems += bad
        log(f"check {time.perf_counter() - t0:.2f} s")
        rss = peak_rss_mb(jvm_process())
        pass_s = statistics.median(walls[False])
        if trace:
            metrics = summarize_layers(layer_rows)
            metrics["session.start_s"] = statistics.median(session_starts)
            metrics["trace.overhead_s"] = (statistics.median(walls[True])
                                           - pass_s)
            units = per_layer_units()
            out = {n: {"value": metrics.get(n, 0.0), "unit": u}
                   for n, u in units.items()}
            tracer.dump(os.path.join(".bench_work", "traces",
                                     f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {
                "setup_s": statistics.median(setups),
                "pass_s": pass_s,
                "rows_per_s": wl.rows_in / pass_s,
                "query_p50_s": statistics.median(ops),
                "query_p90_s": p90(ops),
                "peak_rss_mb": rss,
            }
            out = {n: {"value": values[n], "unit": u}
                   for n, u in END_TO_END.items()}
        import duckdb
        import pyspark

        context = {
            "cpus": env["cpus"], "heap_mb": env["heap_mb"],
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0], "calibration_s": calib,
            "rows_in": wl.rows_in, "passes": len(walls[False]) + len(walls[True]),
            "operations": len(ops),
            "failed_ratio": failed / max(attempted, 1),
        }
        log("context " + json.dumps(context))
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        out = None
    finally:
        try:
            shutdown(spark)
        except Exception:
            log("shutdown failed:\n" + traceback.format_exc())
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    correct = out is not None and not problems and failed == 0
    if out is None:
        return 1
    for n, m in out.items():
        log(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    log(f"{args.workload} failed_ratio = {failed / attempted:.6g} "
        f"({failed} of {attempted} operations)")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def enough_passes(k: int, trace: bool, measured: float, seconds: float,
                  walls: list[float]) -> bool:
    """Stop once ``MIN_PASSES`` passes are done (a traced run also ends on
    an untraced pass) and the next pass, or the next traced and untraced
    pair, would take the measured time past ``seconds``."""
    if k < MIN_PASSES or (trace and k % 2 == 0):
        return False
    step = statistics.median(walls) * (2 if trace else 1)
    return measured + step > seconds


def quiesce(spark) -> None:
    """Collect garbage in both the Python driver and the JVM between passes
    (untimed), so a pass does not pay for the previous one's garbage."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def pass_layer_metrics(tracer, wl, ctx, pass_id: int) -> dict[str, float]:
    m = dict(tracer.take_counters())
    run = m.get("plans.stages_run", 0)
    skipped = m.get("plans.stages_skipped", 0)
    m["plans.skip_ratio"] = skipped / (run + skipped) if run + skipped else 0.0
    m["sources.write_amplification"] = (
        m.get("sources.bytes_written", 0) / wl.landed_bytes
        if wl.landed_bytes else 0.0)
    for name, sec in tracer.self_times(pass_id).items():
        m[f"{name}_s" if name.startswith("harness.") else f"{name}.self_s"] = sec
    m.update(tracer.spark_window(pass_id, wl.wall))
    m.update(wl.layer_metrics(ctx))
    return m


def summarize_layers(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


if __name__ == "__main__":
    sys.exit(main())
