"""Closed-loop benchmark for locopy_spark.

Run from the repository root:

    python3 perfbench/run.py --workload etl_roundtrip --seed 1 --seconds 25 --trace 0

One client (this process, one driver thread) issues the workload's ops
back to back.  A run starts the Spark session, generates the seeded
inputs, runs one warm-up pass (together: ``setup_s``), checks the
warm-up results against an independent oracle once, then runs a fixed
number of timed passes over the op list and checks every op's result.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from in-memory spans, see tracer.py) with
``--trace 1``.  The traced run also writes every span to
``perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WORKLOAD_NAMES = ("etl_roundtrip", "analytics_mix")
# steady-state seconds per pass at the pinned settings (4-core x86
# container); the pass count is derived from --seconds with these, so
# it never depends on how fast a particular run happens to be
PASS_S = {"etl_roundtrip": 3.2, "analytics_mix": 5.0}
MIN_PASSES = 2
# stop starting new passes this long after process start, whatever the
# pass count says, so a run on a slow or loaded machine still ends in time
WALL_CAP_S = 140.0
DRIVER_MEM = "2g"

E2E = {
    "setup_s": "s",
    "job_p50_s": "s",
    "ops_per_s": "1/s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.datagen_s": "s",
    "session.warmup_s": "s",
    "session.jvm_gc_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    "utility.split_s": "s",
    "utility.compress_s": "s",
    "utility.compress_ratio": "ratio",
    "stage.put_s": "s",
    "stage.bytes": "bytes",
    "copy.load_s": "s",
    "copy.rows": "count",
    "copy.rows_rejected": "count",
    "unload.write_s": "s",
    "unload.files": "count",
    "unload.bytes_per_row": "bytes",
    "schema_inference.infer_s": "s",
    "dataframe_io.insert_s": "s",
    "database.execute_s": "s",
    "database.fetch_s": "s",
    "database.rows_fetched": "count",
    "queries.tpch_s": "s",
    "queries.events_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "functions.text_s": "s",
    "operators.dedup.useful_ratio": "ratio",
    "operators.similarity.useful_ratio": "ratio",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "bench.check_s": "s",
    "trace.overhead_ratio": "ratio",
}


def engine_cores() -> int:
    """Engine cores: half the CPUs this process may use, at most 2.  The
    other half runs the driver thread, the JVM's JIT and GC threads and
    Python; on a shared 4-vCPU box the spread of pass times across runs
    was 14% of the median at 3 cores and 9% at 2, at the same speed."""
    return max(1, min(2, len(os.sched_getaffinity(0)) // 2))


class Ctx:
    """What the workloads share: session, warehouse, tracer, dirs."""

    def __init__(self, seed: int, scratch: str, cores: int):
        self.seed = seed
        self.scratch = scratch
        self.cores = cores
        self.data_dir = os.path.join(scratch, "data")
        self.stage_root = os.path.join(scratch, "stage")
        self.spark = None
        self.db = None
        self.tracer = None


def start_session(ctx: Ctx, workload: str) -> None:
    from locopy_spark.session import get_spark
    from locopy_spark.warehouse import Warehouse

    from tracer import Tracer

    tmp = os.path.join(ctx.scratch, "tmp")
    ctx.spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
            "spark.local.dir": os.path.join(ctx.scratch, "local"),
            "spark.ui.showConsoleProgress": "false",
            # get_spark's code-cache flags, plus a per-run java tmpdir
            "spark.driver.extraJavaOptions": (
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        },
    )
    os.makedirs(ctx.stage_root, exist_ok=True)
    ctx.db = Warehouse(spark=ctx.spark, stage_root=ctx.stage_root)
    ctx.tracer = Tracer(ctx.spark.sparkContext)


def stop_session(ctx: Ctx) -> None:
    """Stop Spark, then the JVM the gateway launched, and wait for it."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    ctx.spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args) -> dict:
    import workloads

    t_start = time.perf_counter()
    cores = engine_cores()
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=os.path.join(ROOT, ".perfbench_run"))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, d))
    # run settings, pinned before the session reads them
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")

    ctx = Ctx(args.seed, scratch, cores)
    try:
        return measure(args, ctx, workloads, t_start)
    finally:
        stop_session(ctx)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch dir is still there


def measure(args, ctx: Ctx, workloads, t_start: float) -> dict:
    wl_cls = workloads.WORKLOADS[args.workload]
    if args.sf is not None:
        wl_cls.sf = args.sf
    if args.etl_rows is not None:
        wl_cls.file_rows = args.etl_rows
        wl_cls.frame_rows = max(100, args.etl_rows // 3)

    t0 = time.perf_counter()
    start_session(ctx, args.workload)
    start_s = time.perf_counter() - t0
    wl = wl_cls(ctx)
    tr = ctx.tracer

    t0 = time.perf_counter()
    inputs = wl.setup()
    datagen_s = time.perf_counter() - t0

    attempted = failed = 0
    failures: list[str] = []

    def note(ok: bool, what: str) -> None:
        nonlocal failed
        if not ok:
            failed += 1
            if len(failures) < 20:
                failures.append(what)

    done_ops = 0

    refs: dict = {}

    def run_pass(pass_id: int, keep: dict | None = None) -> tuple[float, float]:
        """One pass over the op list; returns (op time, check time).
        Only the op calls are timed; checks run between ops.  With
        ``keep``, results are kept there and become the references."""
        nonlocal attempted, done_ops
        elapsed = chk = 0.0
        for op in wl.ops:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.op_scope(op):
                    res = wl.run_op(op, pass_id)
            except Exception as e:
                elapsed += time.perf_counter() - t0
                note(False, f"pass {pass_id} {op}: {e!r}")
                continue
            elapsed += time.perf_counter() - t0
            done_ops += 1
            t0 = time.perf_counter()
            try:
                if keep is not None:
                    keep[op], refs[op] = res, wl.reference(op, res)
                ok, msg = wl.check(op, res, refs.get(op))
            except Exception as e:
                ok, msg = False, repr(e)
            note(ok, f"pass {pass_id} {op}: {msg}")
            chk += time.perf_counter() - t0
        wl.end_pass(pass_id)
        return elapsed, chk

    # warm-up pass: fills JIT, codegen and Python caches; its results
    # are the references every timed pass is compared with
    t0 = time.perf_counter()
    warm: dict = {}
    run_pass(0, keep=warm)
    warmup_s = time.perf_counter() - t0
    setup_s = start_s + datagen_s + warmup_s

    if len(refs) == len(wl.ops):
        for op, (ok, msg) in wl.oracle(refs).items():
            note(ok, f"oracle {op}: {msg}")
        run_metrics = wl.per_run_metrics(warm)
    else:
        run_metrics = {}
    if args.plant_wrong:
        wl.plant_wrong(refs)

    n_passes = max(MIN_PASSES, round(args.seconds / PASS_S[args.workload]))
    pass_s: list[float] = []
    traced_s: list[float] = []
    plain_s: list[float] = []
    check_s: list[float] = []
    done_ops = 0  # count timed ops only
    gc0 = jvm_gc_s(ctx.spark)
    for i in range(1, n_passes + 1):
        if i > MIN_PASSES and time.perf_counter() - t_start > WALL_CAP_S:
            break
        # traced run: odd passes traced, even passes plain, so the
        # tracing overhead is measured within the run
        traced = bool(args.trace) and i % 2 == 1
        tr.on, tr.pass_id = traced, i
        elapsed, chk = run_pass(i)
        tr.on = False
        pass_s.append(elapsed)
        check_s.append(chk)
        (traced_s if traced else plain_s).append(elapsed)
    gc_s = jvm_gc_s(ctx.spark) - gc0

    settings = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "engine_cores": ctx.cores, "driver_mem": DRIVER_MEM,
        "console_progress": False, "passes": len(pass_s),
        "ops_per_pass": len(wl.ops), "inputs": inputs,
    }
    job_p50 = statistics.median(pass_s)
    e2e = {
        "setup_s": (setup_s, "1 run: session start + input generation + warm-up pass"),
        "job_p50_s": (job_p50, f"median of {len(pass_s)} passes"),
        "ops_per_s": (done_ops / sum(pass_s), f"{done_ops} ops over {sum(pass_s):.2f} s"),
        "ok_ratio": ((attempted - failed) / attempted, f"{attempted} ops attempted"),
    }
    print("settings " + json.dumps(settings))
    for name, (val, samples) in e2e.items():
        print(f"{name} = {val:.6g} {E2E[name]} ({samples})")
    print(f"fail_ratio = {failed / attempted:.6g} ratio ({failed} failed / {attempted} attempted)")
    print("pass_s " + " ".join(f"{p:.3f}" for p in pass_s))
    for f in failures:
        print("FAILED " + f)

    if args.trace:
        layer = tr.layer_medians()
        counts = tr.last_counts()
        engine = tr.engine_per_pass()
        values = {
            "session.start_s": start_s,
            "session.datagen_s": datagen_s,
            "session.warmup_s": warmup_s,
            "session.jvm_gc_s": gc_s,
            "session.jvm_peak_rss_mb": jvm_peak_rss_mb(ctx.spark),
            "session.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "bench.check_s": statistics.median(check_s),
            "trace.overhead_ratio": statistics.median(traced_s) / statistics.median(plain_s),
            **{f"engine.{k}": v for k, v in engine.items()},
            **run_metrics,
        }
        for name in PER_LAYER:
            if name in values:
                continue
            base = name[: -len("_s")] if name.endswith("_s") else None
            values[name] = layer.get(base, 0.0) if base else counts.get(name, 0)
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tr.write(
            os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"settings": settings, "metrics": metrics,
             "pass_s": pass_s, "traced_pass_s": traced_s, "plain_pass_s": plain_s},
        )
    else:
        metrics = {n: {"value": v, "unit": E2E[n]} for n, (v, _) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--etl-rows", type=int, help="override the ETL input rows")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected value (the checks must catch it)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "locopy_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (locopy_spark/ not found)",
              file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        sys.path.insert(0, p)
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
