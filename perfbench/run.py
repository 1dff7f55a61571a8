"""Benchmark of the extraction engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates the workload's
inputs from the seed (cached per seed under ``.perfbench/``), starts a
``local[N]`` session with N = the cores this process may use, times its
set-up, runs the workload's operations in a closed loop with one client
for ``--seconds``, checks the outputs and prints, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (and writes the run's spans under
``.perfbench/traces/``).  A failed correctness check makes the exit code
non-zero.  Metric definitions: ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# how long processes left after the session stops get to exit by
# themselves before they are killed
REAP_GRACE_S = 30.0
PR_SET_CHILD_SUBREAPER = 36


def _layer_means(ops: list[dict]) -> dict:
    keys = {k for op in ops for k in op}
    return {k: statistics.fmean(op.get(k, 0.0) for op in ops) for k in keys}


def _env(run_dir: str, cores: int) -> None:
    """Executors import the package from the checkout; every temporary
    file of Spark, the JVM and Python stays under the run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _warm_up(spark, cores: int) -> None:
    """Start the Python worker pool: one task per core, each importing
    the extraction kernel module."""

    def boot(batches):
        import doclayout_yolo_spark.pipeline  # noqa: F401, PLC0415

        yield from batches

    spark.range(cores * 4, numPartitions=cores).mapInPandas(boot, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _stop(spark) -> None:
    """Stop the session (if one was made), then the JVM it launched, and
    wait for it."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _adopt_orphans() -> None:
    """Become the child subreaper of every process this run starts, so
    that the Python worker daemon and its workers, orphaned when the JVM
    exits, are re-parented here and can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    """Stop the input generator's resource tracker, then wait for every
    remaining child (orphans included, see ``_adopt_orphans``) to exit,
    killing those still alive after ``REAP_GRACE_S``."""
    from multiprocessing import resource_tracker  # noqa: PLC0415

    from tracing import process_tree  # noqa: PLC0415

    me = os.getpid()
    resource_tracker._resource_tracker._stop()  # noqa: SLF001 — no public API
    deadline = time.monotonic() + REAP_GRACE_S
    while kids := [pid for pid, f in process_tree(me).items() if f[1] == str(me)]:
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "doclayout_yolo_spark")) or not os.path.isfile(spec_path):
        print(f"needs the doclayout_yolo_spark package and BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads  # noqa: PLC0415
    from tracing import RssSampler, SqlReader, Tracer  # noqa: PLC0415

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, run = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir)
    _env(run_dir, cores)
    os.chdir(run_dir)  # spark-warehouse/ and friends land here

    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    from doclayout_yolo_spark.session import get_spark  # noqa: PLC0415

    def start():
        return get_spark(app=f"perfbench-{args.workload}", master=f"local[{cores}]")

    _adopt_orphans()
    spark = None
    setups = []
    try:
        # inputs: generated (or found) before any session exists
        meta = prepare(work, args.seed, cores)
        phase("inputs")
        print(f"# inputs: {json.dumps(_input_sizes(meta))}", flush=True)

        t0 = time.perf_counter()
        spark = start()
        jvm_s = time.perf_counter() - t0
        phase("jvm")
        for _ in range(SETUP_REPEATS):
            spark.stop()
            t0 = time.perf_counter()
            spark = start()
            _warm_up(spark, cores)
            setups.append(time.perf_counter() - t0)
        phase("setups")

        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, run_dir=run_dir, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace),
            sql=SqlReader(spark) if args.trace else None,
        )
        with RssSampler(enabled=bool(args.trace)) as rss, tracer.span("workload", args.workload):
            run(ctx, meta, phase)
        ctx.layers["rss.peak_mb"] = rss.peak_mb
    finally:
        try:
            _stop(spark)
        finally:
            _reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)
    phase("stop")

    values = {
        "setup_s": statistics.median(setups),
        "op_cpu_s": statistics.median(ctx.op_cpus),
        "first_op_cpu_s": ctx.first_op_cpu_s,
    }
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]
    ctx.check(not missing, f"end-to-end metrics not measured: {missing}")
    ops = len(ctx.op_walls) + len(ctx.traced_walls) + 1
    for name, (value, unit, n) in sorted(ctx.figures.items()):
        print(f"# {name} = {value:.4f} {unit} (n={n})")
    print(f"# error_ratio = {ctx.failed / max(ctx.attempted, 1):.6f} ratio (n={ctx.attempted})")
    print(f"# operations = {ops} (1 cold, {len(ctx.op_walls)} untraced, {len(ctx.traced_walls)} traced)")
    print(f"# phases_s = {json.dumps(phases)}")
    print(f"# first_op_s = {ctx.first_op_s:.3f} (wall)")
    print(f"# op_walls_s = {json.dumps([round(w, 3) for w in ctx.op_walls])}")
    print(f"# op_cpu_s = {json.dumps([round(c, 2) for c in ctx.op_cpus])}")
    print(f"# host_steal_share = {ctx.steal_share:.4f} (over the window)")
    for e in ctx.errors:
        print(f"# CHECK FAILED: {e}")

    if args.trace:
        layers = _layer_means(ctx.layer_ops)
        layers.update(ctx.layers)
        layers["setup.jvm_s"] = jvm_s
        kernel = sum(layers.get(f"kernel.{k}", 0.0) for k in ("parse_s", "detect_s", "nms_s", "assemble_s"))
        layers["arrow.crossing_s"] = layers.get("python.total_s", 0.0) - kernel
        if "extract_docs_per_s" in ctx.figures and layers.get("kernel.docs_per_core_s"):
            layers["scaling.kernel_efficiency"] = ctx.figures["extract_docs_per_s"][0] / (
                cores * layers["kernel.docs_per_core_s"]
            )
        layers["op.wall_s"] = statistics.median(ctx.op_walls)
        layers["first_op.wall_s"] = ctx.first_op_s
        layers["trace.overhead_s"] = statistics.median(ctx.traced_walls) - layers["op.wall_s"]
        layers["host.steal_share"] = ctx.steal_share
        layers["trace.spans"] = len(tracer.spans)
        for kind, s in tracer.self_times().items():
            layers[f"self.{kind}_s"] = s
        tracer.write(os.path.join(work, "traces", f"{run_id}.json"))
        wanted = spec["per_layer"]
    else:
        layers = values
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    correct = not ctx.errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _input_sizes(meta: dict) -> dict:
    if "pages" in meta:
        p = meta["pages"]
        return {"docs": p["docs"], "html_bytes": p["html_bytes"], "cached": p["cached"]}
    if "snapshots" in meta:
        return {
            "snapshots": [{"docs": s["docs"], "html_bytes": s["html_bytes"]} for s in meta["snapshots"]],
            "updates": [{k: u[k] for k in ("added", "removed", "changed")} for u in meta["updates"]],
            "cached": meta["cached"],
        }
    return {"sf_dir": os.path.basename(meta["sf_dir"]), "queries": meta["queries"]}


if __name__ == "__main__":
    sys.exit(main())
