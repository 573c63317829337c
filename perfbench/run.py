"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload glm --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, warms every build operation once on those inputs, then runs
passes of the workload's operation sequence: at least one, and another
only while it should end within ``--seconds``. Every output is checked.
The last line of standard output is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``. With ``--trace 0`` the metrics are
BENCHMARK.json's ``end_to_end`` list; with ``--trace 1`` they are its
``per_layer`` list, measured with a span around every call. The line
before it carries the run's settings, quality scores and per-op times.
The exit code is 1 when any check failed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3
# calls per op and pass, the same in every run so that each op's median
# is taken over the same calls. A serve op's first call after its model
# or index was built plans and compiles anew, so it gets at least three,
# and the median skips the first; a workload may ask for more (its CALLS).
CALLS = {"build": 1, "serve": 3}


def _driver_mem() -> str:
    """A quarter of the machine's memory, between 1 and 4 GiB: local mode
    runs the executors inside the driver heap, and get_spark's own
    default is sized for a much larger host."""
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{min(4, max(1, kib // (4 * 1024 * 1024)))}g"


def _prepare_env(run_dir: Path, driver_mem: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files, the warehouse) inside ``run_dir``; must run before Spark starts."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _call(fn, tracer, name: str):
    """Time one call, inside a span when tracing; returns (result,
    seconds, error)."""
    from prague_spark import SlopeModel

    err = None
    with tracer.span(name) if tracer else contextlib.nullcontext() as sp:
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # an op that raises counts as failed
            res, err = None, f"raised {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
    if sp is not None and isinstance(res, SlopeModel):
        sp.extra["passes"] = float(sum(res.passes))
    return res, dt, err


def _run_ops(w, tracer, times: dict, layer_rows: dict, failures: list):
    """One pass of the workload's operation sequence; returns (outputs,
    calls made)."""
    outputs: dict = {}
    calls = 0
    per_op = getattr(w, "CALLS", CALLS)
    for layer, op, kind, fn in w.ops():
        name = f"{layer}.{op}"
        for _ in range(per_op[kind]):
            res, dt, err = _call(fn, tracer, name)
            times.setdefault(name, []).append(dt)
            calls += 1
            if err is None:
                err = w.check(op, res)
            if err is not None:
                failures.append(f"{name}: {err}"[:300])
                break
        outputs[op] = res
    if tracer is not None:
        for name, m in tracer.drain():
            layer_rows.setdefault(name, []).append(m)
    return outputs, calls


def _warm(w, failures: list) -> int:
    """Call every build op once on the real inputs, untimed, each on its
    own thread: a first call pays for planning, codegen and JIT, which is
    mostly driver work that overlaps, and no build op reads another's
    output. Serve ops need no warm-up here, since the median over their
    calls skips their first call. Returns the number of calls."""
    from concurrent.futures import ThreadPoolExecutor

    builds = [op for op in w.ops() if op[2] == "build"]
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        errs = pool.map(lambda b: _call(b[3], None, "")[2], builds)
        for (layer, op, _kind, _fn), err in zip(builds, list(errs)):
            if err is not None:
                failures.append(f"warm-up {layer}.{op}: {err}"[:300])
    return len(builds)


def run(args, spec: dict, run_dir: Path) -> dict:
    sys.path.insert(1, str(ROOT))  # the library, from this checkout
    import workloads

    cpus = len(os.sched_getaffinity(0))
    driver_mem = _driver_mem()
    _prepare_env(run_dir, driver_mem)

    import prague_spark as ps

    t0 = time.perf_counter()
    spark = ps.get_spark("perfbench", cpus=cpus)
    t_get_spark = time.perf_counter() - t0
    t_spark = time.perf_counter() - T_PROCESS
    try:
        # set-up: generate and cache the inputs, several times, then warm
        w = workloads.WORKLOADS[args.workload]()
        w.work = str(run_dir / "work")
        t_load = []
        for i in range(SETUP_REPEATS):
            if i:
                w.unload()
            t0 = time.perf_counter()
            w.load(spark, args.seed)
            t_load.append(time.perf_counter() - t0)
        failures: list = []
        t0 = time.perf_counter()
        attempted = _warm(w, failures)
        t_warm = time.perf_counter() - t0
        setup_s = t_spark + t_warm + statistics.median(t_load)

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        times: dict = {}
        layer_rows: dict = {}
        scores = []
        kinds = {f"{layer}.{op}": kind for layer, op, kind, _ in w.ops()}
        t_begin = time.perf_counter()
        last = 0.0
        # start another pass only if it should end within --seconds
        while not scores or time.perf_counter() - t_begin + last <= args.seconds:
            t0 = time.perf_counter()
            outputs, calls = _run_ops(w, tracer, times, layer_rows, failures)
            last = time.perf_counter() - t0
            attempted += calls
            try:
                scores.append(w.scores(outputs))
            except Exception as e:
                failures.append(f"scores: {type(e).__name__}: {e}")
                scores.append({"failed": float("nan")})
        t_loop = time.perf_counter() - t_begin
        w.unload()
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    finally:
        _stop_spark(spark)

    med = {name: statistics.median(v) for name, v in times.items()}
    wall = sum(med.values())
    if args.trace:
        metrics = {"session.get_spark.s": t_get_spark,
                   "spark.persisted_rdds_end": float(persisted),
                   "trace.wall_s": wall}
        for name, rows in layer_rows.items():
            for key in rows[0]:
                metrics[f"{name}.{key}"] = statistics.median(r[key] for r in rows)
        err = w.check_trace(metrics) if hasattr(w, "check_trace") else None
        if err:
            failures.append(err)
        chosen = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "build_s": sum(v for k, v in med.items() if kinds[k] == "build"),
            "serve_s": sum(v for k, v in med.items() if kinds[k] == "serve"),
            "driver_peak_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            # the weakest of the workload's output-quality scores
            "quality": statistics.median(min(sc.values()) for sc in scores),
        }
        chosen = spec["end_to_end"]
    failed = len(failures)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "SPARK_DRIVER_MEM": driver_mem,
        "iterations": len(scores), "error_rate": failed / attempted,
        "scores": scores[-1],
        "setup_parts_s": {"spark": t_spark, "warm": t_warm, "load": t_load},
        "loop_s": t_loop,
        "op_median_s": med, "op_calls_s": times, "failures": failures[:10],
    }
    return {
        "info": info,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                            "unit": m["unit"]}
                for m in chosen
            },
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    tmp_root = ROOT / ".perfbench_tmp"
    run_dir = tmp_root / f"run-{os.getpid()}"
    try:
        out = run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
