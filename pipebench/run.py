"""Pipeline benchmark: one workload per call, each in a fresh process.

    python3 pipebench/run.py --workload ondemand_api --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed``, starts ``worker.py`` in a
fresh process (its own SparkSession and JVM) that warms up and then runs
operations for ``--seconds``, checks the landed outputs against values
recomputed from the inputs, and prints the metrics. The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a run whose timed
operations are traced. The exit code is non-zero when the
program is missing, a worker fails or an output check fails.

Set-up (from starting the worker until the SparkSession is up and, for
``ondemand_api``, the API server is bound) and each timed operation (a
week, a request with its status polls, a cycle) are measured three ways:
wall-clock time (``setup_wall_s`` and the per-workload latency, printed
only); the CPU seconds of the worker's process tree (Python, the JVM and
its Python workers) outside the JVM's JIT compiler threads (``setup_s``
and ``op_cpu_s``, the end-to-end metrics of the JSON result); and the CPU
seconds of those compiler threads (``setup_jit_cpu_s``, ``op_jit_cpu_s``,
printed). On a loaded 4-core shared host, wall time spread about 0.3 of
its median over five runs and the JIT's CPU per operation (about half of
a collector cycle's CPU early in the process, falling as the JVM warms
up) moved by a third between runs of the same input; the CPU outside the
JIT spread under 0.1. When the host's per-core speed itself changes,
every one of these changes with it.

Workloads (closed loop, one client):

- ``weekly_batch``: the Monday cron, ``runner.run_weekly_batch`` in
  production mode over all farms, one report week per operation, the
  weeks in turn, landed into the same growing tables.
- ``ondemand_api``: ``POST /api/etl/run-farm`` against ``api.make_server``
  over a small events table, farms 1-9 in turn over the report weeks, each
  followed by status polls. Per-request engine overhead, not data volume,
  sets the latency.
- ``weather_hourly``: consecutive hourly KMA village-forecast cycles from
  a fake transport through ``RestSource``, ``collect_village_forecast``
  and a keyed MERGE into growing hourly and daily tables.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
from spans import dir_bytes  # noqa: E402

WORKLOADS = ("weekly_batch", "ondemand_api", "weather_hourly")
# Hard cap on the worker process, so a run ends within its time limit.
WORKER_TIMEOUT_S = 160


def _cores(value: str) -> int:
    return len(os.sched_getaffinity(0)) if value == "nproc" else int(value)


def _spawn(args, work: Path, env: dict, log) -> dict:
    """Run ``worker.py`` in its own process group; return its result."""
    result = work / "result.json"
    spawned = time.monotonic()
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace",
           str(args.trace), "--work", str(work), "--spawned-at", repr(spawned),
           "--result", str(result)]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # The worker stops its JVM; anything left in its group is killed.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not result.exists():
        raise RuntimeError(f"worker exited with {rc}")
    return json.loads(result.read_text())


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc",
                    help="local[N] Spark cores and shuffle partitions ('nproc': all usable)")
    ap.add_argument("--driver-memory", default="1g", help="driver JVM heap")
    args = ap.parse_args()

    if not (ROOT / "inspig_etl_spark" / "__init__.py").is_file():
        print(f"inspig_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".pipebench" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "in").mkdir(parents=True)
    (work / "tmp").mkdir()
    if args.workload in gen.EVENT_SIZES:
        size = gen.EVENT_SIZES[args.workload]
        gen.write_events(str(work / "in" / "events.parquet"), args.seed,
                         size["events"], size["users"])
    cores = _cores(args.cores)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cores),
               SPARK_GRAFT_DRIVER_MEM=args.driver_memory,
               PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
               # Keep Spark's and the JVM's scratch files inside the checkout.
               SPARK_LOCAL_DIRS=str(work / "tmp"),
               TMPDIR=str(work / "tmp"),
               # Keep the JIT compiler threads for the JVM's life instead of
               # starting and reaping extra ones with the compile queue, so
               # the worker can read their CPU time and leave it out of
               # op_cpu_s. The number of compiler threads is unchanged.
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                                 "-XX:-UseDynamicNumberOfCompilerThreads")
    env.pop("SPARK_GRAFT_SF_DIR", None)

    with open(work / "worker.log", "w") as log:
        try:
            res = _spawn(args, work, env, log)
        except RuntimeError as exc:
            print(f"{exc}; see {work / 'worker.log'}", file=sys.stderr)
            return 1

    if args.workload == "weekly_batch":
        failures = checks.check_weekly(res, work)
    elif args.workload == "ondemand_api":
        failures = checks.check_ondemand(res, work)
    else:
        failures = checks.check_weather(res, work, args.seed)
    stored = res["stored_bytes"] / max(res["stored_rows"], 1)
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    lat = [o["latency_s"] for o in ops if o["ok"]]
    cpu = [o["cpu_s"] for o in ops if o["ok"]]
    jit = [o["jit_cpu_s"] for o in ops if o["ok"]]
    if not lat:
        print(f"all {len(ops)} operations failed; see {work / 'worker.log'}", file=sys.stderr)
        return 1
    if failed:
        failures.append(f"{failed} of {len(ops)} operations failed")

    print(f"workload {args.workload} seed {args.seed}: {len(ops)} timed ops after "
          f"{res['warmup']} warm-up, {cores} cores, driver memory {args.driver_memory}")
    op_name = {"weekly_batch": "weekly_week_p50_s", "ondemand_api": "run_farm_p50_s",
               "weather_hourly": "weather_cycle_p50_s"}[args.workload]
    rows = [
        ("setup_s", res["setup_cpu_s"], "s", 1),
        ("setup_wall_s", res["setup_wall_s"], "s", 1),
        ("setup_jit_cpu_s", res["setup_jit_cpu_s"], "s", 1),
        (op_name, statistics.median(lat), "s", len(lat)),
        ("op_cpu_s", statistics.median(cpu), "s", len(cpu)),
        ("op_jit_cpu_s", statistics.median(jit), "s", len(jit)),
    ]
    if args.workload == "ondemand_api":
        st = res["status_latencies_s"]
        rows += [("status_p50_s", statistics.median(st), "s", len(st)),
                 ("status_p90_s", _quantile(st, 0.9), "s", len(st))]
    rows += [
        ("stored_bytes_per_row", stored, "B/row", res["stored_rows"]),
        ("failed_ops_share", failed / len(ops), "ratio", len(ops)),
        ("peak_rss_mb", res["py_rss_mb"] + res["jvm_rss_mb"], "MB", 1),
    ]
    for name, value, unit, n in rows:
        print(f"  {name:24s} {value:14.6g} {unit:6s} n={n}")
    for f in failures:
        print(f"CHECK FAILED: {f}")

    if args.trace:
        live_bytes = sum(dir_bytes(str(work / "out" / t)) for t in res["tables"])
        layers, lines = report.per_layer(res, live_bytes)
        metrics = {k: layers[k] for k in report.RESULT_LAYERS}
        (work / "trace.json").write_text(json.dumps(res["spans"]))
        (work / "trace_report.txt").write_text("\n".join(lines) + "\n")
        print("\n".join(lines))
        print(f"spans: {work / 'trace.json'}")
        units = {k: v[0] for k, v in report.PER_LAYER.items()}
    else:
        # The wall-clock latency and stored_bytes_per_row are printed above
        # but left out of the result. Latency spreads past any usable bound
        # on a shared host (see the module docstring). The weekly wide
        # table lands as 1 or 9 parquet files for the same input from run
        # to run, so stored_bytes_per_row is bimodal.
        printed = {name: value for name, value, _, _ in rows}
        metrics = {k: printed[k] for k in ("setup_s", "op_cpu_s", "peak_rss_mb")}
        units = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
