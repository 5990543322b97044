"""One benchmark workload in a fresh process with its own SparkSession.

Started by ``run.py``; writes its measurements to ``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
from spans import Tracer, dir_bytes  # noqa: E402

HOURLY_KEYS = ["nx", "ny", "wk_date", "wk_time"]
DAILY_KEYS = ["nx", "ny", "wk_date"]
# The on-demand client: one closed-loop client; after each run-farm POST it
# polls the status of the posted farm and of the next POLLS - 1 farms.
# POLLS is an unverified choice: the repo does not say how often the web UI
# polls.
FARMS = range(1, 10)
POLLS = 3
# Operations run before timing starts. The first operations of a process
# pay JIT compilation and code generation: the first run-farm request takes
# about 2x a warm one, the first collector cycle about 4x. The API server
# and the collector are long-lived, so their warm operations are timed. The
# weekly cron starts a fresh process every Monday, so its first, cold week
# is timed. The JIT keeps compiling through a dozen more collector cycles,
# but op_cpu_s leaves its threads out and is within about 10% of its later
# level from the third cycle on, so two warm-up cycles are run.
WARMUP = {"weekly_batch": 0, "ondemand_api": 1, "weather_hourly": 2}


class Counters:
    """Scheduler and JVM counters read between operations."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm

    def next_job(self) -> int:
        v = self.sc._jsc.sc().dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    def tasks(self, first_job: int, end_job: int) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in range(first_job, end_job):
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU seconds, JIT CPU seconds) used so far by process ``root`` and
    every process under it, the reaped ones included: the worker, its JVM
    and any Python workers the JVM starts. The first figure leaves out the
    second, the JVM's JIT compiler threads (kept alive for the JVM's life,
    see ``run.py``, so their time can be read). CPU time is user + system;
    time the hypervisor gives to other guests (steal) is not in it."""
    ticks = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        # After the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15).
        parent[int(d)] = int(fields[1])
        used[int(d)] = sum(int(x) for x in fields[11:15])
        comm[int(d)] = head.split("(", 1)[1]
    total = jit = 0
    for pid, t in used.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p != root:
            continue
        total += t
        if comm[pid] == "java":
            jit += _compiler_ticks(pid)
    return (total - jit) / ticks, jit / ticks


def _compiler_ticks(pid: int) -> int:
    """User + system ticks of the JIT compiler threads of JVM ``pid``."""
    n = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if " CompilerThre" in head:
            fields = rest.split()
            n += int(fields[11]) + int(fields[12])
    return n


def _http(url: str, body: dict | None = None) -> tuple[int, dict]:
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(url, data=data, headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


class Weekly:
    """The Monday cron: one ``runner.run_weekly_batch`` week per operation,
    production mode (no farm panel, no deletes), all farms, the report
    weeks in turn. Each week lands through ``replace_by_key`` and
    ``staged_overwrite`` and writes its run manifest."""

    tables = ("ts_ins_week_sub", "ts_ins_week")

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None) -> None:
        self.spark = spark
        self.work = work
        self.weeks: list[dict] = []
        self.calls = 0

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        from inspig_etl_spark import runner

        base = gen.BASE_DATES[i % len(gen.BASE_DATES)]
        plan = runner.resolve_plan(runner.parse_args(
            ["weekly", "--base-date", base, "--sf-dir", str(self.work / "in"),
             "--output", str(self.work / "out")]))
        t0 = time.perf_counter()
        results = runner.run_weekly_batch(self.spark, plan, init_all=False, init_week=False)
        latency = time.perf_counter() - t0
        self.weeks.append({"op": i, "base_date": base, "results": results})
        return latency, all(r["status"] == "success" for r in results)

    def close(self) -> None:
        pass

    def result(self, timed: set[int]) -> dict:
        return {"weeks": self.weeks}


class OnDemand:
    """Closed loop over ``POST /api/etl/run-farm`` + status polls."""

    tables = ("ts_ins_week_sub", "ts_ins_week")

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None) -> None:
        from inspig_etl_spark import api

        self.tracer = tracer
        self.server = api.make_server(spark, str(work / "in"), str(work / "out"))
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.posts: list[dict] = []
        self.polls: list[dict] = []
        self.calls = 0

    def _call(self, kind: str, url: str, body: dict | None, traced: bool) -> dict:
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span(f"client.{kind}", adopt=True):
                code, resp = _http(url, body)
        else:
            code, resp = _http(url, body)
        return {"code": code, "body": resp, "latency_s": time.perf_counter() - t0}

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        farm = FARMS[i % len(FARMS)]
        ins_date = gen.BASE_DATES[i % len(gen.BASE_DATES)].replace("-", "")
        body = {"farmNo": farm, "dayGb": "WEEK", "insDate": ins_date}
        post = self._call("run_farm", f"{self.base}/api/etl/run-farm", body, traced)
        post.update(op=i, farm=farm, ins_date=ins_date)
        self.posts.append(post)
        ok = post["code"] == 200 and post["body"].get("status") == "success"
        for k in range(POLLS):
            f = FARMS[(i + k) % len(FARMS)]
            poll = self._call("status", f"{self.base}/api/etl/status/{f}", None, traced)
            poll.update(op=i, farm=f)
            self.polls.append(poll)
            ok = ok and poll["code"] == 200
        return post["latency_s"], ok

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def result(self, timed: set[int]) -> dict:
        return {
            "posts": [{k: p[k] for k in ("op", "farm", "ins_date", "code", "body", "latency_s")}
                      for p in self.posts],
            "polls": [{k: p[k] for k in ("op", "farm", "code", "body", "latency_s")}
                      for p in self.polls],
            "status_latencies_s": [p["latency_s"] for p in self.polls if p["op"] in timed],
        }


class Weather:
    """Consecutive hourly KMA collector cycles into keyed hourly/daily
    tables through the package's micro-batch upsert (read, MERGE, swap)."""

    tables = ("tm_weather_hourly", "tm_weather")

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None) -> None:
        self.spark = spark
        self.out = work / "out"
        self.feed = gen.WeatherFeed(seed)
        self.calls = 0

    def _transport(self, url: str, params: dict) -> tuple[int, dict]:
        self.calls += 1
        return self.feed.transport(url, params)

    def prepare(self, c: int) -> None:
        # The fake server's side of the cycle, outside the timed window.
        self.feed.begin_cycle(c)

    def op(self, c: int, traced: bool) -> tuple[float, bool]:
        from inspig_etl_spark.sources import rest, weather_api
        from inspig_etl_spark.streaming import incremental

        t0 = time.perf_counter()
        keys = rest.ApiKeyManager([f"key-{k}" for k in range(gen.WEATHER_KEYS)])
        source = rest.RestSource("http://kma.invalid/getVilageFcst", keys, self._transport)
        base_date, base_time = gen.cycle_base(c)
        daily, hourly = weather_api.collect_village_forecast(
            self.spark, source, self.feed.grids, base_date, base_time
        )
        for df, name, k in ((hourly, "tm_weather_hourly", HOURLY_KEYS),
                            (daily, "tm_weather", DAILY_KEYS)):
            upsert = incremental.foreach_batch_upsert(str(self.out / name), k, df.schema.toDDL())
            upsert(df, c)
        return time.perf_counter() - t0, True

    def close(self) -> None:
        pass

    def result(self, timed: set[int]) -> dict:
        return {"transport_calls": self.calls}


WORKLOADS = {"weekly_batch": Weekly, "ondemand_api": OnDemand, "weather_hourly": Weather}


def _stored(out: Path, tables) -> tuple[int, int]:
    """(on-disk bytes, rows) of the landed tables, from the file system and
    the parquet footers."""
    import pyarrow.parquet as pq

    nbytes = sum(dir_bytes(str(out / t)) for t in tables)
    rows = sum(pq.ParquetFile(f).metadata.num_rows
               for t in tables for f in (out / t).rglob("*.parquet"))
    return nbytes, rows


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    so its peak RSS shows in this process's child rusage."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    work = Path(args.work)

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
        tracer.op = "setup"
    from inspig_etl_spark import session

    spark = session.get_spark(f"pipebench-{args.workload}")
    workload = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    setup_wall_s = time.monotonic() - args.spawned_at
    setup_cpu_s, setup_jit_cpu_s = tree_cpu_s(os.getpid())
    if tracer:
        tracer.uninstall()
        tracer.op = None
    out: dict = {"setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
                 "setup_jit_cpu_s": setup_jit_cpu_s}
    spark.sparkContext.setLogLevel("ERROR")
    counters = Counters(spark) if tracer else None
    for i in range(WARMUP[args.workload]):
        workload.prepare(i)
        workload.op(i, False)
    ops = []
    i = WARMUP[args.workload]
    deadline = time.perf_counter() + args.seconds
    while True:
        workload.prepare(i)
        if tracer:
            tracer.install()
            tracer.op = f"op-{i}"
            job0, gc0 = counters.next_job(), counters.gc_s()
        calls0 = workload.calls
        cpu0, jit0 = tree_cpu_s(os.getpid())
        try:
            if tracer:
                with tracer.span("op", adopt=True):
                    latency, ok = workload.op(i, True)
            else:
                latency, ok = workload.op(i, False)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"op {i} failed: {exc!r}", file=sys.stderr)
            latency, ok = float("nan"), False
        cpu1, jit1 = tree_cpu_s(os.getpid())
        rec = {"op": i, "latency_s": latency, "ok": ok, "cpu_s": cpu1 - cpu0,
               "jit_cpu_s": jit1 - jit0, "transport_calls": workload.calls - calls0}
        if tracer:
            tracer.uninstall()
            job1 = counters.next_job()
            rec.update(jobs=job1 - job0, tasks=counters.tasks(job0, job1),
                       gc_s=counters.gc_s() - gc0)
        ops.append(rec)
        if len(ops) == 1:
            # Stored size after a fixed number of operations, so that
            # it does not depend on how many fit in the run.
            out["stored_bytes"], out["stored_rows"] = _stored(
                work / "out", workload.tables)
        i += 1
        if time.perf_counter() >= deadline:
            break
    out.update(ops=ops, warmup=WARMUP[args.workload], tables=workload.tables,
               **workload.result({o["op"] for o in ops}))
    if tracer:
        out["spans"] = tracer.spans
        out["span_cost_s"] = Tracer.span_cost()
    workload.close()
    _stop_jvm(spark)
    out["py_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    out["jvm_rss_mb"] = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
