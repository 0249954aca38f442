"""The benchmark's workloads: boot the engine in-process, drive its
public HTTP facade from one client, check the answers, report metrics.

``ingest``    closed loop, 1 client: 5,000-line Telegraf-shaped writes
              (5% re-send an earlier key: LWW upserts), a Flux
              downsampling task run after every 8th write, one
              compaction after the timed phase.
``dashboard`` closed loop, 1 client: rounds of six Grafana panels (four
              Flux, two InfluxQL) over a compacted half hour of 50 hosts.
"""

from __future__ import annotations

import json
import random
import resource
import shutil
import statistics
import sys
import time
import urllib.error
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter

import checks
import gen
import tracing

ORG = "greengrass"
SECRET = {"influxdb_username": "greengrass", "influxdb_password": "ValidPassword#123"}
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "requests_per_s": "1/s",
    "disk_bytes_per_point": "bytes",
    "peak_rss_mb": "MB",
}
SETUP_REPEATS = 3
WARM_UP_WRITES = 10
TASK_EVERY_WRITES = 8
DOWNSAMPLE_BUCKET = "telemetry-1m"
DOWNSAMPLE_TASK = (
    'option task = {name: "cpu-1m", every: 1m}\n'
    f'from(bucket: "{gen.BUCKET}")\n'
    "  |> range(start: -10m)\n"
    '  |> filter(fn: (r) => r._measurement == "cpu" and r._field == "usage_user")\n'
    "  |> aggregateWindow(every: 1m, fn: mean)\n"
    f'  |> to(bucket: "{DOWNSAMPLE_BUCKET}")'
)


_START = perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"perfbench: {perf_counter() - _START:7.1f}s {msg}", file=sys.stderr, flush=True)


@dataclass
class Record:
    req: int
    kind: str
    latency_s: float
    ok: bool


class Client:
    """One HTTP client of the facade. Every request is recorded with
    its wall time; the ``X-Perfbench-Request`` header lets a traced run
    pair it with the server's spans."""

    def __init__(self, base: str, tokens: dict[str, str]):
        self.base, self.tokens = base, tokens
        self.records: list[Record] = []
        self._next = 0

    def send(self, kind: str, method: str, path: str, body: bytes | None = None,
             token: str = "RO", ctype: str = "text/plain") -> tuple[int, bytes]:
        self._next += 1
        req = urllib.request.Request(self.base + path, data=body, method=method)
        req.add_header("Authorization", f"Token {self.tokens[token]}")
        req.add_header("Content-Type", ctype)
        req.add_header("X-Perfbench-Request", str(self._next))
        t0 = perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                status, data = resp.status, resp.read()
        except urllib.error.HTTPError as e:
            status, data = e.code, e.read()
        self.records.append(Record(self._next, kind, perf_counter() - t0, status < 300))
        return status, data

    def write(self, lines: str) -> int:
        q = urllib.parse.urlencode({"org": ORG, "bucket": gen.BUCKET, "precision": "ns"})
        return self.send("write", "POST", f"/api/v2/write?{q}", lines.encode(), "RW")[0]

    def flux(self, text: str) -> tuple[int, bytes]:
        return self.send("flux", "POST", f"/api/v2/query?org={ORG}", text.encode(),
                         ctype="application/vnd.flux")

    def influxql(self, text: str) -> tuple[int, bytes]:
        q = urllib.parse.urlencode({"db": gen.BUCKET, "q": text, "epoch": "ns"})
        return self.send("influxql", "GET", f"/query?{q}")

    def query(self, q: gen.Query) -> tuple[int, bytes]:
        return self.flux(q.text) if q.lang == "flux" else self.influxql(q.text)


class Served:
    """A provisioned engine on a fresh store root, served over HTTP."""

    def __init__(self, spark, root: Path):
        from aws_greengrass_labs_database_influxdb_spark.control.engine import (
            Engine, EngineConfig)
        from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
        from aws_greengrass_labs_database_influxdb_spark.control.secrets import (
            CredentialsProvider)

        self.root = root
        self.engine = Engine(spark, EngineConfig(store_root=str(root)))
        self.engine.setup(CredentialsProvider(SECRET))
        self.engine.serve()
        self.api = HttpApi(self.engine)
        host, port = self.api.start()
        tokens = {level: self.engine.get_publish_json(
            {"action": "RetrieveToken", "accessLevel": level})["InfluxDBToken"]
            for level in ("RO", "RW")}
        self.client = Client(f"http://{host}:{port}", tokens)

    def compact(self) -> None:
        t0 = perf_counter()
        self.engine.store.compact(ORG, gen.BUCKET)
        self.client.records.append(Record(0, "compact", perf_counter() - t0, True))

    def close(self) -> None:
        self.api.stop()
        self.engine.close()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM child."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _set_up(run: Run, name: str, steps) -> tuple[Served, object]:
    """An engine on a fresh store root with the workload's set-up steps
    done; returns it and what ``steps`` returned."""
    served = Served(run.spark, run.work / name)
    return served, steps(served)


def _setup_s(run: Run, steps) -> float:
    """Median time of ``SETUP_REPEATS`` set-ups, each on a fresh store
    root and closed again. They run after the timed phase, when the JVM
    is warm, so they time the set-up's own work rather than the JIT
    compilation that the run's first set-up pays for."""
    times = []
    for i in range(SETUP_REPEATS):
        t0 = perf_counter()
        served, _state = _set_up(run, f"setup{i}", steps)
        times.append(perf_counter() - t0)
        served.close()
        shutil.rmtree(served.root, ignore_errors=True)
    log(f"set-up x{SETUP_REPEATS}: " + ", ".join(f"{t:.2f}s" for t in times))
    return statistics.median(times)


class Run:
    """One run of one workload: set-up, timed phase, checks, metrics."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, trace: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.trace = seconds, trace
        self.failures: list[str] = []
        self.tracer: tracing.Tracer | None = None

    def fail(self, why: str) -> None:
        self.failures.append(why)

    @contextmanager
    def timed(self, served: Served):
        """The timed phase: clears the client's records and, in a traced
        run, installs the wrappers for exactly this phase."""
        served.client.records.clear()
        if self.trace:
            self.tracer = tracing.Tracer(tracing.spark_group_setter(self.spark))
            tracing.install_engine_wrappers(self.tracer, str(served.root))
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.restore()
                self.timed_records = list(served.client.records)

    def result(self, served: Served, latency_ms: float, requests: int, wall_s: float,
               setup_s: float | None, points: int, data_bytes: int, data_files: int) -> dict:
        """The run's result line: ``latency_ms`` is the workload's
        median operation latency, ``requests`` the foreground HTTP
        requests completed in ``wall_s``; ``setup_s`` is None in a
        traced run, which does not report it."""
        records = served.client.records
        failed = sum(1 for r in records if not r.ok) + len(self.failures)
        metrics = {
            "setup_s": setup_s,
            "latency_p50_ms": latency_ms,
            "requests_per_s": requests / wall_s,
            "disk_bytes_per_point": data_bytes / points,
            "peak_rss_mb": peak_rss_mb(self.spark),
        }
        units = END_TO_END
        if self.trace:
            metrics, units = self._layer_metrics(served, metrics, data_files), tracing.metric_units()
        return {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def _layer_metrics(self, served: Served, e2e: dict, data_files: int) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + 30
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.1)
        time.sleep(0.5)  # let the listener bus deliver the last job ends
        jobs = tracing.spark_work(self.spark)
        records = [(str(r.req), r.kind, r.latency_s, r.ok) for r in self.timed_records]
        out = tracing.layer_metrics(self.tracer.spans, records, jobs)
        out["bucket.data_files"] = data_files
        out["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        out["traced.requests_per_s"] = e2e["requests_per_s"]
        return out


def _data(served: Served) -> tuple[int, int]:
    """Bytes of the benchmark bucket's data directory, and its parquet files."""
    data = served.engine.store._data_dir(ORG, gen.BUCKET)
    return tracing.dir_bytes(data), len(tracing.parquet_files(data))


# ----------------------------------------------------------------- ingest

def ingest(run: Run) -> dict:
    def steps(served: Served) -> tuple[gen.IngestStream, str]:
        stream = gen.IngestStream(run.seed)
        status, body = served.client.send(
            "admin", "POST", "/api/v2/tasks",
            json.dumps({"flux": DOWNSAMPLE_TASK}).encode(), "RW", "application/json")
        if status != 201:
            run.fail(f"task create refused: HTTP {status}")
        task = json.loads(body)["id"] if status == 201 else "0"
        if served.client.write(stream.next_batch()[0]) != 204:
            run.fail("set-up write refused")
        run_task(served, task, stream)
        return stream, task

    def run_task(served: Served, task: str, stream: gen.IngestStream) -> None:
        served.client.send("task", "POST", f"/api/v2/tasks/{task}/runs",
                           json.dumps({"now": stream.stop_ns()}).encode(), "RW",
                           "application/json")

    served, (stream, task) = _set_up(run, "store", steps)
    lines = stream.lines  # the set-up batch
    try:
        for _ in range(WARM_UP_WRITES):
            if served.client.write(stream.next_batch()[0]) != 204:
                run.fail("warm-up write refused")
            lines += stream.lines
        log("warm-up done")
        with run.timed(served):
            writes, t0 = 0, perf_counter()
            while perf_counter() - t0 < run.seconds:
                body, n = stream.next_batch()
                served.client.write(body)
                lines += n
                writes += 1
                if writes % TASK_EVERY_WRITES == 0:
                    run_task(served, task, stream)
            wall = perf_counter() - t0
            data_bytes, data_files = _data(served)
            served.compact()
        key = random.Random(run.seed).choice(stream.resent)
        _status, body = served.client.flux(
            f'from(bucket: "{gen.BUCKET}")\n'
            f"  |> range(start: {gen.rfc3339(key[2])}, stop: {gen.rfc3339(key[2] + 10**9)})\n"
            f'  |> filter(fn: (r) => r._measurement == "{key[0]}" and r.host == "{key[1]}")')
        for why in (checks.check_points(stream.store, [key], body),
                    checks.check_point_count(stream.store, served.client.flux(
                        f'from(bucket: "{gen.BUCKET}")\n'
                        f"  |> range(start: {gen.rfc3339(gen.T0_NS)}, "
                        f"stop: {gen.rfc3339(stream.stop_ns())})\n"
                        "  |> group()\n  |> count()")[1])):
            if why:
                run.fail(why)
    finally:
        served.close()
    write_ms = [1000 * r.latency_s for r in served.client.records if r.kind == "write"]
    log("writes: " + ", ".join(f"{t:.0f}ms" for t in write_ms))
    setup_s = None if run.trace else _setup_s(run, steps)
    return run.result(served, statistics.median(write_ms), writes, wall, setup_s,
                      2 * lines, data_bytes, data_files)


# -------------------------------------------------------------- dashboard

HISTORY_TICKS = 180  # half an hour at 10 s
WARM_UP_ROUNDS = 2


def dashboard(run: Run) -> dict:
    store, bodies = gen.history(run.seed, HISTORY_TICKS, batch_lines=10**9)

    def steps(served: Served) -> None:
        for body in bodies:
            if served.client.write(body) != 204:
                run.fail("preload write refused")
        served.compact()

    served, _state = _set_up(run, "store", steps)
    schedule = gen.DashboardSchedule(run.seed, HISTORY_TICKS * gen.STEP_NS)
    try:
        warm_up = gen.DashboardSchedule(run.seed + 1, HISTORY_TICKS * gen.STEP_NS)
        for _ in range(WARM_UP_ROUNDS):
            t1 = perf_counter()
            for q in warm_up.next_round():
                if served.client.query(q)[0] != 200:
                    run.fail(f"warm-up query refused: {q.text!r}")
            last = perf_counter() - t1
        log(f"warm-up done, last refresh {last:.2f}s")
        answers, panel_ms, refreshes = [], {}, 0
        with run.timed(served):
            t0 = perf_counter()
            # whole refreshes only, as many as end nearest to --seconds
            while not refreshes or perf_counter() - t0 + last / 2 < run.seconds:
                t1 = perf_counter()
                for q in schedule.next_round():
                    answers.append((q, *served.client.query(q)))
                    panel_ms.setdefault(q.panel, []).append(
                        1000 * served.client.records[-1].latency_s)
                last = perf_counter() - t1
                refreshes += 1
            wall = perf_counter() - t0
        data_bytes, data_files = _data(served)
        for q, status, body in answers:
            why = checks.check(store, q, status, body)
            if why:
                run.fail(why)
    finally:
        served.close()
    # a refresh made of each panel's median over the run's refreshes
    refresh_ms = sum(statistics.median(ms) for ms in panel_ms.values())
    log(f"{refreshes} refreshes, per-panel medians: " + ", ".join(
        f"{p} {statistics.median(ms):.0f}ms" for p, ms in panel_ms.items()))
    setup_s = None if run.trace else _setup_s(run, steps)
    return run.result(served, refresh_ms, len(answers), wall, setup_s,
                      store.point_count(), data_bytes, data_files)


WORKLOADS = {"ingest": ingest, "dashboard": dashboard}
