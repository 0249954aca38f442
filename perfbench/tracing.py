"""Per-layer tracing for the serving-path benchmark's traced runs.

Spans are recorded from the benchmark's own files: the public entry
points of each engine layer are wrapped in place for the timed phase
and restored afterwards. ``control.httpapi`` imports its callees by
name, so they are wrapped in that module's namespace, not their home
modules. A span keeps its name, start, end, parent and the request
(root span) it belongs to; spans stay in memory until the run ends.

A layer's self time is its span's duration minus the time its child
spans cover. The root span of each request (the facade's dispatch, or a
direct compaction call) sets a Spark job group named after itself, so
the jobs, stages and tasks the request launched can be read back from
Spark's status store once the run is over (pinned-thread mode gives
every facade handler thread its own JVM thread, so the group follows
the request).
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

from stats import tail

GROUP_PREFIX = "perfbench-"
KINDS = ("write", "flux", "influxql", "task", "compact")
# kinds a traced run sends often enough (20 or more) for a tail latency
TAIL_KINDS = ("write",)
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

# layer metric -> (unit, layers whose self time it sums per request)
LAYER_TIMES = {
    "lineprotocol.parse_ms": ("ms", ("lineprotocol.parse",)),
    "bucket.write_points_ms": ("ms", ("bucket.write_points",)),
    "bucket.read_points_ms": ("ms", ("bucket.read_points",)),
    "bucket.compact_ms": ("ms", ("bucket.compact",)),
    "flux.execute_ms": ("ms", ("flux.execute",)),
    "httpapi.fluxify_ms": ("ms", ("httpapi.fluxify",)),
    "annotated_csv.iter_ms": ("ms", ("annotated_csv.iter",)),
    "influxql.execute_ms": ("ms", ("influxql.execute",)),
    "httpapi.v1_statement_ms": ("ms", ("httpapi.v1_statement",)),
    "httpapi.v1_encode_ms": ("ms", ("httpapi.v1_encode",)),
    "httpapi.respond_ms": ("ms", ("httpapi.respond",)),
    "flux_tasks.run_ms": ("ms", ("flux_tasks.run",)),
    "httpapi.authorize_ms": ("ms", ("httpapi.authorize",)),
}
HTTP_KINDS = ("write", "flux", "influxql", "task")


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {name: unit for name, (unit, _l) in LAYER_TIMES.items()}
    units.update({
        "bucket.files_per_write": "count",
        "bucket.data_files": "count",
        "bucket.compact_bytes_rewritten": "bytes",
        "annotated_csv.bytes_per_query": "bytes",
        "trace.overhead_ms": "ms",
        # the traced run's own end-to-end figures: minus the untraced
        # run's, they give the tracing overhead
        "traced.latency_p50_ms": "ms",
        "traced.requests_per_s": "1/s",
    })
    for kind in HTTP_KINDS:
        units[f"httpapi.{kind}.self_ms"] = "ms"
        units[f"httpapi.{kind}.unattributed_share"] = "ratio"
    for kind in KINDS:
        units[f"latency.{kind}.p50_ms"] = "ms"
        units[f"latency.{kind}.count"] = "count"
        if kind in TAIL_KINDS:
            units[f"latency.{kind}.tail_ms"] = "ms"
            units[f"latency.{kind}.tail_pct"] = "percent"
        for c in SPARK_COUNTERS:
            unit = "ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes") else "count"
            units[f"spark.{kind}.{c}"] = unit
    units["spark.unattributed_jobs"] = "count"
    return units


@dataclass
class Span:
    sid: int
    parent: int | None
    root: int
    name: str
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans per thread and owns the wrappers it installs.

    ``set_group`` (optional) is called with a job-group id just before a
    root span opens and with None just after it closes, outside the
    span, so the call is not charged to any layer.
    """

    def __init__(self, set_group=None):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object, bool]] = []
        self._set_group = set_group

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def overhead(self, t0: float) -> None:
        """Record the tracer's own work since ``t0`` under the current span."""
        stack = self._stack()
        if stack:
            parent = stack[-1]
            sid = next(self._ids)
            self.spans.append(Span(sid, parent.sid, parent.root, "trace.overhead",
                                   t0, perf_counter()))

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, parent.sid if parent else None,
                  parent.root if parent else sid, name, attrs=attrs)
        self.spans.append(sp)  # list.append is atomic under the GIL
        if parent is None and self._set_group is not None:
            self._set_group(f"{GROUP_PREFIX}{sid}")
        stack.append(sp)
        sp.start = perf_counter()
        try:
            yield sp
        finally:
            sp.end = perf_counter()
            stack.pop()
            if parent is None and self._set_group is not None:
                self._set_group(None)

    # ------------------------------------------------------------ wrappers

    def _replace(self, owner, attr: str, wrapper) -> None:
        own = attr in vars(owner)
        self._patches.append((owner, attr, vars(owner).get(attr), own))
        setattr(owner, attr, wrapper)

    def wrap_call(self, owner, attr: str, name: str, before=None, after=None,
                  describe=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``before`` and
        ``after`` (optional) run outside the span's own interval, so the
        time they take counts as tracing overhead; ``after`` receives the
        span and ``before``'s result. ``describe`` (optional) returns the
        span's attributes from the call's arguments."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = perf_counter()
            pre = before(*args, **kwargs) if before else None
            tracer.overhead(t0)
            attrs = describe(*args, **kwargs) if describe else {}
            with tracer.span(name, **attrs) as sp:
                result = orig(*args, **kwargs)
            if after:
                t0 = perf_counter()
                after(sp, pre, *args, **kwargs)
                tracer.overhead(t0)
            return result

        self._replace(owner, attr, wrapper)

    def wrap_gen(self, owner, attr: str, name: str) -> None:
        """Wrap a generator function: every ``next`` is its own span, and
        the text it yields is counted in the span's ``bytes``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            gen = orig(*args, **kwargs)

            def traced():
                while True:
                    with tracer.span(name) as sp:
                        try:
                            item = next(gen)
                        except StopIteration:
                            return
                        sp.attrs["bytes"] = len(item)
                    yield item

            return traced()

        self._replace(owner, attr, wrapper)

    def restore(self) -> None:
        """Put back every wrapped callable, newest first."""
        while self._patches:
            owner, attr, orig, own = self._patches.pop()
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)


# ---------------------------------------------------------------- engine

def parquet_files(root) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def dir_bytes(root) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def request_kind(method: str, path: str) -> str:
    path = path.split("?", 1)[0]
    if path in ("/api/v2/write", "/write"):
        return "write"
    if path == "/api/v2/query":
        return "flux"
    if path == "/query":
        return "influxql"
    if path.startswith("/api/v2/tasks/") and path.endswith("/runs"):
        return "task"
    return "other"


def install_engine_wrappers(tracer: Tracer, store_root: str) -> None:
    """Wrap the public entry point of every layer the serving path
    crosses, plus ``_fluxify_result``, the one private boundary that
    launches Spark jobs of its own."""
    from aws_greengrass_labs_database_influxdb_spark.control import httpapi
    from aws_greengrass_labs_database_influxdb_spark.sources.bucket import BucketStore
    from aws_greengrass_labs_database_influxdb_spark.streaming import flux_tasks

    def describe(api, handler, method):
        return {"kind": request_kind(method, handler.path),
                "req": handler.headers.get("X-Perfbench-Request")}

    tracer.wrap_call(httpapi.HttpApi, "_dispatch", "httpapi.dispatch", describe=describe)
    for attr in ("_handle_write", "_handle_query_flux", "_handle_query_v1", "_handle_tasks"):
        tracer.wrap_call(httpapi.HttpApi, attr, "httpapi.handler")
    tracer.wrap_call(httpapi.HttpApi, "_authorize", "httpapi.authorize")
    tracer.wrap_call(httpapi.HttpApi, "_run_v1_statement", "httpapi.v1_statement")
    tracer.wrap_call(httpapi.HttpApi, "_respond", "httpapi.respond")
    tracer.wrap_call(httpapi, "parse_lines", "lineprotocol.parse")
    tracer.wrap_call(httpapi, "execute_flux_multi", "flux.execute")
    tracer.wrap_call(flux_tasks, "execute_flux_multi", "flux.execute")
    tracer.wrap_call(httpapi, "execute_influxql", "influxql.execute")
    tracer.wrap_call(httpapi, "_fluxify_result", "httpapi.fluxify")
    tracer.wrap_gen(httpapi, "iter_annotated_csv", "annotated_csv.iter")
    tracer.wrap_gen(httpapi, "_iter_v1_json", "httpapi.v1_encode")
    tracer.wrap_gen(httpapi, "_iter_v1_json_chunked", "httpapi.v1_encode")
    tracer.wrap_call(flux_tasks.FluxTaskRegistry, "run", "flux_tasks.run")
    tracer.wrap_call(BucketStore, "read_points", "bucket.read_points")

    def files_before(*_a, **_k):
        return len(parquet_files(store_root))

    def files_after(sp, before, *_a, **_k):
        sp.attrs["files"] = len(parquet_files(store_root)) - before

    tracer.wrap_call(BucketStore, "write_points", "bucket.write_points",
                     before=files_before, after=files_after)

    def compacted_bytes(sp, _pre, store, org, name):
        sp.attrs["bytes"] = dir_bytes(store._data_dir(org, name))

    tracer.wrap_call(BucketStore, "compact", "bucket.compact", after=compacted_bytes)


# --------------------------------------------------------------- spark

def spark_group_setter(spark):
    sc = spark.sparkContext
    return lambda group: sc.setLocalProperty("spark.jobGroup.id", group)


def spark_work(spark) -> list[dict]:
    """Every job the status store still holds, as ``{"group", "jobs",
    "stages", "tasks", ...}`` rows with its stages' run-time metrics,
    read through one JSON round trip per list."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())))
    by_stage: dict[int, dict] = {}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        acc = by_stage.setdefault(st["stageId"], dict.fromkeys(SPARK_COUNTERS[1:], 0))
        acc["stages"] += 1
        acc["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        acc["executor_run_ms"] += st.get("executorRunTime", 0)
        acc["executor_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
        acc["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    out = []
    for job in jobs:
        row = dict.fromkeys(SPARK_COUNTERS, 0)
        row["jobs"] = 1
        row["group"] = job.get("jobGroup")
        row["job_id"] = job["jobId"]
        for sid in job.get("stageIds", []):
            for c, v in by_stage.get(sid, {}).items():
                row[c] += v
        out.append(row)
    return out


# ------------------------------------------------------------- metrics

def _self_times(spans: list[Span]) -> dict[int, float]:
    covered: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            covered[sp.parent] = covered.get(sp.parent, 0.0) + (sp.end - sp.start)
    return {sp.sid: (sp.end - sp.start) - covered.get(sp.sid, 0.0) for sp in spans}


def layer_metrics(spans: list[Span], records: list, jobs: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced run.

    ``records`` are the client's ``(req, kind, latency_s, ok)`` requests of
    the timed phase; ``jobs`` is :func:`spark_work`'s output, of which
    the jobs from the first to the last one a request's group claims
    make up the phase (the others ran before or after it). Layer
    times are self time per request that reaches the layer (mean over
    those requests). For every request kind, the layers' self times
    plus ``httpapi.<kind>.self_ms`` add up to the server's handling
    time; ``httpapi.<kind>.unattributed_share`` is the rest of the
    client-measured wall time, as a share of it.
    """
    units = metric_units()
    out = dict.fromkeys(units, 0.0)
    selfs = _self_times(spans)
    by_sid = {sp.sid: sp for sp in spans}

    def root_kind(sp: Span) -> str:
        root = by_sid[sp.root]
        return root.attrs.get("kind") or ("compact" if root.name == "bucket.compact" else "other")

    per_req: dict[tuple[str, int], float] = {}
    for sp in spans:
        key = (sp.name, sp.root)
        per_req[key] = per_req.get(key, 0.0) + selfs[sp.sid]
    for metric, (_unit, layers) in LAYER_TIMES.items():
        vals = [v for (name, _root), v in per_req.items() if name in layers]
        if vals:
            out[metric] = 1000 * statistics.fmean(vals)

    writes = [sp for sp in spans if sp.name == "bucket.write_points" and "files" in sp.attrs]
    if writes:
        out["bucket.files_per_write"] = statistics.fmean(sp.attrs["files"] for sp in writes)
    compacts = [sp for sp in spans if sp.name == "bucket.compact" and "bytes" in sp.attrs]
    if compacts:
        out["bucket.compact_bytes_rewritten"] = statistics.fmean(sp.attrs["bytes"] for sp in compacts)
    csv_bytes: dict[int, int] = {}
    for sp in spans:
        if sp.name == "annotated_csv.iter":
            csv_bytes[sp.root] = csv_bytes.get(sp.root, 0) + sp.attrs.get("bytes", 0)
    if csv_bytes:
        out["annotated_csv.bytes_per_query"] = statistics.fmean(csv_bytes.values())

    roots = [sp for sp in spans if sp.parent is None]
    if roots:
        overhead = sum(selfs[sp.sid] for sp in spans if sp.name == "trace.overhead")
        out["trace.overhead_ms"] = 1000 * overhead / len(roots)

    wall = {str(r[0]): r[2] for r in records}
    for kind in HTTP_KINDS:
        dispatches = [sp for sp in roots if sp.name == "httpapi.dispatch"
                      and sp.attrs.get("kind") == kind]
        if not dispatches:
            continue
        own = [sum(selfs[s.sid] for s in spans if s.root == d.sid
                   and s.name in ("httpapi.dispatch", "httpapi.handler"))
               for d in dispatches]
        out[f"httpapi.{kind}.self_ms"] = 1000 * statistics.fmean(own)
        paired = [(wall[d.attrs["req"]], d.end - d.start) for d in dispatches
                  if d.attrs.get("req") in wall]
        if paired:
            total = sum(w for w, _d in paired)
            out[f"httpapi.{kind}.unattributed_share"] = sum(w - d for w, d in paired) / total

    for kind in KINDS:
        lat = [1000 * r[2] for r in records if r[1] == kind]
        if not lat:
            continue
        out[f"latency.{kind}.p50_ms"] = statistics.median(lat)
        out[f"latency.{kind}.count"] = len(lat)
        t = tail(lat) if kind in TAIL_KINDS else None
        if t:
            out[f"latency.{kind}.tail_pct"], out[f"latency.{kind}.tail_ms"] = t

    requests = {kind: sum(1 for r in records if r[1] == kind) for kind in KINDS}
    totals = {kind: dict.fromkeys(SPARK_COUNTERS, 0.0) for kind in KINDS}
    claimed = [j["job_id"] for j in jobs if (j["group"] or "").startswith(GROUP_PREFIX)]
    for job in jobs:
        if not claimed or not min(claimed) <= job["job_id"] <= max(claimed):
            continue
        group = job["group"] or ""
        sp = by_sid.get(int(group[len(GROUP_PREFIX):])) if group.startswith(GROUP_PREFIX) else None
        kind = root_kind(sp) if sp is not None else None
        if kind not in totals:
            out["spark.unattributed_jobs"] += 1
            continue
        for c in SPARK_COUNTERS:
            totals[kind][c] += job[c]
    for kind in KINDS:
        if requests[kind]:
            for c in SPARK_COUNTERS:
                out[f"spark.{kind}.{c}"] = totals[kind][c] / requests[kind]
    return out
