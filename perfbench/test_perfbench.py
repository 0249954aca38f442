"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------- inputs

def _ingest_bodies(seed: int, n: int = 3) -> list[str]:
    stream = gen.IngestStream(seed)
    return [stream.next_batch()[0] for _ in range(n)]


def _schedule(seed: int, rounds: int = 3) -> list[str]:
    sched = gen.DashboardSchedule(seed, 180 * gen.STEP_NS)
    return [q.text for _ in range(rounds) for q in sched.next_round()]


def test_same_seed_gives_identical_inputs():
    assert _ingest_bodies(7) == _ingest_bodies(7)
    assert gen.history(7, 30, 1000)[1] == gen.history(7, 30, 1000)[1]
    assert _schedule(7) == _schedule(7)


def test_other_seed_gives_other_inputs():
    assert _ingest_bodies(7) != _ingest_bodies(8)
    assert _schedule(7) != _schedule(8)


def test_ingest_batches_resend_earlier_keys():
    stream = gen.IngestStream(3)
    lines = sum(stream.next_batch()[1] for _ in range(4))
    assert lines == 4 * 5000
    # every line is either a new key or an LWW upsert of an earlier one
    assert len(stream.store.points) + len(stream.resent) == lines
    assert 0.03 < len(stream.resent) / lines < 0.07


# --------------------------------------------------------- percentiles

def test_tail_is_p90_from_100_samples():
    assert stats.tail(list(range(1, 101))) == (90, 90)
    assert stats.tail(list(range(1, 1001))) == (90, 900)


@pytest.mark.parametrize("n", [20, 21, 30, 50, 99])
def test_tail_below_100_samples_keeps_ten_beyond(n):
    pct, value = stats.tail(list(range(1, n + 1)))
    assert pct < 90
    assert sum(1 for v in range(1, n + 1) if v > value) >= 10
    # one percent higher would leave fewer than ten samples beyond
    assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_needs_twenty_samples():
    assert stats.tail(list(range(19))) is None


# ------------------------------------------------------------ tracing

def test_wrappers_restore_originals():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Base:
        def g(self):
            return "base"

    class Child(Base):
        def h(self):
            return "child"

    f, h = mod.f, Child.__dict__["h"]
    tracer = tracing.Tracer()
    tracer.wrap_call(mod, "f", "layer.f")
    tracer.wrap_call(Child, "g", "layer.g")  # inherited, not Child's own
    tracer.wrap_call(Child, "h", "layer.h")
    assert mod.f is not f and Child.__dict__["h"] is not h
    assert mod.f(1) == 2 and Child().g() == "base" and Child().h() == "child"
    assert [s.name for s in tracer.spans] == ["layer.f", "layer.g", "layer.h"]
    tracer.restore()
    assert mod.f is f and Child.__dict__["h"] is h
    assert "g" not in Child.__dict__


def test_engine_wrappers_restore_originals(tmp_path):
    from aws_greengrass_labs_database_influxdb_spark.control import httpapi
    from aws_greengrass_labs_database_influxdb_spark.sources.bucket import BucketStore
    from aws_greengrass_labs_database_influxdb_spark.streaming import flux_tasks

    owners = (httpapi, httpapi.HttpApi, BucketStore, flux_tasks, flux_tasks.FluxTaskRegistry)
    before = [dict(vars(o)) for o in owners]
    tracer = tracing.Tracer()
    tracing.install_engine_wrappers(tracer, str(tmp_path))
    assert httpapi.parse_lines is not before[0]["parse_lines"]
    tracer.restore()
    assert [dict(vars(o)) for o in owners] == before


def test_generator_spans_cover_each_next_and_count_bytes():
    mod = types.SimpleNamespace(chunks=lambda: iter(["ab", "cde"]))
    tracer = tracing.Tracer()
    tracer.wrap_gen(mod, "chunks", "csv")
    assert list(mod.chunks()) == ["ab", "cde"]
    tracer.restore()
    assert [s.attrs.get("bytes") for s in tracer.spans] == [2, 3, None]


def test_self_times_add_up_to_the_request():
    S = tracing.Span
    spans = [
        S(1, None, 1, "httpapi.dispatch", 0.0, 1.0, {"kind": "flux", "req": "7"}),
        S(2, 1, 1, "httpapi.handler", 0.1, 0.9),
        S(3, 2, 1, "flux.execute", 0.2, 0.5),
        S(4, 2, 1, "annotated_csv.iter", 0.6, 0.7, {"bytes": 10}),
        S(5, 2, 1, "annotated_csv.iter", 0.7, 0.8, {"bytes": 5}),
        S(6, 3, 1, "trace.overhead", 0.3, 0.31),
    ]
    jobs = [dict.fromkeys(tracing.SPARK_COUNTERS, 1) | {"group": "perfbench-3", "job_id": 9}]
    out = tracing.layer_metrics(spans, [("7", "flux", 1.25, True)], jobs)
    assert out["flux.execute_ms"] == pytest.approx(290)
    assert out["annotated_csv.iter_ms"] == pytest.approx(200)
    assert out["annotated_csv.bytes_per_query"] == 15
    assert out["httpapi.flux.self_ms"] == pytest.approx(500)
    assert out["trace.overhead_ms"] == pytest.approx(10)
    parts = (out["flux.execute_ms"] + out["annotated_csv.iter_ms"]
             + out["httpapi.flux.self_ms"] + out["trace.overhead_ms"])
    assert parts == pytest.approx(1000)  # the dispatch span's duration
    assert out["httpapi.flux.unattributed_share"] == pytest.approx(0.2)
    assert out["spark.flux.jobs"] == 1 and out["latency.flux.count"] == 1


# ------------------------------------------------------------- checks

def test_annotated_csv_parser_reads_every_table_block():
    text = ("#group,false,false,true\r\n#datatype,string,long,double\r\n"
            ",result,table,_value\r\n,,0,1.5\r\n\r\n"
            "#datatype,string,long,long\r\n,result,table,_value\r\n,,1,2\r\n")
    assert [r["_value"] for r in checks.parse_annotated_csv(text)] == ["1.5", "2"]


def test_expected_last_is_the_newest_sample():
    store, _ = gen.history(5, 180, 10**9)
    q = gen.panel_query("flux_last", gen.random.Random(1), 30 * gen.MINUTE_NS)
    ts, v = gen.expected(store, q)
    start, stop, host = q.params
    assert ts == max(t for (m, h, t) in store.points if m == "mem" and h == host and t < stop)
    assert v == store.points[("mem", host, ts)][0]


# ---------------------------------------------------------- contract

def test_benchmark_json_names_what_the_runner_reports():
    doc = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in doc["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == tracing.metric_units()
