"""Byte-identity goldens for facade Flux responses (``/api/v2/query``).

Each case posts one Flux script (plus an optional v2 dialect object)
against a fixed dataset and compares the whole annotated-CSV body,
byte for byte, with ``tests/goldens/flux_wire.json``. The cases cover
the encoder's shapes: a ``tags``-map frame, series_key-only aggregates,
``group(columns:)``, a mixed float/string/bool result (one block per
datatype), a multi-``yield`` script, every dialect field and an empty
result.

The goldens pin the wire format, so a change to the result fetch or
the CSV encoder must reproduce them exactly. To re-record them after a
deliberate wire change, run this file with ``UPDATE_FLUX_WIRE_GOLDENS=1``
and review the diff of the JSON file.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from pathlib import Path

import pytest

from aws_greengrass_labs_database_influxdb_spark.control.engine import Engine, EngineConfig
from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
from aws_greengrass_labs_database_influxdb_spark.control.secrets import CredentialsProvider

GOLDENS = Path(__file__).parent / "goldens" / "flux_wire.json"
BUCKET = "greengrass-telemetry"
T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z
SEC = 1_000_000_000

RANGE = (f'from(bucket: "{BUCKET}")'
         " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-01T01:00:00Z)")


def _lines() -> list[str]:
    """Two regions × two hosts of float + int cpu fields, a string/bool
    measurement, and a second-fraction on every timestamp so RFC3339
    and RFC3339Nano render differently. Three extra cpu series test the
    table order: one without a region (a null group-key cell sorts
    first), an upper-case and a non-ASCII host (byte order)."""
    out = []
    hosts = (("h1", "eu"), ("h2", "eu"), ("h3", "us"), ("h4", "us"))
    for i in range(8):
        ts = T0 + i * 20 * SEC + 125_000_000
        for j, (host, region) in enumerate(hosts):
            usage = round(10.0 + 3.5 * j + (i * 7 % 5) * 1.25, 3)
            out.append(f"cpu,host={host},region={region} usage={usage},n={i * (j + 1)}i {ts}")
    out.append(f"cpu,host=h1 usage=5.5 {T0 + 7 * SEC}")
    out.append(f"cpu,host=H9,region=eu usage=2.0 {T0 + 9 * SEC}")
    out.append(f"cpu,host=h\u03a9,region=us usage=3.0 {T0 + 11 * SEC}")
    for i in range(4):
        ts = T0 + i * 30 * SEC + 500_000
        msg = ("ok", 'say "hi", bye', "warn;x", "done")[i]
        esc = msg.replace('"', '\\"')
        out.append(f'logs,host=h1 msg="{esc}",ok={"true" if i % 2 else "false"} {ts}')
    return out


CASES: dict[str, dict] = {
    # tags-map frame: raw rows straight from the store
    "raw_tags": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                                  ' and r._field == "usage" and r.host == "h1")'},
    # series_key-only aggregates
    "mean": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu") |> mean()'},
    "aggwindow_mean": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                                        ' and r._field == "usage")'
                                        " |> aggregateWindow(every: 1m, fn: mean)"},
    "last": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                              ' and r._field == "n" and r.host == "h3") |> last()'},
    "derivative_moving_average": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                         ' and r._field == "usage" and r.host == "h2")'
                         " |> derivative(unit: 1m, nonNegative: false)"
                         " |> movingAverage(n: 3)"},
    # group(columns:)
    "group_region_max": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                                          ' and r._field == "usage")'
                                          ' |> group(columns: ["region"]) |> max()'},
    "group_region_aggwindow": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                         ' and r._field == "usage")'
                         ' |> group(columns: ["region"])'
                         " |> aggregateWindow(every: 1m, fn: max)"},
    # mixed float/string/bool: one annotation block per datatype
    "mixed_last": {"query": RANGE + " |> last()"},
    "mixed_raw": {"query": RANGE + ' |> filter(fn: (r) => r._measurement == "logs"'
                                   ' or (r._measurement == "cpu" and r.host == "h4"'
                                   ' and r._field == "usage"))'},
    # multi-yield script
    "multi_yield": {"query": (
        "base = " + RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
        ' and r._field == "usage")\n'
        'base |> max() |> yield(name: "hi")\n'
        'base |> count() |> yield(name: "n")\n'
        'from(bucket: "' + BUCKET + '")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-01T01:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "logs") |> first()'
        ' |> yield(name: "logs")\n')},
    # join: per-side engine columns reach the wire, among them the
    # tags_a/tags_b maps (the write-order ingest_seq is dropped)
    "join": {"query": (
        "a = " + RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
        ' and r._field == "usage" and r.host == "h2")\n'
        "b = " + RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
        ' and r._field == "n" and r.host == "h2")\n'
        'join(tables: {a: a, b: b}, on: ["_time"])'
        ' |> drop(columns: ["ingest_seq_a", "ingest_seq_b"])\n')},
    # every dialect field
    "dialect_no_annotations": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "logs")',
        "dialect": {"annotations": []}},
    "dialect_datatype_no_header": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "logs")',
        "dialect": {"annotations": ["datatype"], "header": False}},
    "dialect_delimiter": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "logs")',
        "dialect": {"delimiter": ";"}},
    "dialect_comment_prefix": {
        "query": RANGE + ' |> filter(fn: (r) => r._measurement == "cpu"'
                         ' and r.host == "h1") |> last()',
        "dialect": {"commentPrefix": "//"}},
    "dialect_rfc3339nano": {
        "query": RANGE + " |> last()",
        "dialect": {"dateTimeFormat": "RFC3339Nano"}},
    # empty result
    "empty": {"query": f'from(bucket: "{BUCKET}")'
                       " |> range(start: 2023-01-01T00:00:00Z, stop: 2023-01-02T00:00:00Z)"
                       " |> mean()"},
}


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    cfg = EngineConfig(store_root=str(tmp_path_factory.mktemp("wiregoldens")))
    engine = Engine(spark, cfg)
    engine.setup(CredentialsProvider({"influxdb_username": "greengrass",
                                      "influxdb_password": "ValidPassword#123"}))
    engine.serve()
    api = HttpApi(engine)
    host, port = api.start()
    base = f"http://{host}:{port}"
    tokens = {
        level: engine.get_publish_json(
            {"action": "RetrieveToken", "accessLevel": level})["InfluxDBToken"]
        for level in ("RO", "RW")
    }
    req = urllib.request.Request(
        f"{base}/api/v2/write?bucket={BUCKET}", data="\n".join(_lines()).encode(),
        method="POST")
    req.add_header("Authorization", f"Token {tokens['RW']}")
    assert urllib.request.urlopen(req).status == 204
    yield base, tokens["RO"]
    api.stop()
    engine.close()


def _post(base: str, token: str, case: dict) -> tuple[int, str]:
    doc = {"query": case["query"], "type": "flux"}
    if "dialect" in case:
        doc["dialect"] = case["dialect"]
    req = urllib.request.Request(f"{base}/api/v2/query", data=json.dumps(doc).encode(),
                                 method="POST")
    req.add_header("Authorization", f"Token {token}")
    req.add_header("Content-Type", "application/json")
    try:
        resp = urllib.request.urlopen(req)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()
    return resp.status, resp.read().decode()


def test_flux_wire_bodies_match_goldens(served):
    base, token = served
    got = {name: dict(zip(("status", "body"), _post(base, token, case)))
           for name, case in CASES.items()}
    if os.environ.get("UPDATE_FLUX_WIRE_GOLDENS") == "1":
        GOLDENS.parent.mkdir(exist_ok=True)
        GOLDENS.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    want = json.loads(GOLDENS.read_text())
    assert sorted(got) == sorted(want)
    for name in CASES:
        assert got[name] == want[name], name
