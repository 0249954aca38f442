"""Output checks: parse what the facade answered and compare it with
the values ``gen.expected`` computes in pure Python."""

from __future__ import annotations

import csv
import io
import json
import math

from gen import FIELDS, Query, Store, expected, parse_rfc3339


def parse_annotated_csv(text: str) -> list[dict[str, str]]:
    """Data rows of a Flux annotated-CSV response, keyed by header."""
    rows, header = [], None
    for rec in csv.reader(io.StringIO(text)):
        if not rec or all(not c for c in rec):
            header = None  # a blank line ends a table block
        elif rec[0].startswith("#"):
            header = None
        elif header is None:
            header = rec
        else:
            rows.append(dict(zip(header, rec)))
    return rows


def close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _same_map(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(close(got[k], want[k]) for k in want)


def _flux_value(row: dict) -> float | None:
    v = row.get("_value", "")
    return float(v) if v != "" else None


def check(store: Store, q: Query, status: int, body: bytes) -> str | None:
    """None when the response to ``q`` is right, else what is wrong."""
    if status != 200:
        return f"{q.panel}: HTTP {status}: {body[:200]!r}"
    want = expected(store, q)
    text = body.decode()
    if q.lang == "flux":
        rows = parse_annotated_csv(text)
        if any("error" in r for r in rows):
            return f"{q.panel}: error table: {text[:200]!r}"
        if q.panel == "flux_mean":
            got = {(r["host"], parse_rfc3339(r["_time"])): _flux_value(r) for r in rows}
            ok = _same_map(got, want)
        elif q.panel == "flux_last":
            ok = (len(rows) == 1 and parse_rfc3339(rows[0]["_time"]) == want[0]
                  and close(_flux_value(rows[0]), want[1]))
        elif q.panel == "flux_group_max":
            got = {(r["region"], parse_rfc3339(r["_time"])): _flux_value(r) for r in rows}
            ok = _same_map(got, want)
        else:  # flux_derivative
            got = [(parse_rfc3339(r["_time"]), _flux_value(r)) for r in rows]
            ok = (len(got) == len(want)
                  and all(t == wt and close(v, wv) for (t, v), (wt, wv) in zip(got, want)))
    else:
        doc = json.loads(text)
        series = doc["results"][0].get("series", [])
        if q.panel == "influxql_mean":
            got = {(s["tags"]["host"], t): v for s in series for t, v in s["values"]}
            ok = _same_map(got, want)
        else:  # influxql_show_tags
            got = sorted(v for s in series for _k, v in s["values"])
            ok = got == want
    return None if ok else f"{q.panel}: wrong answer to {q.text!r}"


def check_point_count(store: Store, body: bytes) -> str | None:
    """The read-back ``group() |> count()`` equals the LWW point count."""
    rows = parse_annotated_csv(body.decode())
    got = sum(int(r["_value"]) for r in rows)
    want = store.point_count()
    return None if got == want else f"LWW point count {got} != expected {want}"


def check_points(store: Store, keys: list, body: bytes) -> str | None:
    """A raw read-back of re-sent keys holds their last-written values."""
    rows = parse_annotated_csv(body.decode())
    got = {(r["_measurement"], r["host"], parse_rfc3339(r["_time"]), r["_field"]): r["_value"]
           for r in rows}
    for meas, host, ts in keys:
        fv, iv = store.points[(meas, host, ts)]
        ff, fi = FIELDS[meas]
        # the int field is compared by value: the facade renders it as
        # a double ("123.0"), which this check does not judge
        if not (close(float(got.get((meas, host, ts, ff), "nan")), fv)
                and float(got.get((meas, host, ts, fi), "nan")) == iv):
            return f"re-sent point {(meas, host, ts)} does not hold its last value"
    return None
