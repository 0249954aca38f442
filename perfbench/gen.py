"""Seeded inputs for the serving-path benchmark, and the values the
engine must answer with, computed here in pure Python.

Everything the engine sees is produced by these generators from the
workload seed: Telegraf-shaped line protocol (``cpu`` and ``mem`` for
50 hosts in 4 regions, one float and one int field each, ns precision)
and the Grafana panel queries of the dashboard mix. The same seed gives
byte-identical line protocol and query schedules.
"""

from __future__ import annotations

import bisect
import random
import statistics
from dataclasses import dataclass, field

T0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
STEP_NS = 10 * 10**9  # one sample per host every 10 s
MINUTE_NS = 60 * 10**9
HOSTS = tuple(f"host{i:02d}" for i in range(50))
REGIONS = ("us-east", "us-west", "eu-central", "ap-south")
# measurement -> (float field, int field)
FIELDS = {"cpu": ("usage_user", "procs"), "mem": ("used_percent", "available")}
BUCKET = "greengrass-telemetry"


def rfc3339(ns: int) -> str:
    """Whole-second UTC RFC3339, the form Flux and InfluxQL accept."""
    import datetime as dt

    ts = dt.datetime.fromtimestamp(ns // 10**9, tz=dt.timezone.utc)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def parse_rfc3339(s: str) -> int:
    import datetime as dt

    ts = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    delta = ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return ((delta.days * 86_400 + delta.seconds) * 10**6 + delta.microseconds) * 1000


def host_regions(rng: random.Random) -> dict[str, str]:
    """Seeded host -> region map in which every region has hosts."""
    hosts = list(HOSTS)
    rng.shuffle(hosts)
    return {h: REGIONS[i % len(REGIONS)] for i, h in enumerate(hosts)}


def _values(rng: random.Random, meas: str) -> tuple[float, int]:
    if meas == "cpu":
        return round(rng.uniform(0.0, 100.0), 2), rng.randrange(80, 400)
    return round(rng.uniform(5.0, 95.0), 2), rng.randrange(10**8, 16 * 10**9)


def _line(meas: str, host: str, region: str, fv: float, iv: int, ts: int) -> str:
    ff, fi = FIELDS[meas]
    return f"{meas},host={host},region={region} {ff}={fv:.2f},{fi}={iv}i {ts}"


@dataclass
class Store:
    """What the bucket must hold: the last-written value pair of every
    (measurement, host, time_ns) key, i.e. the LWW view."""

    regions: dict[str, str]
    points: dict[tuple[str, str, int], tuple[float, int]] = field(default_factory=dict)
    _index: dict | None = None

    def point_count(self) -> int:
        return 2 * len(self.points)  # one float and one int field per line

    def series(self, meas: str, host: str, start: int, stop: int) -> list[tuple[int, float]]:
        """Float-field samples of one series in ``[start, stop)``. The
        first call indexes the store; call it only once writing is done."""
        if self._index is None:
            self._index = {}
            for (m, h, ts), v in sorted(self.points.items()):
                self._index.setdefault((m, h), []).append((ts, v[0]))
        s = self._index.get((meas, host), [])
        return s[bisect.bisect_left(s, (start,)):bisect.bisect_left(s, (stop,))]


class IngestStream:
    """Closed-loop write batches: each batch carries ``lines`` lines, 50
    new timestamps for every host and measurement, of which a seeded
    ``resend`` share re-sends an earlier key with a new value (an LWW
    upsert)."""

    def __init__(self, seed: int, lines: int = 5000, resend: float = 0.05):
        self.rng = random.Random(seed)
        self.store = Store(host_regions(self.rng))
        self.lines, self.resend = lines, resend
        self.ticks_per_batch = lines // (2 * len(HOSTS))
        self.batches = 0
        self._keys: list[tuple[str, str, int]] = []
        self.resent: list[tuple[str, str, int]] = []

    def next_batch(self) -> tuple[str, int]:
        """Line-protocol body of the next batch and its line count."""
        rng, store = self.rng, self.store
        base = T0_NS + self.batches * self.ticks_per_batch * STEP_NS
        out = []
        for tick in range(self.ticks_per_batch):
            ts = base + tick * STEP_NS
            for meas in FIELDS:
                for host in HOSTS:
                    key = (meas, host, ts)
                    if self._keys and rng.random() < self.resend:
                        key = self._keys[rng.randrange(len(self._keys))]
                        self.resent.append(key)
                    else:
                        self._keys.append(key)
                    fv, iv = _values(rng, key[0])
                    store.points[key] = (float(f"{fv:.2f}"), iv)
                    out.append(_line(key[0], key[1], store.regions[key[1]], fv, iv, key[2]))
        self.batches += 1
        return "\n".join(out), len(out)

    def stop_ns(self) -> int:
        return T0_NS + self.batches * self.ticks_per_batch * STEP_NS


def history(seed: int, ticks: int, batch_lines: int) -> tuple[Store, list[str]]:
    """A dashboard's preloaded history: every host and measurement at
    ``ticks`` timestamps 10 s apart from ``T0_NS``, split into
    line-protocol bodies of at most ``batch_lines`` lines."""
    rng = random.Random(seed)
    store = Store(host_regions(rng))
    lines = []
    for tick in range(ticks):
        ts = T0_NS + tick * STEP_NS
        for meas in FIELDS:
            for host in HOSTS:
                fv, iv = _values(rng, meas)
                store.points[(meas, host, ts)] = (float(f"{fv:.2f}"), iv)
                lines.append(_line(meas, host, store.regions[host], fv, iv, ts))
    bodies = ["\n".join(lines[i:i + batch_lines]) for i in range(0, len(lines), batch_lines)]
    return store, bodies


# ------------------------------------------------------------- dashboard

PANELS = ("flux_mean", "flux_last", "flux_group_max", "flux_derivative",
          "influxql_mean", "influxql_show_tags")


@dataclass(frozen=True)
class Query:
    panel: str
    lang: str  # "flux" | "influxql"
    text: str
    params: tuple  # what the checker needs to recompute the answer


def _flux_range(start: int, stop: int) -> str:
    return (f'from(bucket: "{BUCKET}")\n'
            f"  |> range(start: {rfc3339(start)}, stop: {rfc3339(stop)})\n")


def panel_query(panel: str, rng: random.Random, span_ns: int) -> Query:
    """One seeded panel query over data in ``[T0_NS, T0_NS + span_ns)``."""
    minutes = span_ns // MINUTE_NS

    def window(length_min: int, grid_min: int = 1) -> tuple[int, int]:
        slots = (minutes - length_min) // grid_min + 1
        start = T0_NS + rng.randrange(slots) * grid_min * MINUTE_NS
        return start, start + length_min * MINUTE_NS

    if panel == "flux_mean":
        start, stop = window(20)
        hosts = tuple(sorted(rng.sample(HOSTS, 3)))
        pred = " or ".join(f'r.host == "{h}"' for h in hosts)
        text = (_flux_range(start, stop)
                + '  |> filter(fn: (r) => r._measurement == "cpu" and r._field == "usage_user")\n'
                + f"  |> filter(fn: (r) => {pred})\n"
                + "  |> aggregateWindow(every: 1m, fn: mean)")
        return Query(panel, "flux", text, (start, stop, hosts))
    if panel == "flux_last":
        start, stop = window(20)
        host = rng.choice(HOSTS)
        text = (_flux_range(start, stop)
                + f'  |> filter(fn: (r) => r._measurement == "mem" and r._field == "used_percent" and r.host == "{host}")\n'
                + "  |> last()")
        return Query(panel, "flux", text, (start, stop, host))
    if panel == "flux_group_max":
        # on the 5-minute grid, so no window is cut by the range
        start, stop = window(20, grid_min=5)
        text = (_flux_range(start, stop)
                + '  |> filter(fn: (r) => r._measurement == "cpu" and r._field == "usage_user")\n'
                + '  |> group(columns: ["region"])\n'
                + "  |> aggregateWindow(every: 5m, fn: max)")
        return Query(panel, "flux", text, (start, stop))
    if panel == "flux_derivative":
        start, stop = window(10)
        host = rng.choice(HOSTS)
        text = (_flux_range(start, stop)
                + f'  |> filter(fn: (r) => r._measurement == "cpu" and r._field == "usage_user" and r.host == "{host}")\n'
                + "  |> derivative(unit: 1m, nonNegative: false)\n"
                + "  |> movingAverage(n: 5)")
        return Query(panel, "flux", text, (start, stop, host))
    if panel == "influxql_mean":
        start, stop = window(20)
        text = ('SELECT mean("used_percent") FROM "mem" '
                f"WHERE time >= '{rfc3339(start)}' AND time < '{rfc3339(stop)}' "
                'GROUP BY time(1m), "host"')
        return Query(panel, "influxql", text, (start, stop))
    if panel == "influxql_show_tags":
        meas = rng.choice(tuple(FIELDS))
        text = f'SHOW TAG VALUES FROM "{meas}" WITH KEY = "host"'
        return Query(panel, "influxql", text, (meas,))
    raise ValueError(panel)


class DashboardSchedule:
    """The closed-loop panel mix: rounds of every panel in a seeded
    order, each with seeded hosts and time windows."""

    def __init__(self, seed: int, span_ns: int):
        self.rng = random.Random(seed * 7919 + 17)
        self.span_ns = span_ns

    def next_round(self) -> list[Query]:
        order = list(PANELS)
        self.rng.shuffle(order)
        return [panel_query(p, self.rng, self.span_ns) for p in order]


# -------------------------------------------------------------- expected

def expected(store: Store, q: Query):
    """The answer to ``q`` over ``store``, in the shape the checker
    compares (see ``checks.py``)."""
    p = q.params
    if q.panel == "flux_mean":
        start, stop, hosts = p
        out = {}
        for h in hosts:
            for w in range(start, stop, MINUTE_NS):
                vals = [v for _t, v in store.series("cpu", h, w, w + MINUTE_NS)]
                out[(h, w + MINUTE_NS)] = statistics.fmean(vals) if vals else None
        return out
    if q.panel == "flux_last":
        start, stop, host = p
        return store.series("mem", host, start, stop)[-1]
    if q.panel == "flux_group_max":
        start, stop = p
        out = {}
        for region in REGIONS:
            hosts = [h for h, r in store.regions.items() if r == region]
            for w in range(start, stop, 5 * MINUTE_NS):
                vals = [v for h in hosts for _t, v in store.series("cpu", h, w, w + 5 * MINUTE_NS)]
                out[(region, w + 5 * MINUTE_NS)] = max(vals) if vals else None
        return out
    if q.panel == "flux_derivative":
        start, stop, host = p
        s = store.series("cpu", host, start, stop)
        der = [(t1, (v1 - v0) / ((t1 - t0) / MINUTE_NS))
               for (t0, v0), (t1, v1) in zip(s, s[1:])]
        return [(der[i + 4][0], statistics.fmean(v for _t, v in der[i:i + 5]))
                for i in range(len(der) - 4)]
    if q.panel == "influxql_mean":
        start, stop = p
        out = {}
        for h in HOSTS:
            for w in range(start, stop, MINUTE_NS):
                vals = [v for _t, v in store.series("mem", h, w, w + MINUTE_NS)]
                out[(h, w)] = statistics.fmean(vals) if vals else None
        return out
    if q.panel == "influxql_show_tags":
        (meas,) = p
        return sorted({h for (m, h, _t) in store.points if m == meas})
    raise ValueError(q.panel)
