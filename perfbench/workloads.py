"""Workloads: seeded request streams and the DuckDB oracle that checks them.

A *panel* is one ``/api/query`` sub-query shape (``m=`` string) whose
expected answer the oracle computes independently of the engine: DuckDB
reads the same ``events.parquet`` the daemon serves, maps events to points
the way the engine documents it (metric = event_type; tags user, k = first
integer of props, big = 'yes' when value > 100), filters and downsamples
each series, and the cross-series step (plain or zero-filled grid) runs
here in Python. Only aggregations without interpolation are used, so the
oracle needs no lerp model: ``zimsum`` without fill, and any aggregator
over a ``-zero`` filled grid, where every series has every bucket.

Points written by ``mixed_rw`` are checked against what the generator
sent, not against DuckDB.
"""

from __future__ import annotations

import itertools
import math
import random
from dataclasses import dataclass, field, replace

import duckdb

BASE_START_S = 1704067200  # 2024-01-01T00:00:00Z, start of the events
BASE_DAYS = 30
K_VALUES = 100  # the ``k`` tag takes values 0-99
HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
INTERVAL_MS = {"1m": 60_000, "5m": 300_000, "10m": 600_000, "15m": 900_000,
               "30m": 1_800_000, "1h": HOUR_MS, "1d": DAY_MS}
PUT_METRIC = "bench.put.c{}"  # one metric per mixed_rw client
PUT_HOSTS = 8
# written points start two days after the base range ends
PUT_START_MS = (BASE_START_S + (BASE_DAYS + 2) * 86400) * 1000


@dataclass(frozen=True)
class Panel:
    name: str
    agg: str
    metric: str
    interval: str | None = None  # None = raw resolution
    ds_agg: str = "sum"
    fill_zero: bool = False
    group: tuple = ()  # ((tagk, filter), ...) grouping filters
    where: tuple = ()  # ((tagk, filter), ...) non-grouping filters
    window_h: int = 1
    ms: bool = False


# filter forms: ("*",) every value, ("lit", (v, ...)), ("wild", "1*");
# ("lit", ()) is a placeholder the generator fills with seeded values
def _render(flt) -> str:
    if flt[0] == "*":
        return "*"
    if flt[0] == "lit":
        return "literal_or(" + "|".join(flt[1]) + ")"
    return f"wildcard({flt[1]})"


def m_spec(p: Panel) -> str:
    head = [p.agg]
    if p.interval:
        head.append(f"{p.interval}-{p.ds_agg}" + ("-zero" if p.fill_zero else ""))
    tags = ""
    if p.group or p.where:
        tags = "{" + ",".join(f"{k}={_render(f)}" for k, f in p.group) + "}"
    if p.where:
        tags += "{" + ",".join(f"{k}={_render(f)}" for k, f in p.where) + "}"
    return ":".join(head) + ":" + p.metric + tags


# dashboard panels: short windows, small responses -> fixed cost dominates
DASHBOARD = (
    Panel("zimsum_by_k", "zimsum", "purchase", "10m", "sum",
          group=(("k", ("*",)),), window_h=6),
    Panel("sum_big", "sum", "view", "1h", "sum", True,
          group=(("big", ("*",)),), window_h=24),
    Panel("avg_3k", "avg", "click", "15m", "avg", True,
          group=(("k", ("lit", ())),), window_h=12),
    Panel("max_1m", "max", "error", "1m", "max", True, window_h=1),
    Panel("p95_wild", "p95", "signup", "30m", "max", True,
          where=(("k", ("wild", "1*")),), window_h=12),
    Panel("zimsum_count_big", "zimsum", "view", "5m", "count",
          group=(("big", ("*",)),), where=(("user", ("wild", "*7")),), window_h=24),
)

# analyst scans: the whole month, 26k output points and 0.63 MB of JSON per
# answer on average -> volume dominates. A raw ``sum`` and an ``avg``
# group-by would interpolate across series, which the oracle does not
# model; ``zimsum`` (no interpolation) stands in, and p95 reads a
# zero-filled daily grid so every series has every bucket.
ANALYST = (
    Panel("raw_sum", "zimsum", "purchase", ms=True, window_h=BASE_DAYS * 24),
    Panel("avg_1h_by_user", "zimsum", "purchase", "1h", "avg",
          group=(("user", ("*",)),), window_h=BASE_DAYS * 24),
    Panel("p95_1d_by_user", "p95", "view", "1d", "max", True,
          group=(("user", ("*",)),), window_h=BASE_DAYS * 24),
)

# zero-filled panels of one group: their answers have the same size in
# every window, so a run's data points depend on the puts alone
MIXED_PANELS = (DASHBOARD[1], DASHBOARD[3])

WRITTEN = Panel("written", "zimsum", "", "1m", "sum",
                group=(("host", ("lit", ())),))


@dataclass
class Request:
    kind: str  # "query" | "put"
    panel: Panel | None = None
    params: dict = field(default_factory=dict)
    body: list | None = None
    start_ms: int = 0
    end_ms: int = 0
    log: PutLog | None = None  # reads of written points: whose, and
    puts_before: int = 0  # how many of its batches were sent before
    rid: str = ""  # request id, sent as the X-Bench-Request header


def _instantiate(p: Panel, rng: random.Random) -> Panel:
    def fill(tagk, flt):
        if flt[0] == "lit" and not flt[1]:
            pool = ([f"h{i}" for i in range(PUT_HOSTS)] if tagk == "host"
                    else [str(i) for i in range(K_VALUES)])
            return ("lit", tuple(sorted(rng.sample(pool, 3))))
        return flt
    return Panel(p.name, p.agg, p.metric, p.interval, p.ds_agg, p.fill_zero,
                 tuple((k, fill(k, f)) for k, f in p.group),
                 tuple((k, fill(k, f)) for k, f in p.where), p.window_h, p.ms)


def query(p: Panel, start_ms: int, end_ms: int) -> Request:
    params = {"start": str(start_ms // 1000), "end": str(end_ms // 1000), "m": m_spec(p)}
    if p.ms:
        params["ms"] = "true"
    return Request("query", p, params, start_ms=start_ms, end_ms=end_ms)


def panel_query(p: Panel, rng: random.Random) -> Request:
    p = _instantiate(p, rng)
    start_ms = (BASE_START_S * 1000
                + rng.randint(0, BASE_DAYS * 24 - p.window_h) * HOUR_MS)
    return query(p, start_ms, start_ms + p.window_h * HOUR_MS)


def panel_stream(panels, rng: random.Random, first: int = 0):
    """Endless stream cycling through the panels in a fixed order from
    ``first``; the seed draws each query's window and literal values. A
    window holds only a few rounds, so a seeded order would change the
    panel mix, and with it the medians, from seed to seed."""
    for i in itertools.count(first):
        yield panel_query(panels[i % len(panels)], rng)


def warmup_requests(panels) -> list[Request]:
    """One one-hour query per panel: every plan shape compiles once."""
    base = BASE_START_S * 1000
    return [query(_instantiate(p, random.Random(i)), base, base + HOUR_MS)
            for i, p in enumerate(panels)]


class PutLog:
    """Batches one mixed_rw client sent, kept to check its later reads."""

    def __init__(self, metric: str):
        self.metric = metric
        self.batches: list[list[dict]] = []
        self.next_ms = PUT_START_MS + 7  # never on a whole second

    def make_batch(self, rng: random.Random, lo: int, hi: int) -> list[dict]:
        b = len(self.batches)
        pts = []
        for i in range(rng.randint(lo, hi)):
            pts.append({"metric": self.metric, "timestamp": self.next_ms,
                        "value": round(rng.uniform(0.0, 100.0), 2),
                        "tags": {"host": f"h{i % PUT_HOSTS}", "batch": f"b{b}"}})
            self.next_ms += 1000
        self.batches.append(pts)
        return pts

    def read_request(self, rng: random.Random) -> Request:
        """A read of the written metric over the minutes up to the newest
        point sent, like a panel of recent data."""
        end = self.next_ms - self.next_ms % 1000  # just past the newest point
        start = max(PUT_START_MS, end - WRITTEN_MINUTES * 60_000)
        panel = replace(_instantiate(WRITTEN, rng), metric=self.metric)
        req = query(panel, start - start % 60_000, end)
        req.log, req.puts_before = self, len(self.batches)
        return req


# batch sizes of one round of three puts: one draw from each third of
# 50-500 points, largest first, so every round writes about 825 points and
# the first read of a run already sees six minutes or more of them
PUT_SIZES = ((351, 500), (50, 200), (201, 350))
WRITTEN_MINUTES = 10


MIXED_ROUND = ("put", "written", "put", "panel", "put")


def mixed_stream(rng: random.Random, client: int):
    """Rounds of put, written read, put, dashboard panel, put. The seed
    draws batch sizes and contents, windows and literal values; the order is
    fixed for the reason given in ``panel_stream``. Each client writes and
    reads its own metric, so each read is sent after every put it must see
    was answered, whatever the other clients do."""
    log = PutLog(PUT_METRIC.format(client))
    panels = panel_stream(MIXED_PANELS, rng, client)
    while True:
        sizes = iter(PUT_SIZES)
        for op in MIXED_ROUND:
            if op == "put":
                yield Request("put", body=log.make_batch(rng, *next(sizes)))
            elif op == "written":
                yield log.read_request(rng)
            else:
                yield next(panels)


# ------------------------------------------------------------------ oracle
def open_oracle(events_path: str):
    """DuckDB connection with the events as a ``pts`` point view."""
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW pts AS SELECT
        event_type AS metric, epoch_ms(ts) AS ts_ms, value,
        CAST(user_id AS VARCHAR) AS user,
        regexp_extract(props, '[0-9]+') AS k,
        CASE WHEN value > 100.0 THEN 'yes' END AS big
        FROM read_parquet('{events_path}')""")
    return con


def _sql_pred(tagk: str, flt) -> str:
    if flt[0] == "*":
        return f"{tagk} IS NOT NULL"
    if flt[0] == "lit":
        return f"{tagk} IN (" + ", ".join(f"'{v}'" for v in flt[1]) + ")"
    return f"{tagk} LIKE '{flt[1].replace('*', '%')}'"


def _pctl_legacy(vals: list[float], q: float) -> float:
    """OpenTSDB's default percentile estimate: pos = q(n+1), linear."""
    a = sorted(vals)
    n = len(a)
    pos = q * (n + 1)
    if pos < 1:
        return a[0]
    if pos >= n:
        return a[-1]
    f = math.floor(pos)
    return a[f - 1] + (pos - f) * (a[f] - a[f - 1])


_CROSS = {
    "zimsum": sum, "sum": sum, "max": max, "min": min,
    "avg": lambda v: sum(v) / len(v),
    "p95": lambda v: _pctl_legacy(v, 0.95),
}


def _cross(p: Panel, rows, start_ms: int, end_ms: int) -> dict:
    """rows: (group key, series id, bucket ms, value) per series-bucket.
    Returns {group key: {dps key: value}}, the daemon's output shape."""
    cells: dict[tuple, dict[int, list[float]]] = {}
    series: dict[tuple, set] = {}
    for gkey, sid, b, v in rows:
        cells.setdefault(gkey, {}).setdefault(b, []).append(v)
        series.setdefault(gkey, set()).add(sid)
    if p.fill_zero:
        # the daemon's grid: every bucket in [start, end) for every series
        iv = INTERVAL_MS[p.interval]
        last = (end_ms - 1) - (end_ms - 1) % iv
        for gkey, by_b in cells.items():
            n = len(series[gkey])
            for b in range(start_ms - start_ms % iv, last + 1, iv):
                vals = by_b.setdefault(b, [])
                vals.extend([0.0] * (n - len(vals)))
    fn = _CROSS[p.agg]
    return {g: {str(b if p.ms else b // 1000): fn(v) for b, v in by_b.items()}
            for g, by_b in cells.items()}


def expected_panel(con, req: Request) -> dict:
    """Expected answer for a base-data panel, from DuckDB over ``pts``."""
    p = req.panel
    gk = [k for k, _ in p.group]
    preds = [f"metric = '{p.metric}'", f"ts_ms BETWEEN {req.start_ms} AND {req.end_ms}"]
    preds += [_sql_pred(k, f) for k, f in p.group + p.where]
    sid = "concat_ws('|', user, k, coalesce(big, '-'))"
    cols = "".join(f"{k}, " for k in gk)
    if p.interval:
        iv = INTERVAL_MS[p.interval]
        agg = "CAST(count(*) AS DOUBLE)" if p.ds_agg == "count" else f"{p.ds_agg}(value)"
        sql = (f"SELECT {cols}{sid} AS sid, ts_ms // {iv} * {iv} AS b, {agg} AS v "
               f"FROM pts WHERE {' AND '.join(preds)} GROUP BY ALL")
    else:
        sql = (f"SELECT {cols}{sid} AS sid, ts_ms AS b, value AS v "
               f"FROM pts WHERE {' AND '.join(preds)}")
    n = len(gk)
    rows = [(tuple(r[:n]), r[n], r[n + 1], r[n + 2]) for r in con.execute(sql).fetchall()]
    return _cross(p, rows, req.start_ms, req.end_ms)


def expected_written(req: Request) -> dict:
    """Expected answer for a read of a written metric, from the batches
    sent before it (all of them were acknowledged, or the run has failed)."""
    p = req.panel
    hosts = set(p.group[0][1][1])
    iv = INTERVAL_MS[p.interval]
    per_series: dict[tuple, float] = {}
    for batch in req.log.batches[:req.puts_before]:
        for pt in batch:
            h, ts = pt["tags"]["host"], pt["timestamp"]
            if h in hosts and req.start_ms <= ts <= req.end_ms:
                key = ((h,), (h, pt["tags"]["batch"]), ts // iv * iv)
                per_series[key] = per_series.get(key, 0.0) + pt["value"]
    rows = [(g, s, b, v) for (g, s, b), v in per_series.items()]
    return _cross(p, rows, req.start_ms, req.end_ms)


def compare(resp, expected: dict, group_keys) -> str | None:
    """None when the response matches, else a one-line reason."""
    if not isinstance(resp, list):
        return "response is not a list"
    got: dict[tuple, dict] = {}
    for s in resp:
        key = tuple(s.get("tags", {}).get(k) for k in group_keys)
        if key in got:
            return f"duplicate output series {key}"
        got[key] = s.get("dps", {})
    if set(got) != set(expected):
        return f"groups differ: {len(got)} returned, {len(expected)} expected"
    for key, want in expected.items():
        have = got[key]
        if set(have) != set(want):
            return f"timestamps differ in {key}: {len(have)} vs {len(want)}"
        for t, v in want.items():
            h = have[t]
            if not isinstance(h, (int, float)) or abs(h - v) > 1e-6 + 1e-9 * abs(v):
                return f"value differs in {key} at {t}: {h} vs {v}"
    return None
