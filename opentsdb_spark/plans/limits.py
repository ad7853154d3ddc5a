"""Query limit guards.

Reference: byte / data-point ceilings abort over-large queries
(src/core/TsdbQuery.java:527-536, src/query/QueryLimitOverride.java —
per-metric overrides of tsd.query.limits.data_points / .bytes). On Spark
the scan itself is distributed, so the guards protect the driver/collect
side: the byte ceiling is priced from plan statistics, the scan budget from
the query's resolved series, and the data-point ceiling caps the one
collect at n+1 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class QueryLimitExceeded(RuntimeError):
    pass


# process-wide default ceiling, the analog of tsd.query.limits.data_points
# (0 = disabled, the reference's default). Every API handler consults this
# before collecting to the driver; a per-request "max_data_points" overrides
# it (QueryLimitOverride.java's per-metric override generalized per-request).
# The reference can default to unlimited because it STREAMS results into the
# channel; this engine materializes responses via collect(), so the TSD
# daemon turns a non-zero ceiling on by default (cli.py tsd
# --max-data-points) — library callers keep the reference default.
DEFAULT_MAX_DATA_POINTS = 0

# analog of tsd.query.limits.bytes (src/core/SaltScanner.java:560-605 aborts
# the scan once the streamed cells exceed the byte ceiling). 0 = disabled.
DEFAULT_MAX_BYTES = 0


class QueryLimitOverrides:
    """Per-metric regex -> ceiling overrides — tsd.query.limits.overrides
    (src/query/QueryLimitOverride.java): the FIRST item whose regex finds a
    match in the metric name supplies BOTH ceilings verbatim (a matched 0
    means unlimited for that metric, exactly as the reference's
    getByteLimit/getDataPointLimit return the item value); no match falls
    through to the process defaults. The reference's set is unordered
    ("indeterministic" on overlap, per its own javadoc) — here file order
    wins, a strictly more predictable superset of that contract."""

    def __init__(self, items: list[dict]) -> None:
        import re

        self.items = []
        for it in items:
            rx = it.get("regex")
            if not rx:
                raise ValueError("query limit override requires a 'regex'")
            dp = int(it.get("dataPointsLimit", it.get("data_points", 0)))
            by = int(it.get("byteLimit", it.get("bytes", 0)))
            if dp < 0 or by < 0:
                raise ValueError("override limits must be 0 or greater")
            self.items.append((re.compile(rx), dp, by))

    @classmethod
    def load(cls, path: str) -> "QueryLimitOverrides":
        """JSON file: a list of {"regex", "dataPointsLimit", "byteLimit"}
        items (the reference's TR_OVERRIDES serialization,
        QueryLimitOverride.java:246-307)."""
        import json

        with open(path) as fh:
            return cls(json.load(fh))

    def _match(self, metric: str | None):
        if not metric:  # null/empty never matches (matches() contract)
            return None
        for pat, dp, by in self.items:
            if pat.search(metric):
                return dp, by
        return None

    def data_point_limit(self, metric: str | None, default: int) -> int:
        m = self._match(metric)
        return m[0] if m is not None else default

    def byte_limit(self, metric: str | None, default: int) -> int:
        m = self._match(metric)
        return m[1] if m is not None else default


# installed via configure(overrides_file=...) / configure(overrides=...)
OVERRIDES: QueryLimitOverrides | None = None


def configure(max_data_points: int | None = None, max_bytes: int | None = None,
              overrides_file: str | None = None,
              overrides: QueryLimitOverrides | None = None) -> None:
    global DEFAULT_MAX_DATA_POINTS, DEFAULT_MAX_BYTES, OVERRIDES
    if max_data_points is not None:
        DEFAULT_MAX_DATA_POINTS = int(max_data_points)
    if max_bytes is not None:
        DEFAULT_MAX_BYTES = int(max_bytes)
    if overrides_file is not None:
        OVERRIDES = QueryLimitOverrides.load(overrides_file)
    if overrides is not None:
        OVERRIDES = overrides


def request_limit(request: dict, metric: str | None = None) -> int:
    """Data-point ceiling for one (sub-)query: an explicit per-request
    max_data_points wins, then a per-metric override, then the default."""
    if "max_data_points" in request:
        return int(request["max_data_points"])
    base = DEFAULT_MAX_DATA_POINTS
    if OVERRIDES is not None:
        return OVERRIDES.data_point_limit(metric, base)
    return base


def strictest_limit(request: dict, metrics) -> int:
    """Data-point ceiling for a query touching SEVERAL metrics (gexp / exp
    expressions, multi-metric lookups): an explicit per-request
    max_data_points wins; otherwise each metric resolves through the
    override map and the STRICTEST positive ceiling governs the combined
    result (the reference enforces per-scanner, i.e. per metric — on a
    single combined result set the tightest involved ceiling is the
    conservative equivalent). Overrides may resolve a metric to 0 =
    unlimited (QueryLimitOverride.getDataPointLimit returns the matched
    value verbatim); when EVERY involved metric resolves unlimited the
    combined query is unlimited too — only when no metric resolves at all
    does the global default apply."""
    if "max_data_points" in request:
        return int(request["max_data_points"])
    resolved = [request_limit({}, m) for m in metrics if m]
    if not resolved:
        return DEFAULT_MAX_DATA_POINTS
    positive = [v for v in resolved if v > 0]
    return min(positive) if positive else 0


def request_byte_limit(request: dict, metric: str | None = None) -> int:
    if "max_bytes" in request:
        return int(request["max_bytes"])
    base = DEFAULT_MAX_BYTES
    if OVERRIDES is not None:
        return OVERRIDES.byte_limit(metric, base)
    return base


def enforce_data_point_limit(rows: list, max_data_points: int) -> list:
    """Raise if the rows a caller collected with limit(n+1).collect()
    exceed the ceiling n (0 = unlimited, the default, matching
    tsd.query.limits defaults)."""
    if 0 < max_data_points < len(rows):
        raise QueryLimitExceeded(
            f"query would return more than {max_data_points} data points"
        )
    return rows


def estimate_scan_bytes(df: DataFrame) -> int:
    """On-disk bytes the query would read, priced WITHOUT running any job.

    File-source scans are priced from the physical plan's pruned file
    listing (FileSourceScanExec.selectedPartitions.totalFileSize): for a
    path-based dt-partitioned Parquet layout, partition filters prune at
    physical planning, so a one-day slice of a year prices only that day's
    files — exactly the bytes the reference's scanner would stream
    (src/core/SaltScanner.java:560-605). The cost is a driver-side file
    listing, no Spark job. Non-file leaves (in-memory frames, cached
    relations) fall back to Catalyst's optimized-plan size estimate.

    The TSD daemon's base is such an in-memory frame: it is materialized
    at construction, so ``tsd.query.limits.bytes`` prices it from the
    statistics the checkpoint carries over from its source plan — the
    in-memory row estimate of the whole base (2.35 MB for the sf0.1 events
    table, against 2.05 MB of parquet file bytes), not a pruned listing."""
    qe = df._jdf.queryExecution()
    leaves = qe.executedPlan().collectLeaves()
    total, found_files = 0, False
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            found_files = True
            total += int(leaf.selectedPartitions().totalFileSize())
    if found_files:
        return total
    return int(qe.optimizedPlan().stats().sizeInBytes())


def enforce_byte_budget(source_df: DataFrame, max_bytes: int) -> None:
    """Pre-execution byte ceiling — tsd.query.limits.bytes. Rejects the
    query from plan statistics alone (no job runs); 0 = unlimited."""
    if max_bytes <= 0:
        return
    est = estimate_scan_bytes(source_df)
    if est > max_bytes:
        raise QueryLimitExceeded(
            f"sorry, you have attempted to fetch more than our limit of "
            f"{max_bytes} bytes (the scan would read ~{est} bytes after "
            f"partition pruning)"
        )


# approximate milliseconds per calendar unit, for grid-size estimation only
_CAL_MS = {"m": 60_000, "h": 3_600_000, "d": 86_400_000, "w": 7 * 86_400_000,
           "n": 30 * 86_400_000, "y": 365 * 86_400_000}


def enforce_scan_budget(series_points: list[int], downsample, start_ms: int,
                        end_ms: int, max_data_points: int) -> None:
    """Pre-execution budget check — the Spark analog of the reference
    aborting DURING the scan once too many cells stream back
    (src/core/TsdbQuery.java:527-536 wiring tsd.query.limits.data_points
    into the scanner callbacks). Pure arithmetic over the sub-query's
    resolved series (``series_points``: the matched-point count of each
    series, from the one series-resolution job), so the budget is exact
    and runs no job of its own:

      * scanned points: the sum of the per-series counts
      * output grid: for a fill-policy downsample the output is
        series x buckets, which the range and interval bound — this catches
        the classic footgun (1s downsample with fill=zero over a year = 31M
        rows per series from a handful of raw points) before the grid is
        built

    ``downsample`` is the sub-query's DownsampleSpec (or None). Raises
    QueryLimitExceeded; 0 = unlimited (the reference's default)."""
    if max_data_points <= 0:
        return
    n_scanned, n_series = sum(series_points), len(series_points)
    if n_scanned > max_data_points:
        raise QueryLimitExceeded(
            f"sorry, you have attempted to fetch more than our limit of "
            f"{max_data_points} data points ({n_scanned} matched the scan)"
        )
    if downsample is not None and downsample.fill != "none" and not downsample.run_all:
        if downsample.calendar:
            unit_ms = _CAL_MS.get(downsample.calendar_unit or "d", 86_400_000)
            interval_ms = unit_ms * max(downsample.calendar_n, 1)
        else:
            interval_ms = downsample.interval_ms
        if interval_ms and interval_ms > 0:
            buckets = (end_ms - start_ms) // interval_ms + 1
            est = n_series * buckets
            if est > max_data_points:
                raise QueryLimitExceeded(
                    f"downsample grid would emit ~{est} data points "
                    f"({n_series} series x {buckets} buckets), over the "
                    f"limit of {max_data_points}"
                )
