"""The TSD daemon — HTTP + telnet serving layer over the api handlers.

The reference runs a Netty server whose pipeline detects the protocol per
connection and dispatches HTTP RPCs or telnet-style line commands
(src/tsd/PipelineFactory.java, src/tsd/RpcHandler.java,
src/tsd/RpcManager.java:120-190 for the endpoint map, src/tsd/TSDMain.java
for startup). This module mirrors that with stdlib servers:

  * :class:`TSD` — the shared state (point frame, annotations, uid
    registry, rollup/histogram stores) + the endpoint router.
  * :class:`TSDHTTPServer` — ThreadingHTTPServer serving the /api/* and /q
    endpoints with the reference's JSON error envelope
    (src/tsd/HttpQuery.java:585-630 {"error": {code, message, details}}).
  * :class:`TelnetServer` — line-protocol listener: ``put``, ``rollup``,
    ``histogram``, ``version``, ``stats``, ``status``, ``dropcaches``,
    ``diediedie``, ``help``, ``exit`` (src/tsd/RpcManager.java:306-446
    telnet command map, src/tsd/PutDataPointRpc.java:120-180,
    src/tsd/HistogramDataPointRpc.java:92-158).

The point frame the daemon is given is materialized once, at
construction: ``coalesce(n).localCheckpoint()``, where ``n`` is that
frame's own partition count (Spark's file-split rule; one for a base of a
few MB). Reads then scan memory, never the source files, and the served
frame keeps ``n`` partitions however many puts arrive, so with ``n == 1``
it reports a single partition and Catalyst plans every read's group-bys,
joins and windows with no shuffle (the reference likewise keeps each
series' cells contiguous, src/core/RowKey.java:83-105).

Writes mutate the in-memory frames under a lock. A put is parsed,
validated and materialized once, in its one Spark job, as an Arrow batch
appended to a memtable; the served point frame is a plan of fixed depth,
(base ∪ delta ∪ memtable).coalesce(n), where the memtable is ONE
LocalRelation over the concatenated batches and every
``_CHECKPOINT_EVERY`` writes folds it into the delta, a materialized frame
of the written points only (the Structured Streaming shape: incremental
state with bounded lineage). DELETE /api/query and uid renames
re-materialize the base the same way. Durable ingest
at scale is the Structured Streaming path (streaming/ingest.py) — this
server is the interactive/operational surface, exactly the role the
reference TSD plays in front of HBase.

Start one with::

    python -m opentsdb_spark.cli tsd --port 4242 --telnet-port 4243
"""

from __future__ import annotations

import json
import socketserver
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame

from opentsdb_spark.session import arrow_df, empty_df, tiny_df

from opentsdb_spark import api
from opentsdb_spark.plans.limits import QueryLimitExceeded

# writes per fold: every _CHECKPOINT_EVERY puts the memtable's batches fold
# into the checkpointed delta frame, so the memtable that each put re-sends
# to the JVM stays small while the served plan keeps at most three leaves
_CHECKPOINT_EVERY = 32

# Explicit "respond 204" sentinel. Handlers that legitimately produce an
# empty string WITH a content type (e.g. GET /logs on an empty ring buffer)
# must still get an empty 200 body, like the reference LogsRpc — so
# no-content is signalled by identity, never inferred from payload == "".
NO_CONTENT = object()


class BadRequest(ValueError):
    pass


class TSD:
    """Server state + router. One instance backs both listeners."""

    # endpoint sets per operation mode (reference tsd.mode,
    # src/tsd/RpcManager.java:295-366: WRITEONLY registers only the write
    # RPCs + tree/uid, READONLY only the read RPCs + uid; put/rollup/
    # histogram telnet commands exist in wo/rw only; the introspection
    # block — version/stats/config/dropcaches/status/aggregators/logs — is
    # mode-independent). uid is registered in every mode and rejects the
    # cross-mode sub-operations itself (UniqueIdRpc.java:96-199).
    _WRITE_EPS = frozenset({"put", "rollup", "histogram",
                            "annotation", "annotations", "tree"})
    _READ_EPS = frozenset({"query", "search", "suggest"})

    def __init__(
        self,
        spark,
        points: DataFrame,
        annotations: DataFrame | None = None,
        rollups: DataFrame | None = None,
        histograms: DataFrame | None = None,
        static_dir: str | None = None,
        cache_dir: str | None = None,
        mode: str = "rw",
        cors_domains: str | None = None,
        cors_headers: str | None = None,
        no_diediedie: bool = False,
        trees_dir: str | None = None,
        rollup_cfg=None,
    ):
        if mode not in ("rw", "ro", "wo"):
            raise ValueError(f"tsd.mode must be rw|ro|wo, got {mode!r}")
        self.mode = mode
        # tsd.no_diediedie: the shutdown command is simply not registered
        self.no_diediedie = no_diediedie
        # CORS config (reference tsd.http.request.cors_domains/_headers,
        # RpcHandler.java:92-115: comma list matched case-insensitively;
        # '*' must be the only entry)
        if cors_domains:
            doms = [d.strip().upper() for d in cors_domains.split(",") if d.strip()]
            if "*" in doms and len(doms) > 1:
                raise ValueError(
                    "tsd.http.request.cors_domains must be a public resource "
                    "(*) or a list of domains, not both"
                )
            self.cors_domains: set[str] | None = set(doms)
        else:
            self.cors_domains = None
        self.cors_headers = cors_headers or (
            "Authorization, Content-Type, Accept, Origin, User-Agent, DNT, "
            "Cache-Control, X-Mx-ReqToken, Keep-Alive, X-Requested-With, "
            "If-Modified-Since"
        )
        self.spark = spark
        # served point frame = (base ∪ delta ∪ memtable).coalesce(n) (see
        # _absorb); reads snapshot self.points, writes rebuild it under the
        # lock. n is the given frame's partition count, no job
        self._partitions = max(1, points.rdd.getNumPartitions())
        self._base = self._materialize(points)
        self._delta: DataFrame | None = None
        self._memtable: list[pa.Table] = []
        self._serve()
        # /s/* static root (reference tsd.http.staticroot); None = 404
        self.static_dir = static_dir
        # /q graph disk cache root (reference tsd.http.cachedir,
        # GraphHandler.java:166-191); None = render every request
        self.cache_dir = cache_dir
        if annotations is None:
            from opentsdb_spark.operators.annotations import ANNOTATION_SCHEMA

            annotations = empty_df(spark, ANNOTATION_SCHEMA)
        self.annotations = annotations
        self.rollups = rollups
        # materialized rollup tables (plans.rollup.load_rollup_config on a
        # rollup-build directory) — the reference's tsd.rollups.config
        # registry; merged with live /api/rollup ingest per query
        self.rollup_cfg = rollup_cfg
        self.histograms = histograms
        self.uid_registry: DataFrame | None = None
        self.uidmeta: DataFrame | None = None
        self.tsmeta: DataFrame | None = None
        # disk-backed /api/tree definitions (--trees-dir): loaded at boot,
        # saved after every mutating edit, shared with `uid treesync` —
        # the reference keeps tree rows in the UID table, so its trees
        # equally survive a TSD restart. None = process-memory store.
        self.trees_dir = trees_dir
        if trees_dir:
            from opentsdb_spark.operators.tree import load_tree_defs

            self.tree_store = load_tree_defs(trees_dir)
        else:
            self.tree_store = None
        self.lock = threading.Lock()
        # counters get their own lock: increments must not queue behind the
        # frame lock, which is held across the memtable's re-send to the JVM
        # on every put and across a fold's or rewrite's Spark job, and
        # unsynchronized += from ThreadingHTTPServer/telnet threads loses
        # counts (read-modify-write race) so the stats drift low
        self._counter_lock = threading.Lock()
        self._writes = 0
        # reference RpcManager.Status lifecycle: startup -> ok/partial/error
        # -> shutting-down (sticky); here storage is the Spark session, so
        # the probe is "can we still plan against the point frame"
        self.status = "startup"
        # reference RpcHandler counters (rpc.received type=http/telnet,
        # exceptions_caught) surfaced through /api/stats and telnet `stats`
        self.counters = {"rpc.received.http": 0, "rpc.received.telnet": 0,
                         "rpc.received.http_plugin": 0, "exceptions_caught": 0,
                         # GraphHandler.collectStats: http.graphs.generated
                         # cache=miss vs cache=disk (GraphHandler.java:60-70)
                         "http.graphs.generated": 0,
                         "http.graphs.diskcache_hit": 0}

        # completed-query ring buffer backing /api/stats/query (reference
        # QueryStats keeps running+completed query maps, StatsRpc:84-96)
        from collections import deque

        self.completed_queries: deque = deque(maxlen=256)
        # server shutdown hooks (one per listener): diediedie stops the
        # WHOLE daemon like the reference's doShutdown, not just the
        # listener the command arrived on
        self._shutdown_hooks: list = []

    def register_shutdown(self, hook) -> None:
        self._shutdown_hooks.append(hook)

    def request_shutdown(self) -> None:
        """Run every registered listener shutdown from a fresh thread —
        socketserver.shutdown() deadlocks when called from one of its own
        handler threads (the reference spawns ShutdownNetty for the same
        reason, RpcManager DieDieDie.doShutdown)."""
        # one thread PER hook: socketserver.shutdown() blocks until that
        # server's serve_forever() loop exits — a listener that was
        # constructed but never started would hang a sequential loop and
        # the remaining listeners would keep serving forever
        def _safe(hook):
            try:
                hook()
            except Exception:  # noqa: BLE001 — best-effort teardown
                pass

        for i, h in enumerate(list(self._shutdown_hooks)):
            threading.Thread(target=_safe, args=(h,), daemon=True,
                             name=f"tsd-shutdown-{i}").start()

    def bump(self, name: str, n: int = 1) -> None:
        with self._counter_lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def probe_status(self) -> str:
        if self.status == "shutting-down":
            return self.status
        try:
            # a REAL JVM round-trip: DataFrame.schema is a cached property
            # on the Python object and would keep answering after the
            # session died
            self.points._jdf.schema()
            self.status = "ok"
        except Exception:  # noqa: BLE001 — any failure = storage error
            self.status = "error"
        return self.status

    # ------------------------------------------------------------ writes
    def _absorb(self, table: pa.Table) -> None:
        """Append one materialized put batch (an Arrow table in the put
        schema) to the memtable; every ``_CHECKPOINT_EVERY`` writes fold it
        into the delta (caller holds the lock)."""
        self._memtable.append(table)
        self._writes += 1
        if self._writes % _CHECKPOINT_EVERY == 0:
            self._fold()
        self._serve()

    def _materialize(self, frame: DataFrame) -> DataFrame:
        """Run ``frame`` once into the block manager as ``n`` partitions; the
        result is an in-memory scan whose plan reports that partitioning
        (one job). A localCheckpoint, not cache(): /api/dropcaches clears
        the SQL cache, which would silently drop a cached frame."""
        return frame.coalesce(self._partitions).localCheckpoint()

    def _fold(self, rewrite=None) -> None:
        """delta = materialized rewrite(delta ∪ memtable), emptying the
        memtable: one job over written points only, never the base
        (caller holds the lock)."""
        written = self._delta
        mem = self._memtable_df()
        if mem is not None:
            written = mem if written is None else written.unionByName(
                mem, allowMissingColumns=True)
        if written is not None:
            if rewrite is not None:
                written = rewrite(written)
            self._delta = self._materialize(written)
        self._memtable = []

    def _memtable_df(self) -> DataFrame | None:
        if not self._memtable:
            return None
        return arrow_df(self.spark, pa.concat_tables(self._memtable))

    def _serve(self) -> None:
        """Rebuild the served frame (base ∪ delta ∪ memtable).coalesce(n):
        a union's partitions add up, so without the coalesce every put
        would add partitions and the planner would lose the base's known
        partitioning (caller holds the lock)."""
        points = self._base
        for part in (self._delta, self._memtable_df()):
            if part is not None:
                points = points.unionByName(part, allowMissingColumns=True)
        self.points = points.coalesce(self._partitions)

    def _rewrite(self, fn) -> None:
        """Apply a frame rewrite (DELETE /api/query, uid rename) to every
        stored point: the base is re-materialized through it, and the
        written points fold into the delta through it (caller holds the
        lock)."""
        self._base = self._materialize(fn(self._base))
        self._fold(rewrite=fn)
        self._serve()

    def put_lines(self, lines: list[str]) -> dict[str, int]:
        """Telnet ``put`` batch via the line parser
        (sources/points.py:154-203, reference PutDataPointRpc.execute)."""
        from opentsdb_spark.sources.points import parse_put_lines
        from opentsdb_spark.streaming.ingest import apply_ingest_filters

        ldf = arrow_df(self.spark, pa.table({"value": pa.array(lines, pa.string())}))
        pts = apply_ingest_filters(parse_put_lines(ldf))
        # the batch depends only on these lines — materialize it OUTSIDE
        # the lock so a big telnet flush doesn't stall every other request
        table = pts.toArrow()
        with self.lock:
            self._absorb(table)
        return {"success": table.num_rows, "failed": len(lines) - table.num_rows}

    def rollup_lines(self, lines: list[str]) -> dict[str, int]:
        """Telnet ``rollup interval:[aggregator] metric ts value tag=v...``
        batch (reference RollupDataPointRpc.java:86-95 — words[1] is the
        interval:aggregator spec, the rest is a plain put line)."""
        body = []
        for line in lines:
            try:
                _, spec, metric, ts, value, *tagw = line.split()
                interval, _, agg = spec.partition(":")
                body.append({
                    "interval": interval,
                    "aggregator": agg or "sum",
                    "metric": metric,
                    "timestamp": int(ts),
                    "value": float(value),
                    "tags": dict(t.split("=", 1) for t in tagw),
                })
            except (ValueError, TypeError):
                continue  # counted as failed by the success delta below
        resp, frame = api.handle_rollup_put(self.spark, body)
        with self.lock:
            self.rollups = (
                frame if self.rollups is None
                else self.rollups.unionByName(frame, allowMissingColumns=True)
            )
        return {"success": resp["success"],
                "failed": len(lines) - resp["success"]}

    def _effective_rollup_cfg(self):
        """Rollup registry for /api/query routing: the materialized tables
        (--rollups-dir, reference tsd.rollups.config) extended with any rows
        ingested via /api/rollup or the telnet ``rollup`` command since boot
        — the reference equally serves freshly-written rollup cells on the
        next query (they land in the same HBase tables its RollupQuery
        reads). Only CONFIGURED intervals route: the reference rejects
        rollup ingest for unconfigured intervals
        (src/rollup/NoSuchRollupForIntervalException.java), so a daemon
        without --rollups-dir stores pushed rows but never routes queries
        to them — an implicit table built from sparse pushed rows would
        silently answer ROLLUP_NOFALLBACK queries with near-empty data."""
        if self.rollup_cfg is None:
            return None
        from pyspark.sql import functions as F

        from opentsdb_spark.plans.rollup import RollupConfig, RollupTable

        base = list(self.rollup_cfg.tables)
        # ONE snapshot of the live frame, under the ingest lock: reading
        # self.rollups repeatedly races a concurrent ingest swapping it,
        # pairing a stale label list with a newer frame for one request.
        # The label cache is keyed on (and always recomputed from) the same
        # snapshot object, so labels and the unioned frame always agree.
        with self.lock:
            rollups = self.rollups
            cached = getattr(self, "_rollup_label_cache", None)
        if rollups is None:
            return self.rollup_cfg
        # distinct ingested labels, cached per frame object — recomputed
        # only after an ingest swaps self.rollups, not per query
        if cached is None or cached[0] is not rollups:
            labels = sorted(
                r["interval"]
                for r in rollups.select("interval").distinct().collect()
                if r["interval"]
            )
            cached = (rollups, labels)
            with self.lock:
                self._rollup_label_cache = cached
        ingested_labels = cached[1]
        tables = []
        for t in base:
            df = t.df
            if t.interval_label in ingested_labels:
                extra = rollups.where(F.col("interval") == t.interval_label)
                if "dt" in df.columns:
                    # materialized tables carry the dt partition column and
                    # the planner prunes on it — a null dt from
                    # allowMissingColumns would silently drop every
                    # freshly-ingested row from pruned scans
                    extra = extra.withColumn("dt", F.to_date("ts"))
                df = df.unionByName(extra, allowMissingColumns=True)
            tables.append(RollupTable(t.interval_ms, t.interval_label, df))
        return RollupConfig(tables, sla_ms=self.rollup_cfg.sla_ms)

    def histogram_lines(self, lines: list[str]) -> dict[str, int]:
        """Telnet ``histogram <metric> <ts> [<codec_id>] <value> <tag=v>...``
        (reference src/tsd/HistogramDataPointRpc.java:92-158, registered on
        the telnet map in src/tsd/RpcManager.java:306,338).

        Without a codec id the value is the simple text codec — colon-
        separated ``lower,upper=count`` pairs plus ``u=``/``o=`` under/
        overflow counts (parseTelnet, HistogramDataPointRpc.java:209-243).
        With a codec id the value is the base64 raw payload, routed through
        the codec registry exactly like the HTTP path
        (HistogramPojo.base64StringToBytes -> histogramManager().decode)."""
        import base64

        from opentsdb_spark.operators.histogram import (
            HISTOGRAM_CODECS, decode_histogram_points,
        )

        body: list[dict] = []
        raw_rows: list[tuple] = []
        for line in lines:
            try:
                words = line.split()
                metric, tsw = words[1], words[2]
                ts = int(tsw.replace(".", "")) if "." in tsw else int(tsw)
                try:
                    codec_id, has_id = int(words[3]), True
                except ValueError:
                    codec_id, has_id = None, False
                value = words[4] if has_id else words[3]
                tags = dict(
                    t.split("=", 1) for t in words[5 if has_id else 4:] if t
                )
                if not metric or ts <= 0 or not value or not tags:
                    continue
                if has_id:
                    if codec_id not in HISTOGRAM_CODECS:
                        continue  # counted failed, like a decode throw
                    raw_rows.append(
                        (metric, ts, tags, codec_id, base64.b64decode(value))
                    )
                    continue
                buckets: dict[str, int] = {}
                under = over = 0
                for part in value.split(":"):
                    k, sep, v = part.partition("=")
                    if not sep:
                        raise ValueError(f"improperly formatted bucket: {part}")
                    if k.lower() == "u":
                        under = int(v)
                    elif k.lower() == "o":
                        over = int(v)
                    else:
                        lo, hi = k.split(",")
                        buckets[f"{float(lo)},{float(hi)}"] = int(v)
                if not buckets:
                    continue
                body.append({"metric": metric, "timestamp": ts,
                             "buckets": buckets, "underflow": under,
                             "overflow": over, "tags": tags})
            except (ValueError, IndexError):
                continue
        n_ok = 0
        frames = []
        if body:
            resp, frame = api.handle_histogram_put(self.spark, body)
            n_ok += resp["success"]
            frames.append(frame)
        if raw_rows:
            from pyspark.sql import functions as F

            raw_df = tiny_df(
                self.spark, raw_rows,
                "metric string, ts_s long, tags map<string,string>, "
                "codec_id int, raw binary",
            )
            decoded = decode_histogram_points(raw_df, strict=False).select(
                "metric",
                F.timestamp_seconds(
                    F.when(F.col("ts_s") >= 1_000_000_000_000,
                           F.col("ts_s") / 1000).otherwise(F.col("ts_s"))
                ).alias("ts"),
                "buckets",
                F.col("underflow").cast("long").alias("underflow"),
                F.col("overflow").cast("long").alias("overflow"),
                "tags",
            )
            n_ok += decoded.count()
            frames.append(decoded)
        if frames:
            with self.lock:
                for frame in frames:
                    self.histograms = (
                        frame if self.histograms is None
                        else self.histograms.unionByName(
                            frame, allowMissingColumns=True)
                    )
        return {"success": n_ok, "failed": len(lines) - n_ok}

    # ------------------------------------------------------------- routes
    def route(self, method: str, path: str, request: dict, body: Any):
        """Dispatch one request. Returns (payload, content_type) where
        payload bytes are sent raw and anything else is JSON-encoded.

        Handlers collect their results before returning, so any frame a
        query compilation persisted (grid-join scratch) is released here —
        without this a long-running daemon leaks one cached frame per
        raw-resolution query."""
        from opentsdb_spark.operators.groupby import release_scratch

        self.bump("rpc.received.http")
        if path.split("/")[1:2] == ["plugin"]:
            self.bump("rpc.received.http_plugin")
        try:
            return self._route(method, path, request, body)
        except Exception:
            self.bump("exceptions_caught")
            raise
        finally:
            release_scratch()

    # ------------------------------------------------------ /q disk cache
    def _graph_cache_basepath(self, request: dict) -> str:
        """Super-cheap caching mechanism: hash the query string minus the
        params that don't influence the output — the reference removes
        exactly ``ignore``/``png``/``json``/``ascii`` and hex-hashes the
        rest (GraphHandler.getGnuplotBasePath, GraphHandler.java:441-453).
        md5 instead of Java HashMap.hashCode so the key is stable across
        processes and restarts (the reference's is JVM-run-specific, which
        silently empties its cache on restart — ours survives)."""
        import hashlib
        import os as _os
        from urllib.parse import urlencode

        qs = {
            k: v for k, v in request.items()
            if not k.startswith("_")
            and k not in ("ignore", "png", "json", "ascii")
        }
        # re-encode with percent-quoting (lists as repeated params) so the
        # key is injective: a literal '&'/'='/',' inside a value can never
        # collide with a parameter boundary, and m=['a','b'] never collides
        # with m=['a,b']
        canon = urlencode(
            [(k, v) for k, vs in sorted(qs.items())
             for v in (vs if isinstance(vs, list) else [vs])],
        )
        return _os.path.join(
            self.cache_dir, hashlib.md5(canon.encode()).hexdigest()[:16])

    @staticmethod
    def _graph_max_age(request: dict, start_sec: int, end_sec: int,
                       now_sec: int) -> int:
        """GraphHandler.computeMaxAge (GraphHandler.java:455-480): future
        end -> uncacheable; absolute spans older than MAX_TIMESPAN (1h) ->
        a day; otherwise ~0.1% of the covered span ((end-start) >> 10)."""
        def _rel(v) -> bool:
            if isinstance(v, list):
                v = v[0] if v else None
            return isinstance(v, str) and v.strip().endswith("-ago")

        if end_sec > now_sec:
            return 0
        if (end_sec < now_sec - 3600 and not _rel(request.get("start"))
                and not _rel(request.get("end"))):
            return 86400
        return max(int(end_sec - start_sec), 0) >> 10

    @staticmethod
    def _graph_cache_stale(end_sec: int, max_age: int, path: str) -> bool:
        """GraphHandler.staleCacheFile (GraphHandler.java:482-530): a file
        written BEFORE an absolute past end time holds partial results;
        otherwise staleness is bounded by max_age."""
        import os as _os
        import time as _time

        try:
            mtime = int(_os.stat(path).st_mtime)
        except OSError:
            return True
        now = int(_time.time())
        staleness = now - mtime
        if mtime <= 0 or staleness < 0:
            return True
        if 0 < end_sec < now:
            return mtime < end_sec
        return staleness > max_age

    def _graph_with_cache(self, points, request: dict, annotations):
        """/q with the reference's disk cache in front (GraphHandler.java:
        166-191 isDiskCacheHit + RunGnuplot cache write). One divergence,
        documented: the reference caches the gnuplot PNG even for ?json
        requests (its json is a sidecar of the render); here each output
        mode caches under its own extension since json doesn't render."""
        import os as _os
        import time as _time

        t0 = _time.monotonic()
        mode = next((k for k in ("ascii", "json", "png") if k in request),
                    None)
        use_cache = bool(self.cache_dir) and mode is not None
        cachepath = end_sec = max_age = None
        if use_cache:
            from opentsdb_spark.timeparse import parse_datetime_ms

            def _first(v):
                return v[0] if isinstance(v, list) and v else v

            tz = _first(request.get("tz")) or "UTC"
            now_sec = int(_time.time())
            try:
                start_sec = parse_datetime_ms(_first(request.get("start")),
                                              tz) // 1000
                end_sec = parse_datetime_ms(_first(request.get("end")),
                                            tz) // 1000
            except Exception:  # unparseable -> let handle_graph 400 it
                use_cache = False
        if use_cache:
            max_age = self._graph_max_age(request, start_sec, end_sec,
                                          now_sec)
            ext = {"png": ".png", "ascii": ".txt", "json": ".json"}[mode]
            cachepath = self._graph_cache_basepath(request) + ext
            # minimum possible PNG is 21 bytes (isDiskCacheHit size guard)
            if ("nocache" not in request
                    and _os.path.isfile(cachepath)
                    and (_os.path.getsize(cachepath) >= 21
                         or mode == "json")
                    and not self._graph_cache_stale(end_sec, max_age,
                                                    cachepath)):
                self.bump("http.graphs.diskcache_hit")
                with open(cachepath, "rb") as fh:
                    data = fh.read()
                if mode == "png":
                    return data, "image/png"
                if mode == "ascii":
                    return data.decode("utf-8"), "text/plain"
                out = json.loads(data)
                # isDiskCacheHit refreshes timing and marks the hit
                # (GraphHandler.java:503-510)
                out["timing"] = int((_time.monotonic() - t0) * 1000)
                out["cachehit"] = "disk"
                return out, None

        out = api.handle_graph(points, request, histograms=self.histograms,
                               annotations=annotations)
        if "redirect" not in out:
            # every render counts, cached or not (GraphHandler.collectStats
            # counts graphs_generated unconditionally)
            self.bump("http.graphs.generated")
        if use_cache and "redirect" not in out:
            _os.makedirs(self.cache_dir, exist_ok=True)
            if mode == "png":
                payload = out["png"]
            elif mode == "ascii":
                payload = out["ascii"].encode("utf-8")
            else:
                payload = json.dumps(
                    {k: v for k, v in out.items() if k != "png"}
                ).encode("utf-8")
            # pid+thread id: the server is a ThreadingHTTPServer, so two
            # threads can miss on the same query concurrently — a shared
            # tmp path interleaves their writes / fails the second replace
            tmp = f"{cachepath}.tmp{_os.getpid()}.{threading.get_ident()}"
            with open(tmp, "wb") as fh:
                fh.write(payload)
            _os.replace(tmp, cachepath)  # atomic vs concurrent readers
        if "png" in out:
            return out.pop("png"), "image/png"
        if "ascii" in out:
            return out["ascii"], "text/plain"
        return out, None

    def _route(self, method: str, path: str, request: dict, body: Any):
        seg = [s for s in path.split("/") if s]
        # mode gating mirrors the reference's REGISTRATION split — an
        # endpoint absent from the mode's RPC map is a plain 404, not a 403
        # (RpcManager.java:295-366)
        api_ep = seg[1] if len(seg) > 1 and seg[0] == "api" else None
        if self.mode == "ro" and api_ep in self._WRITE_EPS:
            raise FileNotFoundError(path)
        if self.mode == "wo" and (
            api_ep in self._READ_EPS
            or not seg  # HomePage — enableUi block, absent in wo
            or seg[0] in ("q", "s", "suggest", "favicon.ico")
        ):
            raise FileNotFoundError(path)
        with self.lock:
            points = self.points
            annotations = self.annotations

        if path == "/q":
            return self._graph_with_cache(points, request, annotations)
        if seg and seg[0] == "s":
            # StaticFileRpc analog (reference src/tsd/StaticFileRpc.java):
            # serve files under the configured static root; path traversal
            # is rejected by resolving against the root
            import mimetypes
            import os as _os

            if not self.static_dir:
                raise FileNotFoundError(path)
            root = _os.path.realpath(self.static_dir)
            target = _os.path.realpath(_os.path.join(root, *seg[1:]))
            if not target.startswith(root + _os.sep) or not _os.path.isfile(target):
                raise FileNotFoundError(path)
            with open(target, "rb") as fh:
                data = fh.read()
            ctype = mimetypes.guess_type(target)[0] or "application/octet-stream"
            return data, ctype
        if seg and seg[0] == "logs":
            out = api.handle_logs(request)
            return (out, "text/plain") if isinstance(out, str) else (out, None)
        if seg and seg[0] == "plugin":
            return api.handle_plugin(method, path, request, body), None
        # POST bodies MERGE over the query-string dict ({**request, **body})
        # rather than replacing it: request carries transport context the
        # handlers contractually read (_headers for auth plugins, _now_ms)
        merged = {**request, **body} if isinstance(body, dict) else dict(request)

        if not seg:
            # HomePage ("" endpoint): a minimal landing page like the
            # reference's HomePage RPC
            html = ("<html><head><title>opentsdb-spark</title></head><body>"
                    "<h1>opentsdb-spark</h1><p>API at /api/*, graphs at /q, "
                    "static at /s/*.</p></body></html>")
            return html, "text/html"
        if seg[0] == "favicon.ico":
            raise FileNotFoundError(path)  # served from static_dir via /s
        if seg[0] == "diediedie" and len(seg) == 1:
            # HTTP shutdown (RpcManager.java:362-366 registers DieDieDie on
            # http too in rw/wo, gated by tsd.no_diediedie; DieDieDie.execute
            # HTTP variant replies a page then shuts down)
            if self.no_diediedie or self.mode == "ro":
                raise FileNotFoundError(path)
            self.status = "shutting-down"
            self.request_shutdown()
            return ("<html><head><title>TSD Exiting</title></head><body>"
                    "<h1>You killed me</h1>"
                    "<p>Cleaning up and exiting now.</p></body></html>",
                    "text/html")
        # bare (non-/api) aliases from the reference RPC table
        if seg[0] == "aggregators" and len(seg) == 1:
            return api.handle_aggregators(), None
        if seg[0] == "version" and len(seg) == 1:
            return api.handle_version(), None
        if seg[0] == "stats" and len(seg) == 1:
            return api.handle_stats(self.spark), None
        if seg[0] == "suggest" and len(seg) == 1:
            return api.handle_suggest(points, merged), None
        if seg[0] != "api":
            raise FileNotFoundError(path)
        ep = seg[1] if len(seg) > 1 else ""

        if ep == "query":
            sub = seg[2] if len(seg) > 2 else None
            # the reference's TSQuery POJO also accepts "delete": true in a
            # POST body (Jackson setDelete) — on /api/query ITSELF only
            # (the exp/gexp/last sub-endpoints have their own body shapes);
            # both routes stay gated behind allow_delete in the handler
            if sub is None and isinstance(body, dict) and body.get("delete"):
                method = "DELETE"
                request = merged
            if method == "DELETE":
                out, _, tsq = api.handle_query_delete(points, request)
                # re-apply the SAME parsed delete to the CURRENT frame under
                # the lock — assigning the snapshot-derived frame would drop
                # points a concurrent put absorbed since the snapshot
                from opentsdb_spark.plans.planner import delete_matching_points

                with self.lock:
                    self._rewrite(lambda df: delete_matching_points(
                        df, tsq, now_ms=request.get("_now_ms")))
                return out, None
            if sub == "last":
                return api.handle_last(points, request), None
            if sub == "gexp":
                return api.handle_gexp(points, request), None
            if sub == "exp":
                return api.handle_exp(points, merged if body else request), None
            import time as _time

            q0 = _time.monotonic()
            started_ms = int(_time.time() * 1000)  # START, not completion
            out = api.handle_query(points, merged, annotations=annotations,
                                   histograms=self.histograms,
                                   rollup_cfg=self._effective_rollup_cfg())
            self.completed_queries.append({
                "queryStart": started_ms,
                "elapsed": round((_time.monotonic() - q0) * 1000.0, 3),
                "seriesCount": len(out),
                "emittedDPs": sum(len(s.get("dps", ())) for s in out),
                "query": {k: v for k, v in merged.items()
                          if not k.startswith("_")},
            })
            return out, None
        if ep == "suggest":
            return api.handle_suggest(points, merged), None
        if ep == "search":
            stype = seg[2] if len(seg) > 2 else "tsmeta"
            req = merged
            if stype == "lookup":
                # SearchRpc routes LOOKUP to the time-series lookup, not the
                # search plugin (src/tsd/SearchRpc.java:70-80)
                return api.handle_lookup(points, req), None
            req["type"] = stype
            return api.handle_search(points, req, annotations=annotations), None
        if ep == "put":
            resp, table = api.handle_put(self.spark, body, request)
            with self.lock:
                self._absorb(table)
            # bare ?summary / ?details flags count as present (reference
            # PutDataPointRpc.java query-param handling)
            if "summary" in request or "details" in request:
                return resp, None
            return (NO_CONTENT, None) if not resp.get("failed") else (resp, None)
        if ep == "rollup":
            resp, frame = api.handle_rollup_put(self.spark, body, request)
            with self.lock:
                self.rollups = (
                    frame if self.rollups is None
                    else self.rollups.unionByName(frame, allowMissingColumns=True)
                )
            return resp, None
        if ep == "histogram":
            resp, frame = api.handle_histogram_put(self.spark, body, request)
            with self.lock:
                self.histograms = (
                    frame if self.histograms is None
                    else self.histograms.unionByName(frame, allowMissingColumns=True)
                )
            return resp, None
        if ep in ("annotation", "annotations"):
            # the plural alias serves range fetches (reference RpcManager
            # mounts AnnotationRpc at both api/annotation and api/annotations)
            # read-modify-write paths run the handler INSIDE the lock on
            # the FRESH frame: handler-on-snapshot + assign would silently
            # drop a concurrent writer's records (lost update). Writes
            # serialize behind the lock; reads only hold it for a snapshot.
            if len(seg) > 2 and seg[2] == "bulk":
                with self.lock:
                    if method == "DELETE":
                        out, frame = api.handle_annotation_bulk_delete(
                            self.annotations, body or request)
                    elif method in ("POST", "PUT"):
                        out, frame = api.handle_annotation_bulk_update(
                            self.annotations, method, body)
                    else:
                        raise BadRequest("bulk annotations accept POST/PUT/DELETE")
                    self.annotations = frame
                return out, None
            if method in ("POST", "PUT", "DELETE"):
                with self.lock:
                    out, frame = api.handle_annotation_edit(
                        self.annotations, method, body or request)
                    self.annotations = frame
                return out, None
            return api.handle_annotation_query(annotations, request), None
        if ep == "uid":
            sub = seg[2] if len(seg) > 2 else ""
            # uid is registered in EVERY mode; the cross-mode sub-operations
            # reject themselves (UniqueIdRpc.java:96-199)
            if self.mode == "ro" and (
                sub in ("assign", "rename")
                or (sub in ("uidmeta", "tsmeta") and method != "GET")
            ):
                raise BadRequest("This operation is not allowed in ro mode.")
            if self.mode == "wo" and sub in ("uidmeta", "tsmeta") and method == "GET":
                raise BadRequest("This operation is not allowed in wo mode.")
            if sub == "assign":
                with self.lock:
                    resp, reg = api.handle_uid_assign(
                        self.uid_registry, body or request, spark=self.spark)
                    self.uid_registry = reg
                return resp, None
            if sub == "rename":
                rename = body or request
                with self.lock:
                    self._rewrite(lambda df: api.handle_uid_rename(df, rename))
                return {"result": "renamed"}, None
            if sub == "uidmeta":
                with self.lock:
                    out, frame = api.handle_uidmeta_edit(
                        self.uidmeta, method, body or request, spark=self.spark
                    )
                    self.uidmeta = frame
                return out, None
            if sub == "tsmeta":
                with self.lock:
                    out, frame = api.handle_tsmeta_edit(
                        self.tsmeta, method, body or request, spark=self.spark
                    )
                    self.tsmeta = frame
                return out, None
            raise FileNotFoundError(path)
        if ep == "tree":
            req = {**request, **(body or {})}
            sub = seg[2] if len(seg) > 2 else None
            # reference TreeRpc sub-endpoints: rebuild runs the stored tree,
            # collisions/notmatched read its build bookkeeping, the rest are
            # ad-hoc rule evaluation over the live series set
            if sub == "rebuild":
                return (api.handle_tree_rebuild(points, req,
                                                store=self.tree_store),
                        None)
            if sub in ("collisions", "notmatched"):
                return (api.handle_tree_family({"family": sub, **req},
                                               store=self.tree_store),
                        None)
            if sub in ("rule", "rules", "branch", "test"):
                return api.handle_tree(points, req), None
            if method in ("POST", "PUT", "DELETE"):
                out = api.handle_tree_edit(method, req,
                                           store=self.tree_store)
                if self.trees_dir and self.tree_store is not None:
                    from opentsdb_spark.operators.tree import save_tree_defs

                    save_tree_defs(self.tree_store, self.trees_dir)
                return out, None
            if "rules" in req:
                return api.handle_tree(points, req), None
            return api.handle_tree_edit("GET", req,
                                        store=self.tree_store), None
        if ep == "aggregators":
            return api.handle_aggregators(), None
        if ep == "version":
            return api.handle_version(), None
        if ep == "config":
            if len(seg) > 2 and seg[2] == "filters":
                # reference ShowConfig filters endpoint
                # (RpcManager.java:802-808, TagVFilter.loadedFilters)
                from opentsdb_spark.functions.filters import loaded_filters

                return loaded_filters(), None
            return api.handle_config(self.spark), None
        if ep == "status":
            return self.probe_status(), "text/plain"
        if ep == "stats":
            # sub-endpoints (reference StatsRpc.java:80-96)
            sub = seg[2] if len(seg) > 2 else ""
            if sub == "threads":
                return api.handle_stats_threads(), None
            if sub == "jvm":
                return api.handle_stats_jvm(self.spark), None
            if sub == "query":
                return {"completed": list(self.completed_queries),
                        "running": []}, None
            if sub == "region_clients":
                return api.handle_stats_region_clients(self.spark), None
            return {**api.handle_stats(self.spark), **self.counters}, None
        if ep == "dropcaches":
            return api.handle_dropcaches(self.spark), None
        raise FileNotFoundError(path)


def _flatten_qs(qs: dict[str, list[str]]) -> dict[str, Any]:
    """m=, tsuid= and o= repeat (one per sub-query); everything else is
    scalar (reference HttpQuery.getQueryString semantics)."""
    out: dict[str, Any] = {}
    for k, v in qs.items():
        out[k] = v if k in ("m", "tsuid", "tsuids", "exp", "o") else v[0]
    return out


def make_http_handler(tsd: TSD) -> type:
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):  # quiet
            pass

        def _respond(self, code: int, payload, content_type=None,
                     extra_headers=None):
            if code == 204 or payload is NO_CONTENT:
                # RFC 7230: 204 carries NO body — writing even '""' after
                # it desynchronizes HTTP/1.1 keep-alive connections. CORS
                # headers must still ride along: a matched-Origin /api/put
                # answers 204, and a browser drops the response without
                # Access-Control-Allow-Origin on it
                self.send_response(204)
                for k, v in {**getattr(self, "_req_cors", {}),
                             **(extra_headers or {})}.items():
                    self.send_header(k, v)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if isinstance(payload, (bytes, bytearray)):
                data = bytes(payload)
                ctype = content_type or "application/octet-stream"
            elif isinstance(payload, str) and content_type:
                data = payload.encode()
                ctype = content_type
            else:
                # timestamps surface as datetime in annotation/meta echoes
                data = json.dumps(payload, default=str).encode()
                ctype = "application/json"
            headers = {**getattr(self, "_req_cors", {}), **(extra_headers or {})}
            # response compression when the client accepts it (the
            # reference's Netty pipeline runs HttpContentCompressor,
            # src/tsd/PipelineFactory.java:158); tiny bodies skip — the
            # gzip header would outweigh them
            accept = self.headers.get("Accept-Encoding", "")
            if "gzip" in accept.lower() and len(data) > 256:
                import gzip as _gzip

                data = _gzip.compress(data, 6)
                headers["Content-Encoding"] = "gzip"
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            for k, v in headers.items():
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _error(self, code: int, message: str):
            # reference error envelope: HttpQuery.java:585-630
            self._respond(code, {"error": {"code": code, "message": message}})

        def _handle(self, method: str):
            from urllib.parse import unquote

            # CORS gate (reference RpcHandler.java:200-245): on OPTIONS or
            # an Origin'd request with a configured domain list — matched
            # domains get the Access-Control-* headers (OPTIONS then ends
            # with a bare 200); unmatched domains get the reference's quirky
            # 200-with-error-body and NO allow-origin header; OPTIONS
            # without CORS config is a 405.
            self._req_cors = {}
            origin = self.headers.get("Origin")
            if method == "OPTIONS" or (tsd.cors_domains is not None and origin):
                if tsd.cors_domains is None or not origin:
                    return self._error(
                        405, f"The HTTP method [{method}] is not permitted"
                    )
                if "*" in tsd.cors_domains or origin.upper() in tsd.cors_domains:
                    self._req_cors = {
                        "Access-Control-Allow-Origin": origin,
                        "Access-Control-Allow-Methods": "GET, POST, PUT, DELETE",
                        "Access-Control-Allow-Headers": tsd.cors_headers,
                    }
                    if method == "OPTIONS":
                        return self._respond(200, "", "text/plain")
                else:
                    return self._respond(200, {"error": {
                        "code": 200, "message": "CORS domain not allowed",
                        "details": f"The domain [{origin}] is not permitted"
                                   " access"}})

            parsed = urlparse(self.path)
            # percent-decode the PATH (static files with spaces/unicode,
            # encoded endpoint segments); query values decode via parse_qs
            path = unquote(parsed.path)
            # parse_qs percent-decodes each value itself — decoding the
            # whole string first would split on an encoded '&' (%26) inside
            # a filter value and double-decode %25xx sequences
            request = _flatten_qs(parse_qs(parsed.query, keep_blank_values=True))
            # auth plugins read headers from '_headers' (auth.py contract);
            # keys lower-cased so plugins need not guess casing
            request["_headers"] = {k.lower(): v for k, v in self.headers.items()}
            body = None
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                raw = self.rfile.read(length)
                try:
                    body = json.loads(raw)
                except json.JSONDecodeError:
                    return self._error(400, "Unable to parse the given JSON")
            try:
                payload, ctype = tsd.route(method, path, request, body)
            except FileNotFoundError:
                return self._error(404, f"Endpoint not found: {path}")
            except QueryLimitExceeded as e:
                # reference: QueryException(REQUEST_ENTITY_TOO_LARGE,
                # "Sorry, you have attempted to fetch more than our limit
                # ...") — src/core/SaltScanner.java:560-605
                return self._error(413, str(e))
            except (BadRequest, ValueError, KeyError, TypeError) as e:
                return self._error(400, str(e))
            except PermissionError as e:
                # authentication failure (no/expired credentials) is 401 so
                # clients re-prompt; an authorization denial stays 403
                from opentsdb_spark.auth import UNAUTHORIZED, AuthError

                code = 401 if (
                    isinstance(e, AuthError) and e.state.status == UNAUTHORIZED
                ) else 403
                return self._error(code, str(e))
            except NotImplementedError as e:
                return self._error(501, str(e))
            except Exception as e:  # noqa: BLE001 — the reference 500s too
                return self._error(500, f"{type(e).__name__}: {e}")
            # 204 only on the explicit sentinel — a handler's legitimate
            # empty-string body (e.g. /logs with an empty ring buffer)
            # stays an empty 200, matching the reference LogsRpc
            self._respond(204 if payload is NO_CONTENT else 200, payload, ctype)

        def do_OPTIONS(self):
            self._handle("OPTIONS")

        def do_GET(self):
            self._handle("GET")

        def do_POST(self):
            self._handle("POST")

        def do_PUT(self):
            self._handle("PUT")

        def do_DELETE(self):
            self._handle("DELETE")

    return Handler


def make_http_server(tsd: TSD, port: int = 0) -> ThreadingHTTPServer:
    srv = ThreadingHTTPServer(("127.0.0.1", port), make_http_handler(tsd))
    tsd.register_shutdown(srv.shutdown)
    return srv


_HTTP_VERBS = (b"GET", b"POST", b"PUT", b"DELETE", b"HEAD", b"OPTIONS")


class TelnetServer(socketserver.ThreadingTCPServer):
    """Line-protocol listener (reference telnet RPCs,
    src/tsd/RpcManager.java:418-446). Commands:

      put <metric> <ts> <value> <tagk=tagv> [...]   (batched per connection)
      rollup <interval>:<agg> <metric> <ts> <value> <tagk=tagv> [...]
      histogram <metric> <ts> [<codec_id>] <value> <tagk=tagv> [...]
      version                                        flushes pending puts
      stats
      help
      exit / quit
    """

    allow_reuse_address = True
    daemon_threads = True
    FLUSH_AT = 500  # max buffered put lines before a forced flush

    def __init__(self, tsd: TSD, port: int = 0):
        self.tsd = tsd
        super().__init__(("127.0.0.1", port), _TelnetHandler)
        tsd.register_shutdown(self.shutdown)


class _TelnetHandler(socketserver.StreamRequestHandler):
    def handle(self):
        from opentsdb_spark.auth import AuthError, check_telnet

        tsd: TSD = self.server.tsd
        pending: list[str] = []
        auth_state = None  # per-connection, like the reference channel state

        def flush():
            if pending:
                tsd.put_lines(list(pending))
                pending.clear()

        try:
            self._serve_lines(tsd, pending, flush, check_telnet, AuthError,
                              auth_state)
        finally:
            # the end-of-connection flush must survive EVERY exit path —
            # a socket timeout or reset on readline would otherwise drop
            # up to FLUSH_AT-1 accepted put lines silently
            flush()

    def _serve_lines(self, tsd, pending, flush, check_telnet, AuthError,
                     auth_state):
        while True:
            raw = self.rfile.readline()
            if not raw:
                break
            line = raw.decode("utf-8", "replace").strip()
            if not line:
                continue
            cmd = line.split()[0].lower()
            tsd.bump("rpc.received.telnet")
            try:
                if tsd.mode == "ro" and cmd in ("put", "rollup", "histogram"):
                    # write commands are not REGISTERED on a read-only TSD
                    # (RpcManager.java:318-334) — same reply as any
                    # unregistered command
                    self.wfile.write(f"unknown command: {cmd}\n".encode())
                    continue
                if cmd in ("put", "rollup", "histogram"):
                    # write gate (reference authenticates the telnet line
                    # before dispatch; HTTP put is equally gated)
                    try:
                        auth_state = check_telnet(line.split(), "TELNET_PUT",
                                                  auth_state)
                    except AuthError as e:
                        self.wfile.write(f"auth denied: {e}\n".encode())
                        continue
                if cmd == "put":
                    pending.append(line)
                    if len(pending) >= self.server.FLUSH_AT:
                        flush()
                elif cmd == "rollup":
                    flush()
                    r = tsd.rollup_lines([line])
                    if r["failed"]:
                        self.wfile.write(b"rollup: invalid line\n")
                elif cmd == "histogram":
                    flush()
                    r = tsd.histogram_lines([line])
                    if r["failed"]:
                        self.wfile.write(b"histogram: invalid line\n")
                elif cmd == "status":
                    flush()
                    self.wfile.write((tsd.probe_status() + "\n").encode())
                elif cmd == "dropcaches":
                    flush()
                    api.handle_dropcaches(tsd.spark)
                    self.wfile.write(b"Caches dropped.\n")
                elif cmd == "diediedie" and (tsd.no_diediedie
                                             or tsd.mode == "ro"):
                    # tsd.no_diediedie=true (or a read-only TSD): never
                    # registered — the reference's DieDieDie registration
                    # block covers both command maps and only runs in
                    # rw/wo (RpcManager.java:261,362-366)
                    self.wfile.write(f"unknown command: {cmd}\n".encode())
                elif cmd == "diediedie":
                    # reference: clean shutdown of the WHOLE daemon
                    # (RpcManager DieDieDie.doShutdown kills every listener)
                    flush()
                    tsd.status = "shutting-down"
                    self.wfile.write(b"Cleanup complete, shutting down.\n")
                    tsd.request_shutdown()
                    break
                elif cmd == "version":
                    flush()
                    v = api.handle_version()
                    self.wfile.write(
                        f"{v['engine']} {v['version']}\n".encode()
                    )
                elif cmd == "stats":
                    flush()
                    s = {**api.handle_stats(tsd.spark), **tsd.counters}
                    for k, v in sorted(s.items()):
                        self.wfile.write(f"{k} {v}\n".encode())
                elif cmd == "help":
                    self.wfile.write(
                        b"available commands: put rollup histogram version"
                        b" stats status dropcaches diediedie help exit\n"
                    )
                elif cmd in ("exit", "quit"):
                    break
                else:
                    self.wfile.write(f"unknown command: {cmd}\n".encode())
            except Exception as e:  # noqa: BLE001 — keep the connection alive
                self.wfile.write(f"error: {e}\n".encode())


class DualProtocolServer(socketserver.ThreadingTCPServer):
    """One listener for both protocols — the reference's PipelineFactory
    sniffs the first bytes of a connection and installs either the HTTP
    codec or the telnet line decoder (src/tsd/PipelineFactory.java
    DetectHttpOrRpc). Here: peek the first token; an HTTP verb hands the
    socket to the HTTP request handler, anything else speaks the line
    protocol. This is the default `tsd` mode, so one port 4242 serves
    curl and `echo put ... | nc` alike, exactly like the reference."""

    allow_reuse_address = True
    daemon_threads = True
    FLUSH_AT = TelnetServer.FLUSH_AT

    def __init__(self, tsd: TSD, port: int = 0):
        self.tsd = tsd
        self._http_handler = make_http_handler(tsd)
        super().__init__(("127.0.0.1", port), _DualHandler)
        tsd.register_shutdown(self.shutdown)


class _DualHandler(socketserver.BaseRequestHandler):
    def handle(self):
        import socket as _socket
        import time as _time

        self.request.settimeout(300)
        # peek until the first token is unambiguous: a short first segment
        # (b"GE" of a split write) must not get misrouted to telnet — keep
        # peeking until a delimiter arrives, 8 bytes are buffered, or a
        # short sniff deadline passes (then fall through with what we have)
        deadline = _time.monotonic() + 5.0
        first = b""
        while _time.monotonic() < deadline:
            first = self.request.recv(8, _socket.MSG_PEEK)
            if not first:  # peer closed before sending anything
                return
            if len(first) >= 8 or b" " in first or b"\n" in first:
                break
            _time.sleep(0.01)
        if first.split(b" ")[0].rstrip(b"\r\n") in _HTTP_VERBS:
            self.server._http_handler(self.request, self.client_address, self.server)
        else:
            _TelnetHandler(self.request, self.client_address, self.server)


def serve(tsd: TSD, port: int = 4242, telnet_port: int | None = None,
          block: bool = True):
    """Start the listeners — the cli `tsd` subcommand entry.

    Default (telnet_port None): ONE DualProtocolServer on ``port`` serving
    both HTTP and the line protocol, like the reference TSD. Pass an
    explicit telnet_port to split the protocols across two listeners.
    Returns (main_server, telnet_server_or_None) when block=False."""
    if telnet_port is None:
        main: socketserver.BaseServer = DualProtocolServer(tsd, port)
        tel = None
    else:
        main = make_http_server(tsd, port)
        tel = TelnetServer(tsd, telnet_port)
    if not block:
        threading.Thread(target=main.serve_forever, daemon=True).start()
        if tel:
            threading.Thread(target=tel.serve_forever, daemon=True).start()
        return main, tel
    if tel:
        threading.Thread(target=tel.serve_forever, daemon=True).start()
        print(f"telnet listening on {tel.server_address[1]}")
    print(f"listening on {main.server_address[1]}")
    main.serve_forever()
