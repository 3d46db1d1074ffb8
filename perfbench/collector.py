"""The collector_tick workload: the reference's own loop, one
``pipeline.run_once`` per operation, over a seeded fleet of live JDBC
targets.

* Sources: every healthy target is an in-memory Derby database in the
  driver JVM, seeded with multi-row inserts; each is scraped by
  ``sources.jdbc.read_catalog_query`` under its engine's TOML config.
  Targets seeded as down point at a database that was never created.
* Sinks: each tick lands in ``sinks.parquet.overwrite_partitions`` (fixed
  ``anchor_ts``, so re-runs rewrite one date partition) and is POSTed
  through ``sinks.remote_write.write_batch`` to a one-thread loopback
  HTTP stub.
* Correctness, per tick: the landed partition and every decoded POST must
  equal the samples the generator expects, and the failed
  ``CollectResult``s must be exactly the targets seeded as down.
"""

from __future__ import annotations

import collections
import http.server
import os
import shutil
import threading
import time

import data
import layers

ANCHOR_TS = "2024-06-01 00:00:00"
ANCHOR_MS = 1717200000000
REGION = "us-west-2"
ACCOUNT = "000000000000"

# Per-engine metric configs, modelled on the reference's exporters:
# mysql SHOW GLOBAL STATUS as K/V, postgres activity by state, and the
# Oracle custom-metrics TOML (sessions and wait classes).
CONFIGS = {
    "mysql": '''
[[metric]]
context = "mysql_global_status"
labels = ["variable_name"]
metricsdesc = { value = "SHOW GLOBAL STATUS, ON/OFF mapped to 1/0" }
request = """SELECT LOWER(variable_name) AS variable_name,
  CAST(CASE variable_value WHEN 'ON' THEN '1' WHEN 'OFF' THEN '0'
       ELSE variable_value END AS DECIMAL(20, 3)) AS value
FROM global_status"""
''',
    "postgres": '''
[[metric]]
context = "pg_stat_activity"
labels = ["datname", "state"]
metricsdesc = { sessions = "connections by state", max_tx_duration = "oldest transaction, seconds" }
request = """SELECT datname, state, COUNT(*) AS sessions,
  MAX(xact_seconds) AS max_tx_duration
FROM pg_stat_activity GROUP BY datname, state"""
''',
    "oracle": '''
[[metric]]
context = "sessions"
labels = ["status", "username"]
metricsdesc = { value = "sessions by status and user" }
request = "SELECT status, username, COUNT(*) AS value FROM v_session GROUP BY status, username"

[[metric]]
context = "wait_time"
labels = ["wait_class"]
metricsdesc = { value = "time waited per wait class, seconds" }
request = "SELECT wait_class, time_waited AS value FROM v_waitclassmetric"
''',
}

DDL = {
    "global_status": "CREATE TABLE global_status "
                     "(variable_name VARCHAR(64), variable_value VARCHAR(64))",
    "pg_stat_activity": "CREATE TABLE pg_stat_activity (datname VARCHAR(32), "
                        "state VARCHAR(32), xact_seconds DOUBLE)",
    "v_session": "CREATE TABLE v_session (status VARCHAR(16), username VARCHAR(16))",
    "v_waitclassmetric": "CREATE TABLE v_waitclassmetric "
                         "(wait_class VARCHAR(32), time_waited DOUBLE)",
}


def _sql_value(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(float(v))


def seed_fleet(spark, fleet: list[data.Target]) -> None:
    """Create and fill one in-memory Derby database per healthy target,
    from the driver JVM, one multi-row INSERT per table."""
    jvm = spark.sparkContext._jvm
    for t in fleet:
        if not t.tables:
            continue
        conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:{_db(t)};create=true")
        st = conn.createStatement()
        for table, rows in t.tables.items():
            st.executeUpdate(DDL[table])
            values = ", ".join(
                "(" + ", ".join(_sql_value(v) for v in r) + ")" for r in rows)
            st.executeUpdate(f"INSERT INTO {table} VALUES {values}")
        st.close()
        conn.close()


def _db(t: data.Target) -> str:
    return t.host.split(".")[0]


def _route(engine: str) -> str | None:
    from database_collector_spark.sources.registry import ENGINE_ALIASES

    return ENGINE_ALIASES.get(engine)


def expected_samples(fleet: list[data.Target]) -> collections.Counter:
    """(name, sorted labels, value) of every sample a tick must land."""
    out: collections.Counter = collections.Counter()
    for t in fleet:
        if not t.tables:
            continue
        route = _route(t.engine)
        base = {"identifier": _db(t), "job": "database-collector",
                "region": REGION, "accountId": ACCOUNT, "engine": route}

        def add(name, labels, value):
            key = tuple(sorted({**labels, **base, "__name__": name}.items()))
            out[(key, float(value))] += 1

        if route == "mysql":
            for k, v in t.tables["global_status"]:
                value = {"ON": 1.0, "OFF": 0.0}.get(v, v)
                add("mysql_global_status_value", {"variable_name": k.lower()}, value)
        elif route == "postgres":
            groups: dict = {}
            for db, state, secs in t.tables["pg_stat_activity"]:
                n, mx = groups.get((db, state), (0, float("-inf")))
                groups[(db, state)] = (n + 1, max(mx, secs))
            for (db, state), (n, mx) in groups.items():
                lbl = {"datname": db, "state": state}
                add("pg_stat_activity_sessions", lbl, n)
                add("pg_stat_activity_max_tx_duration", lbl, mx)
        else:
            counts = collections.Counter(t.tables["v_session"])
            for (status, user), n in counts.items():
                add("sessions_value", {"status": status, "username": user}, n)
            for wc, secs in t.tables["v_waitclassmetric"]:
                add("wait_time_value", {"wait_class": wc}, secs)
    return out


def _sample_key(labels, value) -> tuple:
    return (tuple(sorted(dict(labels).items())), float(value))


class StubHandler(http.server.BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 — http.server naming
        body = self.rfile.read(int(self.headers["Content-Length"]))
        self.server.record(body)
        self.send_response(204)
        self.end_headers()

    def log_message(self, *args):
        pass


class RemoteWriteStub(http.server.HTTPServer):
    """One-thread remote-write endpoint on 127.0.0.1: returns 204 and
    keeps every POST body. ``drop_posts`` discards that many bodies (the
    negative control for the POST check)."""

    request_queue_size = 16

    def __init__(self, drop_posts: int = 0) -> None:
        super().__init__(("127.0.0.1", 0), StubHandler)
        self.bodies: list[bytes] = []
        self.drop_posts = drop_posts
        self.lock = threading.Lock()
        self.thread = threading.Thread(target=self.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/api/v1/remote_write"

    def record(self, body: bytes) -> None:
        with self.lock:
            if self.drop_posts:
                self.drop_posts -= 1
                return
            self.bodies.append(body)

    def take(self) -> list[bytes]:
        with self.lock:
            out, self.bodies = self.bodies, []
        return out

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self.thread.join()


class TickProbe:
    """Layer measurements of one traced tick, taken around the calls the
    benchmark makes or hands to ``run_once``."""

    def __init__(self, spark, n: int) -> None:
        self.spark = spark
        self.n = n
        self.timer = layers.Timer()
        self.first_scrape: float | None = None
        self.sink_entry: float | None = None
        self.rec: dict = {}

    def phase(self, name: str):
        return layers.job_group(self.spark, f"{name}-{self.n}")

    def plan(self, df) -> dict:
        self.spark.sparkContext._jsc.clearJobGroup()
        return {f"plan.{p}_ms": ms for p, ms in layers.plan_phases_ms(df).items()}

    def split(self, t0: float, out_dir: str, posts: tuple[int, int, int]) -> dict:
        layers.drain(self.spark)
        rec = dict(self.rec)
        build = layers.job_stats(self.spark, f"build-{self.n}")
        build_s = self.sink_entry - t0
        rec["build.s"] = build_s
        for k in ("jobs", "stages", "tasks"):
            rec[f"build.{k}"] = build[k]
        for k, v in layers.job_stats(self.spark, f"execute-{self.n}").items():
            rec[f"execute.{k}"] = v
        t = self.timer
        rec["sources.registry.discover_s"] = self.first_scrape - t0
        rec["sources.jdbc.reads"] = t.n.get("jdbc", 0)
        rec["sources.jdbc.failed_reads"] = t.n.get("jdbc_failed", 0)
        rec["sources.jdbc.read_s"] = t.s.get("jdbc", 0.0)
        rec["plans.metric_config.melt_s"] = t.s.get("melt", 0.0)
        rec["operators.enrich.enrich_s"] = t.s.get("enrich", 0.0)
        rec["pipeline.build_s"] = build_s
        rec["pipeline.self_s"] = build_s - (
            rec["sources.registry.discover_s"] + rec["sources.jdbc.read_s"]
            + rec["plans.metric_config.melt_s"] + rec["operators.enrich.enrich_s"])
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir)
                 for f in fs if f.endswith(".parquet")]
        rec["sinks.parquet.files"] = len(files)
        rec["sinks.parquet.bytes"] = sum(os.path.getsize(f) for f in files)
        (rec["sinks.remote_write.posts"], rec["sinks.remote_write.bytes"],
         rec["sinks.remote_write.samples"]) = posts
        return rec


class CollectorWorkload:
    # the first tick runs about 2.5x the steady-state tick time; the second
    # 1.0-1.3x, which the median of the measured ticks absorbs. Later ticks
    # keep getting faster for a few more, the same in every run because the
    # measured count is fixed.
    warmup_passes = 1
    # seconds of a measured tick at the reference host speed; sizes the
    # measured tick count from --seconds
    nominal_pass_s = 3.8

    def __init__(self, spark, work_dir: str, seed: int, n_targets: int,
                 drop_posts: int = 0) -> None:
        from pyspark.sql import Row

        from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
        from database_collector_spark.sinks.remote_write import RemoteWriteSink

        self.spark = spark
        self.names = ["tick"]
        t0 = time.perf_counter()
        self.fleet = data.fleet(seed, n_targets)
        seed_fleet(spark, self.fleet)
        self.gen_s = time.perf_counter() - t0
        self.expected = expected_samples(self.fleet)
        self.down = {t.secret_name for t in self.fleet
                     if t.enabled and t.down and _route(t.engine)}
        self.registry = spark.createDataFrame(
            [Row(secret_name=t.secret_name, engine=t.engine, host=t.host,
                 port=1527, username="app", password="", dbname=_db(t),
                 tags={"database-collector:enabled": "true"} if t.enabled else {})
             for t in self.fleet],
            SOURCES_REGISTRY_SCHEMA,
        )
        self.out_dir = os.path.join(work_dir, "landed")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.stub = RemoteWriteStub(drop_posts)
        self.sink = RemoteWriteSink(self.stub.url, sign_sigv4=False)
        # samples landed per tick, counted in both sinks
        self.rows = {"tick": 2 * sum(self.expected.values())}

    def pass_order(self) -> list[str]:
        return ["tick"]

    def close(self) -> None:
        self.stub.close()

    def _scrape(self, probe: TickProbe | None):
        from database_collector_spark.sources.jdbc import read_catalog_query

        def scrape(spark, target, request):
            t0 = time.perf_counter()
            if probe is not None and probe.first_scrape is None:
                probe.first_scrape = t0
            try:
                df = read_catalog_query(
                    spark, engine=target["route"], username=target["username"],
                    password=target["password"], query=request,
                    url=f"jdbc:derby:memory:{target['dbname']}")
            except Exception:
                if probe is not None:
                    probe.timer.add("jdbc_failed", 0.0)
                raise
            finally:
                if probe is not None:
                    probe.timer.add("jdbc", time.perf_counter() - t0)
            return df.toDF(*[c.lower() for c in df.columns])

        return scrape

    def _sink(self, probe: TickProbe | None):
        from database_collector_spark.sinks.parquet import overwrite_partitions
        from database_collector_spark.sinks.remote_write import write_batch

        def sink(df):
            if probe is None:
                overwrite_partitions(df, self.out_dir)
                write_batch(df, self.sink)
                return
            probe.sink_entry = time.perf_counter()
            probe.rec.update(probe.plan(df))
            with probe.phase("execute"):
                t0 = time.perf_counter()
                overwrite_partitions(df, self.out_dir)
                t1 = time.perf_counter()
                write_batch(df, self.sink)
                t2 = time.perf_counter()
            probe.rec["sinks.parquet.write_s"] = t1 - t0
            probe.rec["sinks.remote_write.write_s"] = t2 - t1
            probe.rec["execute.s"] = t2 - t0

        return sink

    def op(self, name: str, traced: bool, n: int) -> dict:
        """Run one tick; return its record (wall seconds, the layer split
        when traced, and an error when a sink or result is wrong)."""
        from database_collector_spark import pipeline

        probe = TickProbe(self.spark, n) if traced else None
        t0 = time.perf_counter()
        if probe is None:
            results = pipeline.run_once(
                self.spark, self.registry, CONFIGS, self._scrape(None),
                self._sink(None), anchor_ts=ANCHOR_TS)
        else:
            wrapped = {"melt_to_samples": "melt", "enrich": "enrich"}
            with layers.wrap_module_attrs(pipeline, probe.timer, wrapped), \
                    probe.phase("build"):
                results = pipeline.run_once(
                    self.spark, self.registry, CONFIGS, self._scrape(probe),
                    self._sink(probe), anchor_ts=ANCHOR_TS)
        rec: dict = {"op": name, "s": time.perf_counter() - t0,
                     "error": self._verify(results)}
        if probe is not None:
            rec.update(probe.split(t0, self.out_dir, self.last_posts))
        return rec

    def _verify(self, results) -> str | None:
        """Check one tick's sinks and results; None when all is right."""
        import pyarrow.parquet as pq

        from database_collector_spark.sinks.remote_write import decode_write_request

        bodies = self.stub.take()
        decoded = [s for b in bodies for s in decode_write_request(b)]
        self.last_posts = (len(bodies), sum(map(len, bodies)), len(decoded))
        if any(ts_ms != ANCHOR_MS for _, _, ts_ms in decoded):
            return "remote write: a sample without the anchor timestamp"
        posted = collections.Counter(_sample_key(lbl, v) for lbl, v, _ in decoded)
        if posted != self.expected:
            return (f"remote write: {sum(posted.values())} samples posted, "
                    f"{sum(self.expected.values())} expected")
        part = os.path.join(self.out_dir, "ds=" + ANCHOR_TS[:10])
        table = pq.read_table(part).to_pylist()
        landed = collections.Counter(_sample_key(r["labels"], r["value"]) for r in table)
        if landed != self.expected:
            return f"parquet: {len(table)} rows landed, {sum(self.expected.values())} expected"
        failed = {r.target for r in results if r.error is not None}
        if failed != self.down:
            return f"failed targets {sorted(failed)} != down {sorted(self.down)}"
        return None
