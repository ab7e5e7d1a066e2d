#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine's
public layers, with a traced mode for per-layer numbers.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One client issues each op only after the previous one has finished,
on ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``, over the sf0.01
fixture copied into ``perfbench/data``. A run sets the engine up
several times, runs one untimed warm-up pass, then timed passes until
``--seconds`` have gone by. Every op's output is checked. The seed
shuffles the op order of each pass and picks the read-back filter of
``etl_ingest``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics: spans
around the benchmark's calls into each layer, and Spark status-store
counters per op job group. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
the lines before it print every metric with its unit and the host
record. The full record, spans included, goes to
``perfbench/.work/results``. See perfbench/README.md for the
workloads and what each layer metric should move.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")

#: Setups per run; ``setup_s`` is their median.
SETUPS = 5
#: Each op's latency is its median over at least this many timed passes.
MIN_TIMED_PASSES = 2
#: A timed-out op counts as failed, and the run goes on.
OP_TIMEOUT_S = 30
#: No timed pass starts later than this, and no op later than the
#: deadline (it counts as failed), so a run ends inside 180 s.
LAST_PASS_START_S = 110
RUN_DEADLINE_S = 140

#: Read path: TPC-H shapes (plan-bound) next to iterative LLM-data
#: operators whose builders run eager barrier jobs (launch-bound).
QUERY_MIX = (
    "agg_pricing_summary",
    "tpch_q6_revenue_delta",
    "tpch_q8_market_share",
    "kmeans_lloyd_rounds",
)
#: Keys whose shuffle and executor time are reported one by one.
DETAIL_KEYS = ("tpch_q8_market_share", "kmeans_lloyd_rounds")

#: etl_ingest: events replayed as this many time-ordered micro-batch
#: files, then a far-future sentinel file that advances the watermark
#: past every real session.
STREAM_SLICES = 1
SENTINEL_TS = 1_893_456_000_000_000  # 2030-01-01 UTC, in microseconds
SENTINEL_USER = -1
BUCKETS = 8
ETL_OPS = (
    "write_partitioned", "readback", "write_bucketed", "bucketed_join",
    *(f"stream_slice_{i}" for i in range(1, STREAM_SLICES + 1)), "stream_flush",
)

WORKLOADS = ("query_mix", "etl_ingest")

END_TO_END = {"setup_s": "s", "ops_per_min": "1/min", "op_p50_s": "s", "peak_rss_mb": "MB"}

#: Span name -> per-layer metric holding its total time per pass.
SPAN_METRICS = {
    "tables.load_table": "tables.load_s",
    "query.build": "query.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "query.exec": "query.exec_s",
    "sinks.write_parquet": "sinks.write_s",
    "sinks.write_bucketed_table": "sinks.bucketed_write_s",
    "readers.read_parquet": "readers.readback_s",
    "streams.micro_batch": "streams.micro_batch_s",
}
EXEC_COUNTERS = ("jobs", "stages", "tasks", "run_core_s", "cpu_core_s", "gc_s",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
STREAM_COUNTERS = ("batch_p50_s", "add_batch_s", "state_commit_s",
                   "state_rows", "state_mb", "input_rows_per_s")
SINK_COUNTERS = ("files_written", "bytes_written_mb", "stored_bytes_per_input_byte")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in report order."""
    units = {"session.start_s": "s"}
    units.update({m: "s" for m in SPAN_METRICS.values()})
    units["query.build_jobs"] = "count"
    for c in EXEC_COUNTERS:
        units[f"exec.{c}"] = ("s" if c.endswith("_s") else
                              "MB" if c.endswith("_mb") else "count")
    units["exec.task_skew"] = "ratio"
    units["exec.idle_frac"] = "ratio"
    for op in QUERY_MIX + ETL_OPS:
        units[f"jobs.{op}"] = "count"
    for key in DETAIL_KEYS:
        units[f"shuffle_write_mb.{key}"] = "MB"
        units[f"run_core_s.{key}"] = "s"
    units.update({"sinks.files_written": "count", "sinks.bytes_written_mb": "MB",
                  "sinks.stored_bytes_per_input_byte": "ratio"})
    units.update({f"streams.{c}": ("1/s" if c.endswith("_per_s") else "s" if c.endswith("_s")
                                   else "MB" if c.endswith("_mb") else "count")
                  for c in STREAM_COUNTERS})
    for name in ("pass", "op", *SPAN_METRICS, "streams.start"):
        units[f"self_s.{name}"] = "s"
    units["trace.overhead_frac"] = "ratio"
    return units


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def dir_files(path: str) -> list[str]:
    """Data files under ``path``, without Spark's _SUCCESS and .crc files."""
    return [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_"))]


class Bench:
    """One run: the session, the op loop and everything it records."""

    def __init__(self, workdir: str):
        from spans import Tracer

        self.workdir = workdir
        self.tracer = Tracer(False)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.spark = self.sc = None
        self.pass_no = 0
        self.phase = "setup"
        self.fx: dict = {}
        self.seen_jobs: dict[str, set] = {}
        self.warehouse = ""

    # -- set-up ------------------------------------------------------
    def setup(self, workload, first: bool) -> None:
        from bigdataprojectspring16_spark import get_session
        from bigdataprojectspring16_spark.tables import load_table

        t0 = PROCESS_START if first else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_session("perfbench")
        self.session_s.append(time.perf_counter() - t)
        self.sc = self.spark.sparkContext
        for name in workload.tables:
            load_table(self.spark, DATA, name)
        workload.prepare(self)
        self.setup_s.append(time.perf_counter() - t0)

    # -- one op --------------------------------------------------------
    def op(self, name: str, body, check=None, cancel=None) -> dict:
        """Run ``body(rec)`` as one op under its own job group and time
        limit; ``check(result)`` runs after the clock stops."""
        from spans import drain_listener_bus

        op_id = f"p{self.pass_no}.{name}"
        group = f"perfbench:{op_id}"
        rec = {"op": name, "pass": self.pass_no, "phase": self.phase,
               "traced": self.tracer.enabled, "group": group, "ok": False,
               "error": None, "latency_s": 0.0}
        self.records.append(rec)
        if time.perf_counter() - PROCESS_START > RUN_DEADLINE_S:
            rec["error"] = "not run: past the run deadline"
            return rec
        sc = self.sc
        sc.setJobGroup(group, name, True)
        fired = threading.Event()

        def on_timeout():
            fired.set()
            (cancel or (lambda: sc.cancelJobGroup(group)))()

        timer = threading.Timer(OP_TIMEOUT_S, on_timeout)
        timer.daemon = True
        result = None
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op_id):
                result = body(rec)
        except Exception as e:  # an op that raises is a counted failure
            rec["error"] = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
        finally:
            rec["latency_s"] = time.perf_counter() - t0
            timer.cancel()
        if fired.is_set():
            rec["error"] = "timeout"
        rec.setdefault("action_s", rec["latency_s"])
        if rec["error"] is None:
            try:
                rec["ok"] = check is None or bool(check(result))
                if not rec["ok"]:
                    rec["error"] = "output mismatch"
            except Exception as e:
                rec["error"] = f"check {type(e).__name__}: {e}"
        # Let the listener bus catch up before the next op, so that
        # one op's event processing does not run into the next one.
        drain_listener_bus(self.sc)
        if self.tracer.enabled:
            self.count_jobs(rec)
        del result
        self.release_refs()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return rec

    def count_jobs(self, rec: dict) -> None:
        from spans import job_counters

        # A streaming query runs its jobs under its own group, its run id.
        group = rec.pop("job_group", rec["group"])
        seen = self.seen_jobs.setdefault(group, set())
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group)) - seen
        seen |= ids
        build = set(rec.pop("build_job_ids", ()))
        rec["build_jobs"] = len(build)
        rec["exec"] = job_counters(self.sc, sorted(ids - build))
        rec["all"] = {k: rec["exec"][k] + v for k, v in
                      job_counters(self.sc, sorted(build)).items()
                      if k != "task_skew"}

    def release_refs(self) -> None:
        """Drop the finished op's plan and block references on both
        sides of Py4J, so one op's broadcasts and checkpoints do not
        weigh on the next."""
        gc.collect()
        self.sc._jvm.System.gc()

    # -- passes --------------------------------------------------------
    def run_pass(self, workload, rng, phase: str, traced: bool) -> None:
        from bigdataprojectspring16_spark.tables import load_table

        self.phase = phase
        self.tracer.enabled = traced
        n_before = len(self.records)
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            root = len(self.tracer.spans) - 1 if traced else None
            if traced:  # the tables.load_s probe
                for name in workload.tables:
                    with self.tracer.span("tables.load_table"):
                        load_table(self.spark, DATA, name)
            extra = workload.run_pass(self, rng)
        self.passes.append({"pass": self.pass_no, "phase": phase, "traced": traced,
                            "wall_s": time.perf_counter() - t0, "span": root,
                            "ops": list(range(n_before, len(self.records))),
                            **extra})
        self.pass_no += 1


class QueryMix:
    """Registry queries, each built, planned and collected once a pass."""

    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "embeddings")

    def __init__(self):
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)

    def prepare(self, b: Bench) -> None:
        pass

    def run_pass(self, b: Bench, rng) -> dict:
        from bigdataprojectspring16_spark import QUERIES
        from comparator import value_hash

        for key in rng.sample(QUERY_MIX, len(QUERY_MIX)):
            want = self.expected[key]

            def body(rec, key=key):
                with b.tracer.span("query.build"):
                    df = QUERIES[key](b.spark, DATA)
                if b.tracer.enabled:
                    rec["build_job_ids"] = b.sc.statusTracker().getJobIdsForGroup(
                        rec["group"])
                    with b.tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                with b.tracer.span("query.exec"):
                    rows = df.collect()
                rec["action_s"] = time.perf_counter() - t1
                return df.columns, rows

            def check(result, want=want):
                cols, rows = result
                return (len(rows) == want["nrows"]
                        and value_hash([tuple(r) for r in rows], cols) == want["value_hash"])

            b.op(key, body, check)
        return {}


class EtlIngest:
    """Writes beside reads: a year-partitioned parquet write, bucketed
    writes of lineitem and orders, a pruned read-back, a bucketed join
    of the fresh tables, and a Structured Streaming replay of
    ``events``."""

    tables = ("lineitem", "orders", "events")

    def __init__(self):
        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)
        self.expected = expected["stream_session"]
        self.year_rows = {int(y): n for y, n in expected["etl_ingest"]["year_rows"].items()}
        self.join_rows = expected["etl_ingest"]["join_rows"]

    def prepare(self, b: Bench) -> None:
        """Slice ``events`` into time-ordered micro-batch files, plus
        the sentinel file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from bigdataprojectspring16_spark.streaming import streams

        root = os.path.join(b.workdir, "fixtures")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        cols = [f.name for f in streams.EVENTS_SCHEMA]
        ev = (pq.read_table(os.path.join(DATA, "events.parquet"), columns=cols)
              .sort_by([("ts", "ascending"), ("event_id", "ascending")]))
        # Zone-less fixture times are UTC wall times (the session zone).
        ev = ev.set_column(cols.index("ts"), "ts", ev["ts"].cast(pa.timestamp("us", "UTC")))
        sentinel = pa.table({
            "event_id": [10**9], "user_id": [SENTINEL_USER], "event_type": ["click"],
            "ts": pa.array([SENTINEL_TS], pa.timestamp("us", "UTC")),
            "value": [1.0], "props": ["{}"]}, schema=ev.schema)
        step = -(-ev.num_rows // STREAM_SLICES)
        parts = [ev.slice(i * step, step) for i in range(STREAM_SLICES)] + [sentinel]
        b.fx["feeds"] = []
        for i, part in enumerate(parts):
            path = os.path.join(root, f"slice-{i}.parquet")
            pq.write_table(part, path)
            b.fx["feeds"].append(path)
        b.fx["source_bytes"] = sum(os.path.getsize(os.path.join(DATA, f"{t}.parquet"))
                                   for t in ("lineitem", "orders"))

    @staticmethod
    def joined(spark):
        from pyspark.sql import functions as F

        from bigdataprojectspring16_spark.tables import load_table

        li = load_table(spark, DATA, "lineitem")
        o = load_table(spark, DATA, "orders")
        return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .withColumn("ship_year", F.year("l_shipdate")))

    def run_pass(self, b: Bench, rng) -> dict:
        from pyspark.sql import functions as F

        from bigdataprojectspring16_spark.sources import readers, sinks
        from bigdataprojectspring16_spark.streaming import streams
        from bigdataprojectspring16_spark.tables import load_table
        from comparator import value_hash
        from spans import stream_counters

        spark, tr, fx = b.spark, b.tracer, b.fx
        base = os.path.join(b.workdir, "etl", f"pass{b.pass_no}")
        out, feed, chk = (os.path.join(base, d) for d in ("out", "feed", "chk"))
        tables = {"lineitem": f"lineitem_b{b.pass_no}", "orders": f"orders_b{b.pass_no}"}
        sink_name = f"sessions_p{b.pass_no}"
        year = rng.choice(sorted(self.year_rows))
        stream: dict = {}

        def write_partitioned(rec):
            df = self.joined(spark)
            with tr.span("sinks.write_parquet"):
                sinks.write_parquet(df, out, ["ship_year"])

        def write_bucketed(rec):
            for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
                df = load_table(spark, DATA, table)
                with tr.span("sinks.write_bucketed_table"):
                    sinks.write_bucketed_table(df, tables[table], [key], num_buckets=BUCKETS)

        def readback(rec):
            with tr.span("readers.read_parquet"):
                return readers.read_parquet(spark, out).where(F.col("ship_year") == year).count()

        def bucketed_join(rec):
            with tr.span("query.exec"):
                li, o = spark.table(tables["lineitem"]), spark.table(tables["orders"])
                return li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()

        def start_stream():
            os.makedirs(feed)
            stream["partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
            with tr.span("streams.start"):
                # State width is the deployment's executors x cores, as
                # pin_state_store_width asks for.
                streams.pin_state_store_width(spark, spark.sparkContext.defaultParallelism)
                stream["q"] = (streams.session_counts(streams.read_event_stream(spark, feed))
                               .writeStream.format("memory").queryName(sink_name)
                               .outputMode("append").option("checkpointLocation", chk)
                               .start())

        def stream_feed(i):
            def body(rec):
                if i == 0:
                    start_stream()
                # Staged outside the watched directory and renamed in,
                # so the source never lists a half-copied file.
                staged = os.path.join(base, f"staged-{i}.parquet")
                shutil.copy(fx["feeds"][i], staged)
                os.rename(staged, os.path.join(feed, f"part-{i:02d}.parquet"))
                rec["job_group"] = str(stream["q"].runId)
                with tr.span("streams.micro_batch"):
                    stream["q"].processAllAvailable()
            return body

        def stream_check(_):
            rows = spark.table(sink_name).collect()
            return (len(rows) == self.expected["nrows"]
                    and value_hash([tuple(r) for r in rows], self.expected["cols"])
                    == self.expected["value_hash"])

        def stop_stream():
            q = stream.pop("q", None)
            if q is not None:
                stream["progress"] = q.recentProgress
                q.stop()
            if "partitions" in stream:
                spark.conf.set("spark.sql.shuffle.partitions", stream.pop("partitions"))

        def cancel_stream():
            q = stream.get("q")
            if q is not None:
                q.stop()

        chains = [
            [("write_partitioned", write_partitioned, lambda _: bool(dir_files(out))),
             ("readback", readback, lambda n: n == self.year_rows[year])],
            [("write_bucketed", write_bucketed, None),
             ("bucketed_join", bucketed_join, lambda n: n == self.join_rows)],
            [*((f"stream_slice_{i + 1}", stream_feed(i), None) for i in range(STREAM_SLICES)),
             ("stream_flush", stream_feed(STREAM_SLICES), stream_check)],
        ]
        try:
            for chain in rng.sample(chains, len(chains)):
                for name, body, check in chain:
                    b.op(name, body, check,
                         cancel_stream if name.startswith("stream") else None)
                stop_stream()
            written = [f for d in (out, *(os.path.join(b.warehouse, t) for t in tables.values()))
                       for f in dir_files(d)]
            n_bytes = sum(map(os.path.getsize, written))
            extra = {"files_written": len(written), "bytes_written_mb": n_bytes / 1e6,
                     # The partitioned write reads both sources, each
                     # bucketed write reads one.
                     "stored_bytes_per_input_byte": n_bytes / (2 * fx["source_bytes"])}
            extra.update(stream_counters(stream.get("progress", [])))
            return extra
        finally:
            stop_stream()
            for t in tables.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.dropTempView(sink_name)
            shutil.rmtree(base, ignore_errors=True)


# -- metrics -------------------------------------------------------------
def ops_per_min(records: list[dict]) -> float:
    busy = sum(r["latency_s"] for r in records)
    return 60.0 * sum(r["ok"] for r in records) / busy if busy else 0.0


def end_to_end(b: Bench, rss_mb: float) -> dict[str, float]:
    """Closed-loop figures from the untraced timed passes."""
    timed = [r for r in b.records if r["phase"] == "measure" and not r["traced"]]
    return {
        "setup_s": median(b.setup_s),
        "first_pass_s": sum(r["latency_s"] for r in b.records if r["phase"] == "warmup"),
        "ops_per_min": ops_per_min(timed),
        # The median op's latency: each op's median over the passes,
        # then the median over the ops, so that every op counts once.
        "op_p50_s": median(median(r["latency_s"] for r in timed if r["op"] == op and r["ok"])
                           for op in {r["op"] for r in timed if r["ok"]}),
        "peak_rss_mb": rss_mb,
    }


def per_layer(b: Bench) -> dict[str, float]:
    """Per-layer figures: per-pass totals over the traced timed passes,
    medians when there are several; 0 where a workload does not use a
    layer."""
    cores = b.sc.defaultParallelism
    rows = []
    for p in (p for p in b.passes if p["traced"]):
        within = b.tracer.descendants(p["span"])
        recs = [b.records[i] for i in p["ops"] if "exec" in b.records[i]]
        m = {metric: 0.0 for metric in SPAN_METRICS.values()}
        for s in b.tracer.spans:
            if s["id"] in within and s["name"] in SPAN_METRICS:
                m[SPAN_METRICS[s["name"]]] += s["end"] - s["start"]
        m["query.build_jobs"] = sum(r["build_jobs"] for r in recs)
        for c in EXEC_COUNTERS:
            m[f"exec.{c}"] = sum(r["exec"][c] for r in recs)
        m["exec.task_skew"] = median(r["exec"]["task_skew"] for r in recs
                                     if r["exec"]["stages"])
        action_s = sum(r["action_s"] for r in recs)
        m["exec.idle_frac"] = 1.0 - m["exec.run_core_s"] / (action_s * cores) if action_s else 0.0
        by_op = {r["op"]: r["all"] for r in recs}
        for op in QUERY_MIX + ETL_OPS:
            m[f"jobs.{op}"] = by_op.get(op, {}).get("jobs", 0)
        for key in DETAIL_KEYS:
            m[f"shuffle_write_mb.{key}"] = by_op.get(key, {}).get("shuffle_write_mb", 0.0)
            m[f"run_core_s.{key}"] = by_op.get(key, {}).get("run_core_s", 0.0)
        for c in SINK_COUNTERS:
            m[f"sinks.{c}"] = p.get(c, 0)
        for c in STREAM_COUNTERS:
            m[f"streams.{c}"] = p.get(c, 0)
        self_s = b.tracer.self_seconds(within)
        for name in ("pass", "op", *SPAN_METRICS, "streams.start"):
            m[f"self_s.{name}"] = self_s.get(name, 0.0)
        rows.append(m)
    units = per_layer_units()
    out = {name: median(r[name] for r in rows if name in r) for name in units}
    out["session.start_s"] = median(b.session_s)
    timed = [r for r in b.records if r["phase"] == "measure"]
    plain = ops_per_min([r for r in timed if not r["traced"]])
    out["trace.overhead_frac"] = (
        1.0 - ops_per_min([r for r in timed if r["traced"]]) / plain if plain else 0.0)
    return out


# -- host and process ----------------------------------------------------
def host_record(b: Bench, args) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        done = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=False)
        commit = done.stdout.strip() or None
    pkg = os.path.join(ROOT, "bigdataprojectspring16_spark")
    digest = hashlib.sha256()
    for path in sorted(os.path.join(r, f) for r, _, fs in os.walk(pkg)
                       for f in fs if f.endswith(".py")):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "defaultParallelism": b.sc.defaultParallelism, "mem_total_mb": mem_kb // 1024,
        "spark": b.spark.version,
        "java": b.sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(), "commit": commit,
        "package_sha256": digest.hexdigest()[:16],
        "data": os.path.relpath(DATA, ROOT),
    }


def jvm_peak_rss_mb() -> float:
    """High-water resident set of the Spark JVM so far."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def shutdown(b: Bench) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if b.spark is not None:
        b.spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def isolate(workdir: str) -> None:
    """Keep every file the run writes inside ``workdir``: Spark's local
    dirs, the JVM's and Python's temp dirs, and the table warehouse."""
    tmp, warehouse = os.path.join(workdir, "tmp"), os.path.join(workdir, "warehouse")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(workdir, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (f"--conf spark.sql.warehouse.dir={warehouse} "
                                f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                "-XX:-UsePerfData' pyspark-shell"),
    })
    from bigdataprojectspring16_spark import session

    # The session factory pins its own warehouse among its startup
    # confs, which win over spark-submit's; point it here too.
    confs = getattr(session, "_STARTUP_CONFS", {})
    if "spark.sql.warehouse.dir" in confs:
        confs["spark.sql.warehouse.dir"] = warehouse


def report(b: Bench, host: dict, e2e: dict, layers: dict | None) -> None:
    print(f"perfbench {host['workload']} seed={host['seed']} trace={host['trace']}")
    print("host " + json.dumps(host, sort_keys=True))
    print("setups_s " + " ".join(f"{s:.3f}" for s in b.setup_s)
          + "  get_session_s " + " ".join(f"{s:.3f}" for s in b.session_s)
          + "  (the first from process start, in a cold JVM)")
    timed = [r for r in b.records if r["phase"] == "measure" and not r["traced"]]
    failed = [r for r in b.records if not r["ok"]]
    print("end-to-end (untraced timed passes):")
    for name, unit in END_TO_END.items():
        print(f"  {name:28s} {e2e[name]:.6g} {unit}")
    print(f"  {'error_rate':28s} {len(failed) / len(b.records):.6g} ratio "
          f"({len(failed)} of {len(b.records)} ops, warm-up included)")
    print(f"  {'first_pass_s':28s} {e2e['first_pass_s']:.6g} s (untimed warm-up pass)")
    print(f"  {'heap_live_mb':28s} {e2e['heap_live_mb']:.6g} MB (JVM heap after a final GC)")
    n_ok = sum(r["ok"] for r in timed)
    print(f"  op latency samples: {n_ok}; op_p90_s needs at least 100 "
          f"(10 beyond the 90th percentile)"
          + (f": {statistics.quantiles([r['latency_s'] for r in timed if r['ok']], n=10)[-1]:.6g} s"
             if n_ok >= 100 else ", not reported"))
    etl = [p for p in b.passes if p["phase"] == "measure" and not p["traced"]
           and "batch_p50_s" in p]
    if etl:
        print(f"  {'stream_batch_p50_s':28s} {median(p['batch_p50_s'] for p in etl):.6g} s "
              f"({sum(p['batches'] for p in etl)} micro-batches; p90 needs 100)")
        print(f"  {'stored_bytes_per_input_byte':28s} "
              f"{median(p['stored_bytes_per_input_byte'] for p in etl):.6g} ratio")
    print("ops (untraced timed passes, latency s):")
    for op in sorted({r["op"] for r in timed}):
        lat = [r["latency_s"] for r in timed if r["op"] == op]
        print(f"  {op:32s} median {median(lat):.3f}  n {len(lat)}")
    if layers is not None:
        units = per_layer_units()
        print("per-layer (traced timed passes, per pass):")
        for name, unit in units.items():
            print(f"  {name:40s} {layers[name]:.6g} {unit}")
    for r in failed:
        print(f"FAILED pass {r['pass']} {r['op']}: {r['error']}")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed passes run until this much wall time has gone by")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bigdataprojectspring16_spark", "__init__.py")):
        fail(f"engine package not found in {ROOT}")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"fixture data not found in {DATA}")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    workload = QueryMix() if args.workload == "query_mix" else EtlIngest()
    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    for stale in os.listdir(WORK) if os.path.isdir(WORK) else ():
        # Left behind by runs that were killed.
        if stale.startswith("run-") and not os.path.exists(f"/proc/{stale[4:]}"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        isolate(workdir)
        import comparator  # noqa: F401  the output check's hash
    except ImportError as e:
        shutil.rmtree(workdir, ignore_errors=True)
        fail(f"cannot import the engine: {e}")

    rng = random.Random(args.seed)
    b = Bench(workdir)
    try:
        b.setup(workload, first=True)
        b.warehouse = b.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        b.run_pass(workload, rng, "warmup", traced=False)
        # A traced run orders its passes untraced, traced, traced,
        # untraced, so that both kinds see the same warm-up on average.
        min_passes = 2 * MIN_TIMED_PASSES if args.trace else MIN_TIMED_PASSES
        start, n = time.perf_counter(), 0
        b.tracer.enabled = bool(args.trace)
        with b.tracer.span("run"):
            while True:
                b.run_pass(workload, rng, "measure", traced=bool(args.trace) and n % 4 in (1, 2))
                n += 1
                if (time.perf_counter() - start >= args.seconds and n >= min_passes
                        or time.perf_counter() - PROCESS_START > LAST_PASS_START_S):
                    break
        # The repeat set-ups restart the session in the same, warm JVM.
        # They come last so that the timed passes run in the session
        # the warm-up pass warmed.
        for _ in range(SETUPS - 1):
            b.setup(workload, first=False)
        host = host_record(b, args)
        e2e = end_to_end(b, jvm_peak_rss_mb())
        b.release_refs()
        rt = b.sc._jvm.java.lang.Runtime.getRuntime()
        e2e["heap_live_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        layers = per_layer(b) if args.trace else None
    finally:
        shutdown(b)
        shutil.rmtree(workdir, ignore_errors=True)

    report(b, host, e2e, layers)
    metrics = layers if args.trace else e2e
    units = per_layer_units() if args.trace else END_TO_END
    n_failed = sum(not r["ok"] for r in b.records)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump({"host": host, "end_to_end": e2e, "per_layer": layers,
                   "setup_s": b.setup_s, "session_s": b.session_s,
                   "passes": b.passes, "ops": b.records, "spans": b.tracer.spans}, fh)
    print(json.dumps({"correct": n_failed == 0, "attempted": len(b.records),
                      "failed": n_failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]}
                                  for k in units}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
