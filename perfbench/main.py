"""One benchmark run, in this process: set up a Spark session, run one
workload for a fixed time as a single closed-loop client, check the
outputs, and print the metrics.

Normally started by ``perfbench/run.py``, which gives it an isolated
working directory; see that file for the command line.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import io
import json
import math
import os
import random
import sqlite3
import statistics
import sys
import time
import traceback

WORKLOADS = ("archive", "headline", "heavy")

#: Slow registry keys of the two shapes ``headline`` bypasses: decode keys,
#: Python-bound behind the Arrow boundary, and iterative keys, chains of
#: jobs orchestrated from Python.
HEAVY = ["q_epub_extract", "q_warc_http_brotli", "q_curate_pipeline", "q_pagerank"]

#: Seed of the fixture tables. The tables are fixed so that keys without a
#: DuckDB oracle can be checked against a pinned digest; the run seed
#: orders the keys instead.
TABLE_SEED = 42

#: (key, sf) -> (rows, digest of the collected rows) for the keys without
#: an oracle; counted keys are checked by rows only.
PINNED = {
    ("q_dedup_fuzzy", 0.1): (6133965, None),
    ("q_dedup_fuzzy", 0.001): (61038, None),
    ("q_curate_pipeline", 0.01): (74, "780b3f26cd972178"),
    ("q_curate_pipeline", 0.001): (91, "01e9c4c77b0be3bb"),
}

#: Oracle-backed results up to this many rows are compared by value; larger
#: ones by row count, which the timed ``count()`` already gives.
VALUE_CHECK_ROWS = 50_000

E2E_UNITS = {"setup_s": "s", "op_latency_s": "s", "pass_s": "s"}

LAYER_UNITS = {
    "session.import_s": "s", "session.build_s": "s", "session.warmup_s": "s",
    "sources.call_s": "s", "sources.jobs": "count",
    "writes.plan_s": "s",
    "store.commit_s": "s", "store.commit_jobs": "count", "store.overhead_s": "s",
    "store.files_written": "count", "store.write_amp": "ratio", "store.disk_bytes": "bytes",
    "cli.jobs_per_cmd": "count", "cli.post_commit_jobs": "count",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
    "db_sink.write_s": "s", "db_sink.rows": "count",
    "queries.build_s": "s", "queries.exec_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.noncpu_ms": "ms",
    "exec.slot_util": "ratio", "exec.gc_ms": "ms", "exec.deserialize_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "release.leaked_blocks": "count", "mem.rss_p50_mb": "MB", "mem.peak_rss_mb": "MB",
    "traced.op_latency_s": "s", "traced.pass_s": "s",
}

def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """State of one run: the session, the per-operation records and the
    failure count."""

    def __init__(self, args):
        self.args = args
        self.workdir = os.getcwd()
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []  # timed operations
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.report: dict[str, tuple[float, str, int]] = {}  # name -> (value, unit, samples)
        self.timed = (0.0, 0.0)  # wall-clock span of the timed passes
        self.rows_landed = 0  # archive: rows in the store and SQLite after the timed passes

    # -- set-up ---------------------------------------------------------------

    def setup(self, sf_dir: str) -> float:
        """Registry import, session build and warm-up, once and cold:
        the set-up a user of the program pays. (A rebuild inside the running
        JVM costs under 0.1 s and would hide the JVM launch.)"""
        t = time.perf_counter()
        import yark_spark.queries  # noqa: F401

        import_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark = build_session(self.cpus, os.path.join(self.workdir, "warehouse"))
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_engine(self.spark, sf_dir)
        warmup_s = time.perf_counter() - t
        self.layers.update({
            "session.import_s": import_s, "session.build_s": build_s, "session.warmup_s": warmup_s,
        })
        return import_s + build_s + warmup_s

    # -- operations ---------------------------------------------------------

    def op(self, kind: str, fn, timed: bool = True) -> dict:
        """Run one operation: ``fn`` returns extra fields for the record, or
        raises. Hygiene runs after it, outside its latency."""
        from yark_spark.operators.release import persisted_block_count, release_tracked

        self.attempted += 1
        op_id = f"op-{self.attempted:04d}-{kind}"
        if self.tracer:
            self.tracer.begin_op(op_id)
        rec = {"kind": kind, "id": op_id, "ok": True}
        t = time.perf_counter()
        try:
            rec.update(fn() or {})
        except Exception:
            rec["ok"] = False
            log(f"{op_id} failed:\n{traceback.format_exc()}")
        rec["latency_s"] = time.perf_counter() - t
        log(f"{op_id} {'ok' if rec['ok'] else 'FAILED'} {rec['latency_s']:.3f} s")
        if self.tracer:
            rec["jobs"] = self.tracer.end_op()
            run_ms = sum(j["run_ms"] for j in rec["jobs"])
            cpu_ms = sum(j["cpu_ms"] for j in rec["jobs"])
            log(f"{op_id} jobs {len(rec['jobs'])}, executor run {run_ms} ms, JVM CPU {cpu_ms:.0f} ms")
        self.spark.catalog.clearCache()
        release_tracked()
        rec["leaked_blocks"] = persisted_block_count(self.spark)
        if not rec["ok"]:
            self.failed += 1
        if timed:
            self.ops.append(rec)
        return rec

    def passes(self, make_pass) -> list[float]:
        """Closed loop: whole passes until --seconds have elapsed; returns
        the wall time of each."""
        walls, start, t0 = [], time.time(), time.perf_counter()
        while True:
            t = time.perf_counter()
            make_pass()
            walls.append(time.perf_counter() - t)
            if time.perf_counter() - t0 >= self.args.seconds:
                self.timed = (start, time.time())
                return walls


def build_session(cpus: int, warehouse: str):
    """The program's own session factory, with the SQL warehouse (a static
    conf that factory pins to a fixed path) redirected into the run's
    directory and the console progress bar off."""
    from pyspark.sql import SparkSession

    from yark_spark.session import get_spark

    orig = SparkSession.Builder.getOrCreate

    def get_or_create(self):
        self.config("spark.sql.warehouse.dir", warehouse)
        self.config("spark.ui.showConsoleProgress", "false")
        return orig(self)

    SparkSession.Builder.getOrCreate = get_or_create
    try:
        spark = get_spark("perfbench", cpus=cpus)
    finally:
        SparkSession.Builder.getOrCreate = orig
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_engine(spark, sf_dir: str) -> None:
    """Pay the engine's first-use costs before timing: a table scan, a
    shuffle, a broadcast join and an Arrow round trip through a Python
    worker. Without it the first timed operation of a run carries them."""
    from pyspark.sql import functions as F

    from yark_spark.queries import QUERIES

    QUERIES["q_full_scan"](spark, sf_dir).count()
    df = spark.range(10_000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    dim = F.broadcast(spark.range(7).withColumnRenamed("id", "k"))
    df.join(dim, "k").groupBy("k").agg(F.count("v")).collect()
    df.mapInArrow(lambda batches: batches, df.schema).count()


# -- query workloads (headline, heavy) ---------------------------------------


def query_workload(run: Run, keys: list[str], sf: float, collect: bool) -> list[float]:
    """Passes over ``keys`` in seeded order. Each key is built and executed
    to completion, with ``count()`` as ``bench.py`` does or, with
    ``collect``, by collecting its (small) result. The outputs of the last
    pass are checked after timing."""
    from perfbench.tables import write_tables

    sf_dir = os.path.join(run.workdir, f"sf{sf}")
    write_tables(sf_dir, sf, TABLE_SEED)
    run.report["setup_s"] = (run.setup(sf_dir), "s", 1)
    from yark_spark.queries import QUERIES

    if run.args.trace:
        run.tracer = _tracer(run.spark)
    rng = random.Random(run.args.seed)
    outputs = {}

    def execute(key) -> dict:
        t = time.perf_counter()
        df = QUERIES[key](run.spark, sf_dir)
        build = time.perf_counter() - t
        outputs[key] = df.toPandas() if collect else df.count()
        return {"build_s": build}

    def one_pass() -> None:
        for key in rng.sample(keys, len(keys)):
            run.op(key, functools.partial(execute, key))

    walls = run.passes(one_pass)
    log(f"passes: {walls}")
    con = _duckdb(sf_dir)
    for key in keys:
        run.op(key, functools.partial(check_key, run.spark, con, key, sf_dir, sf, outputs.get(key)),
               timed=False)
    con.close()
    return walls


def _duckdb(sf_dir: str):
    import duckdb

    from perfbench.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_key(spark, con, key: str, sf_dir: str, sf: float, output) -> dict:
    """Check one key's timed output: its row count (``count()``) or its
    collected rows. Keys with a DuckDB oracle must match it, by value where
    the result has at most ``VALUE_CHECK_ROWS`` rows (re-executing a
    counted key to fetch them) and by row count above that; keys without
    one must match their pinned row count and, for collected rows, digest.
    Raises on a mismatch."""
    from yark_spark.queries import ORACLES, QUERIES

    if output is None:
        raise AssertionError(f"{key}: no output to check")
    collected = hasattr(output, "columns")
    if key not in ORACLES:
        rows, want_digest = PINNED[(key, sf)]
        got = rows_digest(output) if collected else (output, None)
        if got != (rows, want_digest if collected else None):
            raise AssertionError(f"{key}: {got} != pinned {(rows, want_digest)}")
        return {"rows": rows}
    want_rows = con.execute(f"SELECT count(*) FROM ({ORACLES[key]})").fetchone()[0]
    n = len(output) if collected else output
    if n != want_rows:
        raise AssertionError(f"{key}: {n} rows, oracle {want_rows}")
    if collected or want_rows <= VALUE_CHECK_ROWS:
        got = normalized_rows(output if collected else QUERIES[key](spark, sf_dir).toPandas())
        if got != normalized_rows(con.execute(ORACLES[key]).fetchdf()):
            raise AssertionError(f"{key}: values differ from the oracle")
    return {"rows": n}


def rows_digest(pdf) -> tuple[int, str]:
    """(row count, sha256 prefix) of the normalized, sorted rows."""
    import hashlib

    cols, rows = normalized_rows(pdf)
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def _norm(v) -> str:
    import datetime as dt
    import decimal

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "null" if math.isnan(f) else f"{f:.6g}"
    if isinstance(v, dt.datetime):
        return v.date().isoformat() if v.time() == dt.time() else v.isoformat(" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def normalized_rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_norm(x) for x in r) for r in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


# -- archive workload ---------------------------------------------------------


def archive_workload(run: Run) -> list[float]:
    from perfbench.archive_script import CYCLE, FULL, SMOKE, ArchiveScript
    from perfbench.tables import write_tables

    sizes = SMOKE if run.args.smoke else FULL
    warm_dir = os.path.join(run.workdir, "sf0.001")
    write_tables(warm_dir, 0.001, TABLE_SEED)
    run.report["setup_s"] = (run.setup(warm_dir), "s", 1)
    if run.args.trace:
        run.tracer = _tracer(run.spark)
    script = ArchiveScript(run.args.seed, os.path.join(run.workdir, "archive"), sizes)
    env = ArchiveEnv(run.spark, script)

    def one_cycle() -> None:
        for _ in CYCLE:
            op = next(script)
            if run.op(op.kind, functools.partial(env.execute, op))["ok"]:
                script.apply(op)

    walls = run.passes(one_cycle)
    model = script.model
    run.rows_landed = sum(model.counts(sizes).values()) + len(model.sqlite_history)
    run.op("verify", env.verify, timed=False)
    return walls


class ArchiveEnv:
    """Executes archive-script operations against the store, the stream
    inbox and the SQLite mirror, and checks read outputs on the way."""

    def __init__(self, spark, script):
        self.spark, self.script = spark, script
        base = script.workdir
        self.store_dir = script.store_dir()
        self.db_path = os.path.join(base, "history.db")
        self.ckpt = (os.path.join(base, "ckpt-store"), os.path.join(base, "ckpt-db"))

    def execute(self, op) -> dict:
        rec = {"input_bytes": os.path.getsize(op.path) if op.path else 0}
        before = self._store_files()
        if op.kind == "stream":
            rec.update(self._drain(op))
        else:
            from yark_spark import cli

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(op.argv, spark=self.spark)
            if rc != 0:
                raise RuntimeError(f"{op.argv[0]} exited {rc}")
            self._check_output(op, buf.getvalue())
        after = self._store_files()
        new = set(after) - set(before)
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(after[p] for p in new)
        rec["disk_bytes"] = sum(after.values())
        return rec

    def _store_files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.store_dir):
            for f in files:
                p = os.path.join(d, f)
                with contextlib.suppress(OSError):
                    out[p] = os.path.getsize(p)
        return out

    def _check_output(self, op, out: str) -> None:
        m, sizes = self.script.model, self.script.sizes
        if op.kind == "lost":
            got = sorted(line for line in out.splitlines() if line)
            if got != sorted(m.lost):
                raise AssertionError(f"lost: {len(got)} ids, expected {len(m.lost)}")
        elif op.kind == "query":
            rows = [
                [c.strip() for c in line.strip().strip("|").split("|")]
                for line in out.splitlines() if line.startswith("|")
            ]
            got = [(r[0], int(r[1]), int(r[2])) for r in rows[1:]]
            want = m.query_answer(sizes)
            if got != want:
                raise AssertionError(f"query: {got} != {want}")

    def _feed(self):
        from pyspark.sql.types import StructType

        from yark_spark.streaming.pipelines import read_event_stream, watermarked_dedup

        schema = StructType.fromDDL("video string, watched timestamp")
        stream = read_event_stream(self.spark, self.script.inbox, schema)
        return watermarked_dedup(stream, ["video", "watched"], "watched")

    def _drain(self, op) -> dict:
        from yark_spark.operators.db_sink import db_history_sink
        from yark_spark.operators.store import ParquetStore
        from yark_spark.streaming.pipelines import history_sink, run_available_now

        os.replace(op.path, op.effect["dest"])
        rows_before = self._sqlite_rows()
        progress = []
        sinks = (
            history_sink(ParquetStore(self.spark, self.store_dir), self._feed(), self.ckpt[0]),
            db_history_sink(
                functools.partial(sqlite3.connect, self.db_path, timeout=60),
                self._feed(), self.ckpt[1],
            ),
        )
        for sink in sinks:
            q = run_available_now(sink)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress += q.recentProgress
        return {"progress": progress, "db_rows": self._sqlite_rows() - rows_before}

    def _sqlite_rows(self) -> int:
        if not os.path.exists(self.db_path):
            return 0
        with contextlib.closing(sqlite3.connect(self.db_path, timeout=60)) as conn:
            try:
                return conn.execute("SELECT count(*) FROM history").fetchone()[0]
            except sqlite3.OperationalError:  # table not created yet
                return 0

    def verify(self) -> dict:
        """The store and the SQLite mirror must hold exactly the model."""
        from yark_spark.operators.store import ParquetStore

        store = ParquetStore(self.spark, self.store_dir)
        want = self.script.model.counts(self.script.sizes)
        got = {name: store.read(name).count() for name in want}
        want["sqlite_history"] = len(self.script.model.sqlite_history)
        got["sqlite_history"] = self._sqlite_rows()
        bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        if bad:
            raise AssertionError(f"store differs from the model (got, want): {bad}")
        return {"rows": got}


# -- metrics -----------------------------------------------------------------


def _tracer(spark):
    from perfbench.trace import Tracer

    return Tracer(spark).install()


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(run: Run, walls: list[float]) -> None:
    ok = [r for r in run.ops if r["ok"]]
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r["kind"], []).append(r["latency_s"])
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    rep = run.report
    rep["op_latency_s"] = (geomean(medians.values()), "s", len(ok))
    rep["pass_s"] = (statistics.median(walls), "s", len(walls))
    rep["failed_frac"] = (run.failed / run.attempted, "ratio", run.attempted)
    w = run.args.workload
    if w == "archive":
        for name, kinds in (("video", ["video"]), ("history", ["history"]),
                            ("stream", ["stream"]), ("read", ["query", "lost"])):
            xs = [r["latency_s"] for r in ok if r["kind"] in kinds]
            if xs:
                rep[f"archive.{name}_p50_s"] = (statistics.median(xs), "s", len(xs))
        writers = [r for r in ok if r["kind"] in ("video", "history", "stream", "playlist", "delete")]
        secs = sum(r["latency_s"] for r in writers)
        rep["archive.rows_per_s"] = (run.rows_landed / secs if secs else 0.0, "rows/s", len(writers))
    else:
        rep[f"{w}.pass_p50_s"] = (rep["pass_s"][0], "s", len(walls))
        rep[f"{w}.key_geomean_s"] = (rep["op_latency_s"][0], "s", len(ok))
        for key, v in sorted(by_kind.items()):
            rep[f"{w}.{key}_s"] = (statistics.median(v), "s", len(v))


def per_layer(run: Run) -> dict[str, float]:
    from perfbench.trace import jobs_within, time_outside_jobs

    t, ops, L = run.tracer, run.ops, dict(run.layers)
    L.update({k: 0.0 for k in LAYER_UNITS if k not in L})
    L["traced.op_latency_s"] = run.report["op_latency_s"][0]
    L["traced.pass_s"] = run.report["pass_s"][0]
    n = max(1, len(ops))

    jobs = [j for r in ops for j in r["jobs"]]
    for f in ("run_ms", "cpu_ms", "gc_ms", "deserialize_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "stages", "tasks"):
        L[f"exec.{f}"] = sum(j[f] for j in jobs) / n
    L["exec.jobs"] = len(jobs) / n
    L["exec.noncpu_ms"] = L["exec.run_ms"] - L["exec.cpu_ms"]
    wall_ms = 1000 * sum(r["latency_s"] for r in ops)
    L["exec.slot_util"] = sum(j["run_ms"] for j in jobs) / (wall_ms * run.cpus) if wall_ms else 0.0
    L["release.leaked_blocks"] = max((r["leaked_blocks"] for r in ops), default=0)

    def mean_over(layer, value):
        vals = []
        for r in ops:
            spans = t.outer_spans(layer, r["id"])
            if spans:
                vals.append(value(r, spans))
        return sum(vals) / len(vals) if vals else 0.0

    span_s = lambda r, spans: sum(s.dur for s in spans)  # noqa: E731
    n_jobs = lambda r, spans: len(jobs_within(r["jobs"], spans))  # noqa: E731
    L["sources.call_s"] = mean_over("sources", span_s)
    L["sources.jobs"] = mean_over("sources", n_jobs)
    L["writes.plan_s"] = mean_over("writes", span_s)
    L["store.commit_s"] = mean_over("store", span_s)
    L["store.commit_jobs"] = mean_over("store", n_jobs)
    L["store.overhead_s"] = mean_over("store", lambda r, spans: time_outside_jobs(r["jobs"], spans))
    L["db_sink.write_s"] = mean_over("db_sink", span_s)
    L["cli.jobs_per_cmd"] = mean_over("cli", lambda r, spans: len(r["jobs"]))

    def post_commit(r, spans):
        commits = t.outer_spans("store", r["id"])
        end = max(s.end for s in commits) if commits else None
        return sum(1 for j in r["jobs"] if end is not None and j["submitted"] > end)

    L["cli.post_commit_jobs"] = mean_over("cli", post_commit)

    writers = [r for r in ops if r.get("files_written")]
    if writers:
        L["store.files_written"] = sum(r["files_written"] for r in writers) / len(writers)
        in_bytes = sum(r["input_bytes"] for r in writers)
        L["store.write_amp"] = sum(r["bytes_written"] for r in writers) / in_bytes if in_bytes else 0.0
        L["store.disk_bytes"] = ops[-1].get("disk_bytes", 0)

    batches = [p for r in ops if r["kind"] == "stream" for p in r.get("progress", [])]
    batches = [p for p in batches if p.get("numInputRows", 0) > 0]
    if batches:
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in batches) / len(batches)  # noqa: E731
        L["streaming.add_batch_ms"] = dur("addBatch")
        L["streaming.planning_ms"] = dur("queryPlanning")
        L["streaming.wal_commit_ms"] = dur("walCommit")
        L["streaming.state_rows"] = sum(
            sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])) for p in batches
        ) / len(batches)
    streams = [r for r in ops if r["kind"] == "stream"]
    if streams:
        L["db_sink.rows"] = sum(r.get("db_rows", 0) for r in streams) / len(streams)

    keyed = [r for r in ops if "build_s" in r]
    if keyed:
        L["queries.build_s"] = sum(r["build_s"] for r in keyed) / len(keyed)
        L["queries.exec_s"] = sum(r["latency_s"] - r["build_s"] for r in keyed) / len(keyed)
    return L


def result_line(run: Run) -> dict:
    if run.args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in per_layer(run).items()}
    else:
        metrics = {k: {"value": run.report[k][0], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 tables and a shortened archive script (the benchmark's tests)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    from perfbench.trace import RssSampler

    args = parse_args(argv)
    run = Run(args)
    sampler = RssSampler().start()
    try:
        if args.workload == "archive":
            walls = archive_workload(run)
        else:
            sf = 0.001 if args.smoke else {"headline": 0.1, "heavy": 0.01}[args.workload]
            if args.workload == "headline":
                from bench import HEADLINE

                walls = query_workload(run, HEADLINE, sf, collect=False)
            else:
                walls = query_workload(run, HEAVY, sf, collect=True)
        end_to_end(run, walls)
        sampler.stop()
        n = len(sampler.samples)
        run.report["rss_p50_mb"] = (sampler.median(*run.timed) / 2**20, "MB", n)
        run.report["peak_rss_mb"] = (sampler.peak() / 2**20, "MB", n)
        run.layers["mem.rss_p50_mb"] = run.report["rss_p50_mb"][0]
        run.layers["mem.peak_rss_mb"] = run.report["peak_rss_mb"][0]
        for name, (value, unit, samples) in sorted(run.report.items()):
            log(f"{name:34s} {value:14.4f} {unit:7s} n={samples}")
        result = result_line(run)
    finally:
        sampler.stop()
        if run.tracer:
            run.tracer.close()
        if run.spark is not None:
            run.spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
