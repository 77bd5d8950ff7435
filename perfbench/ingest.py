"""Ingest workload: the reference job (four branches, staged MERGE
sinks into an embedded DuckDB file) fed from JSON text files.

``ingest_backlog`` starts the stream on a small warm-up file, then
releases seeded backlog chunks one at a time, each once every branch
has committed the previous one (closed loop).

A file's commit time in one branch is the modification time of
``<checkpoint>/<branch>/commits/<batch>``, where ``<batch>`` is the
batch whose file-source log (``<checkpoint>/<branch>/sources/0/``)
lists the file.  A file is committed when all branches have committed
it; its latency is the latest of those commit times minus its due time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from harness import HostSpeed, Tracer, live_heap_mb, metric, percentile

BRANCHES = ("transactions", "sales_per_category", "sales_per_day", "sales_per_month")
AGG_BRANCHES = BRANCHES[1:]

WARM_EVENTS = 500  # the file the stream starts on
BACKLOG_EVENTS = 40_000  # per drain
BACKLOG_FILES = 16  # per drain
BACKLOG_DAYS = 730
# full-size drains before the measured ones: drain CPU fell from 17.6 s
# to 9.3 s over the first four drains while the JVM compiled hot code
WARM_DRAINS = 2
MIN_DRAINS = 3
LOCAL1_EVENTS = 10_000
DRAIN_TIMEOUT_S = 60.0


# ------------------------------------------------------------ latency join

def source_log(branch_dir: str) -> dict[str, int]:
    """File name -> batch id, from one query's file-source log
    (plain batch files and ``.compact`` files alike)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(branch_dir, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines[1:]:  # line 0 is the log version
            if line.strip():
                entry = json.loads(line)
                out[entry["path"].rsplit("/", 1)[-1]] = int(entry["batchId"])
    return out


def commit_log(branch_dir: str) -> dict[int, float]:
    """Batch id -> commit time (mtime of the commit-log entry)."""
    out: dict[int, float] = {}
    for path in glob.glob(os.path.join(branch_dir, "commits", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            try:
                out[int(base)] = os.stat(path).st_mtime
            except FileNotFoundError:
                continue
    return out


def file_commits(ckpt_root: str, branches=BRANCHES) -> dict[str, dict[str, tuple[int, float | None]]]:
    """branch -> file -> (batch id, commit time or None if uncommitted)."""
    out = {}
    for b in branches:
        bdir = os.path.join(ckpt_root, b)
        files, commits = source_log(bdir), commit_log(bdir)
        out[b] = {f: (batch, commits.get(batch)) for f, batch in files.items()}
    return out


def latency_join(due: dict[str, float], ckpt_root: str, branches=BRANCHES):
    """Per-file latency (latest branch commit - due time) for files every
    branch has committed, and the sorted list of files some branch has
    not committed (the failed operations)."""
    per_branch = file_commits(ckpt_root, branches)
    latency, failed = {}, []
    for name, t_due in due.items():
        times = [per_branch[b].get(name, (None, None))[1] for b in branches]
        if any(t is None for t in times):
            failed.append(name)
        else:
            latency[name] = max(times) - t_due
    return latency, sorted(failed)


# ------------------------------------------------------------ instrumentation

class TimedConnection:
    """DuckDB connection proxy that times ``execute`` (the MERGE)."""

    def __init__(self, conn, stats: "SinkStats", tracer: Tracer):
        self._conn, self._stats, self._tracer = conn, stats, tracer

    def execute(self, *args, **kwargs):
        # trace id None: inherit the enclosing write_batch span's epoch
        with self._tracer.span("streaming.sinks.merge", None):
            t0 = time.perf_counter()
            try:
                return self._conn.execute(*args, **kwargs)
            finally:
                self._stats.merges.append((time.time(), time.perf_counter() - t0))

    def __getattr__(self, name):
        return getattr(self._conn, name)


class SinkStats:
    """Appended to from the four queries' foreachBatch threads."""

    def __init__(self):
        self.calls: list[tuple[str, int, float, float]] = []  # branch, epoch, end, seconds
        self.merges: list[tuple[float, float]] = []  # end, seconds
        self.failed = 0
        self.lock = threading.Lock()


class TimedSink:
    """Wraps a StagedMergeSink so the runner's foreachBatch calls are
    timed and traced per (branch, epoch)."""

    def __init__(self, sink, branch: str, stats: SinkStats, tracer: Tracer):
        self.sink, self.branch, self.stats, self.tracer = sink, branch, stats, tracer

    def foreach_batch(self):
        inner = self.sink.foreach_batch()

        def call(batch_df, epoch_id):
            with self.tracer.span("streaming.sinks.write_batch", f"epoch-{epoch_id}",
                                  branch=self.branch):
                t0 = time.perf_counter()
                try:
                    inner(batch_df, epoch_id)
                except Exception:
                    with self.stats.lock:
                        self.stats.failed += 1
                    raise
                finally:
                    self.stats.calls.append(
                        (self.branch, epoch_id, time.time(), time.perf_counter() - t0)
                    )

        return call


class Pipeline:
    """The reference job over a text-file source directory, built from
    the program's public entry points exactly as ``job.py --source file
    --sink staged --jdbc-url duckdb:///...`` assembles it."""

    def __init__(self, spark, run_dir: str, tag: str, tracer: Tracer, run_trace: str):
        import duckdb

        from flink_ecommerce_spark.job import SINK_COLUMNS
        from flink_ecommerce_spark.sources.kafka import parse_transactions
        from flink_ecommerce_spark.streaming import ddl
        from flink_ecommerce_spark.streaming.runner import StreamingJob, reference_branches
        from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

        self.root = os.path.join(run_dir, tag)
        self.src = os.path.join(self.root, "src")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.db_path = os.path.join(self.root, "sink.duckdb")
        os.makedirs(self.src, exist_ok=True)
        self.tracer, self.run_trace = tracer, run_trace
        self.stats = SinkStats()

        def connection_factory():
            return TimedConnection(duckdb.connect(self.db_path), self.stats, tracer)

        ddl.create_sink_tables(lambda: duckdb.connect(self.db_path))

        def sink_factory(branch):
            sink = StagedMergeSink(
                connection_factory,
                branch.name,
                SINK_COLUMNS[branch.name],
                list(branch.key_cols),
                stage_dir=os.path.join(self.root, "stage", branch.name),
                dialect="on_conflict",
            )
            return TimedSink(sink, branch.name, self.stats, tracer)

        # every input directory is src/in_<name>/: a backlog is released
        # by renaming its whole staging directory in at once
        raw = spark.readStream.format("text").load(os.path.join(self.src, "in_*"))
        self.job = StreamingJob(
            source=parse_transactions(raw),
            sink_factory=sink_factory,
            branches=reference_branches(),
            checkpoint_root=self.ckpt,
        )

    def input_dir(self, name: str) -> str:
        return os.path.join(self.src, f"in_{name}")

    def start(self) -> None:
        with self.tracer.span("streaming.runner.start", self.run_trace):
            self.job.start()

    def wait_committed(self, names, deadline: float, ready=lambda: True) -> None:
        """Poll the checkpoint logs until every named file is committed by
        every branch (and ``ready()``), a query dies, or the deadline."""
        names = set(names)
        while time.time() < deadline:
            for q in self.job.queries:
                if q.exception() is not None:
                    return
            if ready():
                commits = file_commits(self.ckpt)
                if all(
                    all(commits[b].get(n, (0, None))[1] is not None for b in BRANCHES)
                    for n in names
                ):
                    return
            time.sleep(0.05)

    def progress(self) -> dict[str, list[dict]]:
        return {q.name: list(q.recentProgress) for q in self.job.queries}

    def stop(self) -> None:
        self.job.stop()


def write_files(directory: str, prefix: str, chunks: list[list[str]]) -> list[str]:
    from gen import write_file

    os.makedirs(directory, exist_ok=True)
    names = []
    for i, lines in enumerate(chunks):
        name = f"{prefix}-{i:05d}.json"
        write_file(os.path.join(directory, name), lines)
        names.append(name)
    return names


def split(lines: list[str], parts: int) -> list[list[str]]:
    k = -(-len(lines) // parts)
    return [lines[i:i + k] for i in range(0, len(lines), k)]


# ------------------------------------------------------------ correctness

_JSON_COLUMNS = (
    "{transactionId: 'VARCHAR', productId: 'VARCHAR', productName: 'VARCHAR', "
    "productCategory: 'VARCHAR', productPrice: 'DOUBLE', productQuantity: 'INTEGER', "
    "productBrand: 'VARCHAR', totalAmount: 'DOUBLE', currency: 'VARCHAR', "
    "customerId: 'VARCHAR', transactionDate: 'VARCHAR', paymentMethod: 'VARCHAR'}"
)


def check_sink(db_path: str, json_files: list[str]) -> list[str]:
    """Compare the final sink tables with a DuckDB recomputation over the
    generated JSON: one ``transactions`` row per distinct id, and running
    sums (every delivered event, re-deliveries included) within a cent."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        con.execute("SET TimeZone = 'UTC'")
        files = ", ".join(f"'{f}'" for f in json_files)
        con.execute(
            f"CREATE TEMP TABLE ev AS SELECT *, "
            f"CAST(CAST(transactionDate AS TIMESTAMPTZ) AS TIMESTAMP) AS ts "
            f"FROM read_json([{files}], format='newline_delimited', columns={_JSON_COLUMNS})"
        )
        problems = []
        n_ids, n_rows = con.execute(
            "SELECT count(DISTINCT transactionId), (SELECT count(*) FROM transactions) FROM ev"
        ).fetchone()
        if n_ids != n_rows:
            problems.append(f"transactions: {n_rows} rows for {n_ids} distinct ids")
        bad = con.execute(
            """
            WITH e AS (SELECT DISTINCT * EXCLUDE (transactionDate) FROM ev)
            SELECT count(*) FROM e FULL JOIN transactions t ON t.transaction_id = e.transactionId
            WHERE t.transaction_id IS NULL OR e.transactionId IS NULL
               OR t.product_id <> e.productId OR t.product_name <> e.productName
               OR t.product_category <> e.productCategory
               OR t.product_quantity <> e.productQuantity OR t.product_brand <> e.productBrand
               OR t.currency <> e.currency OR t.customer_id <> e.customerId
               OR t.payment_method <> e.paymentMethod
               OR abs(t.product_price - e.productPrice) > 0.005
               OR abs(t.total_amount - e.totalAmount) > 0.005
               OR epoch_ms(t.transaction_date) <> epoch_ms(e.ts)
            """
        ).fetchone()[0]
        if bad:
            problems.append(f"transactions: {bad} rows differ from the generated events")
        aggs = {
            "sales_per_category": (
                "CAST(ts AS DATE) AS transaction_date, productCategory AS category",
                ("transaction_date", "category"),
            ),
            "sales_per_day": ("CAST(ts AS DATE) AS transaction_date", ("transaction_date",)),
            "sales_per_month": (
                "CAST(year(ts) AS INTEGER) AS year, CAST(month(ts) AS INTEGER) AS month",
                ("year", "month"),
            ),
        }
        for table, (keys, key_cols) in aggs.items():
            on = " AND ".join(f"t.{k} = x.{k}" for k in key_cols)
            bad = con.execute(
                f"""
                WITH x AS (SELECT {keys}, sum(totalAmount) AS total_sales FROM ev GROUP BY ALL)
                SELECT count(*) FROM x FULL JOIN {table} t ON {on}
                WHERE t.total_sales IS NULL OR x.total_sales IS NULL
                   OR abs(t.total_sales - x.total_sales) > 0.01
                """
            ).fetchone()[0]
            if bad:
                problems.append(f"{table}: {bad} keys differ from the recomputation")
        return problems
    finally:
        con.close()


# ------------------------------------------------------------ per-layer

def _ms(p: dict, key: str) -> float:
    return p.get("durationMs", {}).get(key, 0) / 1000.0


def _epoch_s(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def runner_layers(progress: dict[str, list[dict]], since: float, all_events: int,
                  due: dict[str, float], ckpt_root: str) -> dict[str, float]:
    """streaming.runner / sources / state numbers from recentProgress for
    the data batches that started at or after ``since``; the input-row
    ratio covers every batch and every delivered event."""
    data = {
        b: [p for p in ps if p.get("numInputRows", 0) > 0 and _epoch_s(p["timestamp"]) >= since - 1e-3]
        for b, ps in progress.items()
    }
    allp = [p for ps in data.values() for p in ps]
    start_of = {
        b: {p["batchId"]: _epoch_s(p["timestamp"]) for p in ps}
        for b, ps in progress.items()
    }
    lags = []
    for b, files in file_commits(ckpt_root).items():
        for name, (batch, _) in files.items():
            if name in due and batch in start_of.get(b, {}):
                lags.append(start_of[b][batch] - due[name])
    state_rows = state_bytes = 0
    for b in AGG_BRANCHES:
        ps = progress.get(b) or []
        if ps:
            for op in ps[-1].get("stateOperators", []):
                state_rows += op.get("numRowsTotal", 0)
                state_bytes += op.get("memoryUsedBytes", 0)
    triggers = [_ms(p, "triggerExecution") for p in allp]
    return {
        "sources.input_rows_per_event": sum(
            p.get("numInputRows", 0) for ps in progress.values() for p in ps
        ) / all_events,
        "sources.lag_s_p50": percentile(lags, 50) if lags else 0.0,
        "streaming.runner.batches": len(allp) / len(progress),
        "streaming.runner.trigger_s_p50": percentile(triggers, 50) if triggers else 0.0,
        "streaming.runner.planning_s": sum(_ms(p, "queryPlanning") for p in allp),
        "streaming.runner.offset_log_s": sum(_ms(p, "latestOffset") + _ms(p, "walCommit") for p in allp),
        "streaming.runner.add_batch_s": sum(_ms(p, "addBatch") for p in allp),
        "streaming.state_rows": state_rows,
        "streaming.state_bytes": state_bytes,
    }


def sink_layers(stats: SinkStats, since: float) -> dict[str, float]:
    """Sink busy time for calls started at or after ``since``; the MERGE
    count per foreachBatch call (below 1 when batches are empty) over
    the whole run."""
    calls = [c for c in stats.calls if c[2] - c[3] >= since - 1e-3]
    merges = [m for m in stats.merges if m[0] - m[1] >= since - 1e-3]
    secs = [c[3] for c in calls]
    return {
        "streaming.sinks.write_batch_s": sum(secs),
        "streaming.sinks.write_batch_s_p50": percentile(secs, 50) if secs else 0.0,
        "streaming.sinks.merge_s": sum(m[1] for m in merges),
        "streaming.sinks.merges_per_batch": len(stats.merges) / max(len(stats.calls), 1),
        "streaming.sinks.failed_batches": stats.failed,
    }


def static_decomposition(spark, run_dir: str, json_files: list[str], tracer: Tracer,
                         trace: str) -> dict:
    """Traced-run split of the backlog's per-event cost into the batch
    parse, the three aggregations, and static sink writes."""
    import duckdb

    from flink_ecommerce_spark.job import SINK_COLUMNS
    from flink_ecommerce_spark.sources.kafka import parse_transactions
    from flink_ecommerce_spark.streaming import ddl
    from flink_ecommerce_spark.streaming.runner import reference_branches
    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    out = {}
    with tracer.span("sources.parse", trace):
        t0 = time.perf_counter()
        parse_transactions(spark.read.text(json_files)).write.format("noop").mode("overwrite").save()
        out["sources.parse_s"] = time.perf_counter() - t0
    parsed = parse_transactions(spark.read.text(json_files)).cache()
    parsed.count()
    branches = reference_branches()
    with tracer.span("plans.sales.aggs", trace):
        t0 = time.perf_counter()
        for b in branches[1:]:
            b.plan(parsed).write.format("noop").mode("overwrite").save()
        out["plans.sales.aggs_s"] = time.perf_counter() - t0
    db = os.path.join(run_dir, "static.duckdb")
    ddl.create_sink_tables(lambda: duckdb.connect(db))
    with tracer.span("streaming.sinks.static_write", trace):
        t0 = time.perf_counter()
        for b in branches:
            StagedMergeSink(
                lambda: duckdb.connect(db), b.name, SINK_COLUMNS[b.name], list(b.key_cols),
                stage_dir=os.path.join(run_dir, "static_stage", b.name),
            ).write_batch(b.plan(parsed), 0)
        out["streaming.sinks.static_write_s"] = time.perf_counter() - t0
    parsed.unpersist()
    return out


# ------------------------------------------------------------ workload

def drain_backlog(spark, run_dir: str, tag: str, seed: int, chunk_events: int, seconds: float,
                  tracer: Tracer, run_trace: str, speed: HostSpeed, on_ready=None) -> dict:
    """Closed-loop drains: start the job on a small warm-up file, then
    release seeded backlog chunks one at a time, each once every branch
    has committed the previous one.  The first WARM_DRAINS chunks are
    warm-up; measured chunks are released until ``seconds`` have gone
    by (at least MIN_DRAINS).  Each chunk is generated while the job is
    idle, before its release, so neither its drain time nor its CPU
    counts it; the host-speed probe runs then too."""
    from gen import EventStream, backlog_start_ms

    pipe = Pipeline(spark, run_dir, tag, tracer, run_trace)
    stream = EventStream(seed)
    start_ms = backlog_start_ms()
    generate_s = 0.0

    def generate(name: str, n: int, parts: int) -> tuple[str, list[str]]:
        nonlocal generate_s
        t0 = time.perf_counter()
        with tracer.span("generate", run_trace):
            staged = os.path.join(pipe.src, f"staged_{name}")
            names = write_files(staged, name, split(stream.backlog_lines(n, start_ms, BACKLOG_DAYS), parts))
        generate_s += time.perf_counter() - t0
        return staged, names

    due: dict[str, float] = {}
    files: list[str] = []

    def release(name: str, n: int, parts: int, phase: str) -> tuple[float, float] | None:
        """Drain time and host-speed factor of one chunk; None if a file
        was not committed by every branch in time."""
        staged, names = generate(name, n, parts)
        factor = speed.probe(spark, phase, times=3)
        t0 = time.time()
        os.rename(staged, pipe.input_dir(name))
        pipe.wait_committed(names, t0 + DRAIN_TIMEOUT_S)
        latency, failed = latency_join({n: t0 for n in names}, pipe.ckpt)
        due.update({n: t0 for n in names})
        files.extend(os.path.join(pipe.input_dir(name), n) for n in names)
        return None if failed else (max(latency.values()), factor)

    # the stream starts on the warm-up file, released before the job starts
    staged, warm = generate("warm", WARM_EVENTS, 1)
    os.rename(staged, pipe.input_dir("warm"))
    files.extend(os.path.join(pipe.input_dir("warm"), n) for n in warm)
    pipe.start()
    pipe.wait_committed(warm, time.time() + 120)
    ok = all(release(f"warmup{k}", chunk_events, BACKLOG_FILES, "setup") for k in range(WARM_DRAINS))
    setup_generate_s = generate_s
    if on_ready:
        on_ready()
    since = time.time()
    drains: list[float] = []
    factors: list[float] = []
    while ok and (len(drains) < MIN_DRAINS or time.time() - since < seconds):
        r = release(f"backlog{len(drains):03d}", chunk_events, BACKLOG_FILES, "measure")
        if r is None:
            break
        drains.append(r[0])
        factors.append(r[1])
    _, failed = latency_join({**due, **{n: 0.0 for n in warm}}, pipe.ckpt)
    progress = pipe.progress()
    heap_mb = live_heap_mb(spark)
    pipe.stop()
    measured = {n: t for n, t in due.items() if t >= since}
    return {
        "pipe": pipe, "since": since, "drains": drains, "factors": factors,
        "failed": failed, "progress": progress, "files": files, "events": WARM_EVENTS + (len(due) // BACKLOG_FILES) * chunk_events,
        "due": measured, "setup_generate_s": setup_generate_s, "heap_mb": heap_mb,
    }


def run_backlog(spark, ctx) -> None:
    r = drain_backlog(spark, ctx.run.path, "backlog", ctx.seed, BACKLOG_EVENTS, ctx.seconds,
                      ctx.tracer, ctx.trace_id, ctx.speed, on_ready=ctx.mark_setup_done)
    ctx.setup_excluded_s += r["setup_generate_s"]
    ctx.heap_mb = r["heap_mb"]
    ctx.attempted, ctx.failed = len(r["files"]), len(r["failed"])
    if r["failed"]:
        ctx.problems.append(f"{len(r['failed'])} files not committed by every branch")
    else:
        ctx.problems += check_sink(r["pipe"].db_path, r["files"])
    if not r["drains"]:
        return
    # the files of one drain commit in one batch, so a drain, not a file,
    # is one latency sample
    events = len(r["drains"]) * BACKLOG_EVENTS
    ctx.notes.update({
        "drains": len(r["drains"]), "drain_s": r["drains"],
        "events_per_drain": BACKLOG_EVENTS, "files_per_drain": BACKLOG_FILES,
        "warmup_drains": WARM_DRAINS, "drain_p50_s": percentile(r["drains"], 50),
        "drain_max_s": max(r["drains"]), "drain_host_speed": r["factors"],
    })
    scaled_s = sum(d / f for d, f in zip(r["drains"], r["factors"]))
    ctx.e2e = {"throughput_per_s": metric(events / scaled_s, "1/s")}
    ctx.aliases = {"backlog_events_per_s": metric(events / sum(r["drains"]), "1/s")}
    if ctx.tracer.enabled:
        layers = runner_layers(r["progress"], r["since"], r["events"], r["due"], r["pipe"].ckpt)
        layers.update(sink_layers(r["pipe"].stats, r["since"]))
        backlog_files = [f for f in r["files"] if "/in_backlog" in f]
        layers.update(static_decomposition(spark, ctx.run.path, backlog_files, ctx.tracer,
                                           ctx.trace_id))
        ctx.layers.update(layers)
        ctx.reference_run = lambda: local1_reference(ctx)


def local1_reference(ctx) -> None:
    """Single-threaded local[1] drains of smaller chunks from the same
    generator: a reference point for the traced output only."""
    from harness import spark_session, stop_spark

    spark = spark_session(ctx.run, "perfbench-local1", cpus=1)
    try:
        r = drain_backlog(spark, ctx.run.path, "local1", ctx.seed, LOCAL1_EVENTS, 0,
                          Tracer(False), ctx.trace_id, HostSpeed())
    finally:
        stop_spark(spark)
    if r["drains"] and not r["failed"]:
        ctx.layers["reference.local1_events_per_s"] = LOCAL1_EVENTS / percentile(r["drains"], 50)
