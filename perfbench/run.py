"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Each run builds a fresh ``local[nproc]``
session, runs one workload, checks every answer outside the timed region
and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns the Spark event log on and
reports the per-layer metrics instead.  All measurement is taken from
outside the engine: spans around the benchmark's own calls into each
layer, job groups set from the benchmark's thread, the event log and
``StreamingQuery.recentProgress``.  See perfbench/README.md for the
workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import eventlog
import stats
from gen import make_posts

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The fixed sf0.1 input tables (seed 42, read-only) every workload reads:
#: beside the sf0.001 tables the driver contract names; set by main().
DATA_DIR = ""
#: Per process, so two runs in one checkout never remove each other's files.
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")

#: Driver-heavy iterative entries: pins, collects and re-analysis per loop
#: round leave 48-65% of their warm wall with no Spark job running (traced
#: at sf0.1 on 4 cores).  The two with the highest driver-only share among
#: ROADMAP item 2's targets whose DuckDB oracle answers in under a second.
ITERATIVE = (
    "text_bpe_fertility_by_lang",
    "emb_ivf_recall_vs_nprobe",
)
#: Single-pass entries whose time sits inside tasks (driver-only 25-29% of
#: the warm wall).  Outside the timed budget of BENCHMARK.json: run by
#: hand as the control that a driver-loop change leaves unchanged.
SCAN = (
    "q1_pricing_summary",
    "q21_suppliers_kept_waiting",
    "events_daily_type_rollup",
    "events_sessionize_30m",
    "window_topk_orders_per_customer",
)

#: Warm passes per run at least, so a run's warm figure is never a single
#: sample.
MIN_WARM_PASSES = 2

#: stream_upsert: offered load and shape.
POSTS_PER_S = 10
POST_EVENTS = 100
WINDOW_S = 2
STATE_PARTITIONS = 8
READ_PERIOD_S = 2.0
#: The first seconds of offered load warm the stream (the JVM compiles the
#: stateful aggregation and the merge during the first micro-batches); they
#: are checked for correctness but not timed.
STREAM_WARMUP_S = 14
DRAIN_TIMEOUT_S = 30.0
#: A run whose generator sent any POST later than this after its due time
#: measured an overloaded generator, not the engine: it is invalid.
MAX_GEN_LATE_S = 1.0

class InvalidRun(RuntimeError):
    """The run measured something other than the engine; print no result."""


@dataclass
class Span:
    """One call into a layer: name, wall interval (epoch s), parent, run id."""

    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; job groups set from the calling thread so the
    event log can attribute every Spark job to the span that launched it."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.sc = None  # set once the traced run has a session
        self.spans: list[Span] = []
        self._lock = threading.Lock()  # the stream callback and reader both open spans

    def begin(self, name: str, parent: int | None = None, **attrs) -> int:
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, parent=parent, run=self.run_id, attrs=attrs))
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{idx}", name)
        self.spans[idx].start = time.time()
        return idx

    def end(self, idx: int) -> Span:
        sp = self.spans[idx]
        sp.end = time.time()
        return sp

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    """High-water RSS of this process plus every descendant (the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# -- session --------------------------------------------------------------------


def start_session(trace: bool, tracer: Tracer) -> tuple:
    """Build the engine's session and warm the JVM; returns (spark,
    get_spark seconds, warm-up seconds)."""
    from event_streaming_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and Python workers
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(WORK, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    s = tracer.begin("session.get_spark")
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    get_s = tracer.end(s).wall
    if trace:
        tracer.sc = spark.sparkContext
    w = tracer.begin("session.warmup")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(DATA_DIR, "region.parquet")).count()
    warm_s = tracer.end(w).wall
    return spark, get_s, warm_s


def stop_engine() -> None:
    """Stop any live session and wait for its JVM to exit: the JVM leaves
    when the pipe to its stdin closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


# -- catalog workloads ---------------------------------------------------------------


def oracle_answers(names: tuple[str, ...]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each entry's DuckDB oracle answer over the same parquet tables."""
    import duckdb

    from event_streaming_spark.plans import REGISTRY
    from event_streaming_spark.plans.catalog import TABLES

    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory='{os.path.join(WORK, 'duckdb')}'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(REGISTRY[name].oracle)
            out[name] = (list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def evaluate(spark, name: str, tracer: Tracer, parent: int, collect: bool) -> tuple:
    """One catalog evaluation: build the plan, then run it into a noop sink
    or collect it.  Returns (build span, execute span, (columns, rows) or None)."""
    from event_streaming_spark.plans import REGISTRY

    b = tracer.begin("plans.build", parent=parent, query=name)
    try:
        df = REGISTRY[name].fn(spark, DATA_DIR)
    finally:
        tracer.end(b)
    e = tracer.begin("plans.execute", parent=parent, query=name)
    try:
        if collect:
            return b, e, (df.columns, [tuple(r) for r in df.collect()])
        df.write.format("noop").mode("overwrite").save()
        return b, e, None
    finally:
        tracer.end(e)


def run_catalog(names: tuple[str, ...], args) -> tuple:
    tracer = Tracer(f"{args.workload}-{args.seed}")
    tally = stats.Tally()
    t_setup = time.time()
    spark, get_s, warm_s = start_session(args.trace, tracer)
    setup_s = time.time() - t_setup
    rng = random.Random(args.seed)
    passes: list[dict] = []  # {"span": idx, "evals": [(name, build idx, exec idx)]}
    answers: dict[str, tuple[list[str], list[tuple]]] = {}
    first = list(names)
    rng.shuffle(first)

    def run_pass(cold: bool) -> None:
        # rotate the seeded order so every entry leads a pass equally often
        k = len(passes) % len(first)
        p = tracer.begin("plans.pass", cold=cold)
        evals = []
        for name in first[k:] + first[:k]:
            try:
                b, e, rows = evaluate(spark, name, tracer, p, collect=cold)
            except Exception as exc:  # noqa: BLE001 - a failing query is a counted op
                tally.fail(f"{name} raised {type(exc).__name__}: {str(exc)[:200]}")
                continue
            evals.append((name, b, e))
            if cold:  # the cold pass collects: its rows are the checked answer
                answers[name] = rows
            else:
                tally.ok()
        tracer.end(p)
        passes.append({"span": p, "evals": evals})

    run_pass(cold=True)
    t0 = time.time()  # the measured window opens with the first warm pass
    while len(passes) <= MIN_WARM_PASSES or time.time() - t0 < args.seconds:
        run_pass(cold=False)
    rss = peak_rss_mb()
    spark.stop()

    for name, (want_cols, want_rows) in oracle_answers(tuple(answers)).items():
        diff = stats.compare_answers(*answers[name], want_cols, want_rows)
        if diff is None:
            tally.ok()
        else:
            tally.fail(f"{name} answered wrong: {diff}")

    sp = tracer.spans
    warm = passes[1:]
    per_query: dict[str, list[float]] = {n: [] for n in names}
    for p in warm:
        for name, b, e in p["evals"]:
            per_query[name].append(sp[b].wall + sp[e].wall)
    if not any(per_query.values()):
        raise InvalidRun("no warm evaluation succeeded")
    e2e = {
        "setup_s": setup_s,
        "result_p50_s": stats.median([sp[p["span"]].wall for p in warm]),
        "result_tail_s": sp[passes[0]["span"]].wall,
        "request_p50_s": stats.geomean([stats.median(v) for v in per_query.values() if v]),
    }
    layers = {}
    if args.trace:
        layers = catalog_layers(tracer, warm, per_query, tally, names)
        layers.update({"session.get_spark_s": get_s, "session.warmup_s": warm_s,
                       "trace.result_p50_s": e2e["result_p50_s"], "memory.peak_rss_mb": rss})
    return tracer, tally, e2e, layers


def catalog_layers(tracer: Tracer, warm: list[dict], per_query, tally, names) -> dict:
    """Per-layer split of the warm passes from the event log, per pass."""
    jobs, stages = eventlog.parse(eventlog.read_events(os.path.join(WORK, "eventlog")))
    by_group: dict[str, list[eventlog.Job]] = {}
    for j in jobs.values():
        if j.group:
            by_group.setdefault(j.group, []).append(j)
    sp = tracer.spans
    n = len(warm)
    acc = Counter()
    q_driver: dict[str, list[float]] = {q: [] for q in names}
    warm_jobs: list[eventlog.Job] = []
    for p in warm:
        for name, b, e in p["evals"]:
            q_drv = 0.0
            for idx, phase in ((b, "build"), (e, "execute")):
                s = sp[idx]
                js = [j for j in by_group.get(f"span-{idx}", []) if j.end is not None]
                iv = [(j.start, j.end) for j in js]
                drv = eventlog.driver_only(s.start, s.end, iv)
                acc[f"{phase}_s"] += s.wall
                acc["driver_only_s"] += drv
                acc["job_wall_s"] += eventlog.job_time_in(s.start, s.end, iv)
                q_drv += drv
                warm_jobs += js
            q_driver[name].append(q_drv)
    if not warm_jobs:
        tally.fail("traced run attributed zero Spark jobs to the benchmark's spans")
    groups = {j.group for j in warm_jobs}
    st = [s for s in stages.values() if s.group in groups and s.tasks > 0]
    pins = [j for j in warm_jobs
            if any(s.startswith("localCheckpoint at") for s in j.stage_names)]
    actions = [j for j in warm_jobs if "event_streaming_spark/operators/" in j.call_site]
    pass_wall = sum(sp[p["span"]].wall for p in warm) / n
    job_wall = acc["job_wall_s"] / n
    driver = acc["driver_only_s"] / n
    task_s = sum(s.task_s for s in st) / n
    accounted = (driver + job_wall) / pass_wall
    if abs(accounted - 1.0) > 0.05:
        tally.fail(f"driver-only + job wall = {accounted:.3f} of the pass wall (outside 5%)")
    out = {
        "plans.mix_wall_s": pass_wall,
        "plans.build_s": acc["build_s"] / n,
        "plans.execute_s": acc["execute_s"] / n,
        "plans.driver_only_s": driver,
        "plans.job_wall_s": job_wall,
        "plans.driver_only_share": driver / pass_wall,
        "plans.accounted_share": accounted,
        "plans.jobs": len(warm_jobs) / n,
        "plans.stages": len(st) / n,
        "plans.tasks": sum(s.tasks for s in st) / n,
        "plans.task_s": task_s,
        "plans.task_cpu_s": sum(s.task_cpu_s for s in st) / n,
        "plans.gc_s": sum(s.gc_s for s in st) / n,
        "plans.slot_util": task_s / (job_wall * nproc()) if job_wall else 0.0,
        "plans.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in st) / n,
        "plans.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st) / n,
        "plans.spill_bytes": sum(s.spill_bytes for s in st) / n,
        "operators.pin_jobs": len(pins) / n,
        "operators.pin_s": eventlog.union_length([(j.start, j.end) for j in pins]) / n,
        "operators.action_jobs": len(actions) / n,
        "operators.action_s": eventlog.union_length([(j.start, j.end) for j in actions]) / n,
    }
    for q in names:
        if per_query[q]:
            out[f"plans.{q}.wall_s"] = stats.median(per_query[q])
            out[f"plans.{q}.driver_only_s"] = stats.median(q_driver[q])
    return out


# -- stream_upsert -------------------------------------------------------------------


def stream_aggregate(df):
    from pyspark.sql import functions as F

    return (
        df.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", f"{WINDOW_S} seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )


def expected_table(posts: list[list[dict]], acked: list[int]) -> dict[str, tuple[int, float]]:
    """The same windowed aggregate recomputed over every acked event."""
    from datetime import datetime, timezone

    out: dict[str, list] = {}
    for i in acked:
        for ev in posts[i]:
            t = datetime.fromisoformat(ev["ts"]).replace(tzinfo=timezone.utc).timestamp()
            w = int(t // WINDOW_S) * WINDOW_S
            cell = out.setdefault(f"{w}|{ev['event_type']}", [0, 0.0])
            cell[0] += 1
            cell[1] += ev["value"]
    return {k: (c, v) for k, (c, v) in out.items()}


def batch_of_events(checkpoint: str) -> tuple[dict[int, int], list[tuple[int, str]]]:
    """event id → micro-batch that read it, from the file source's log in
    the query checkpoint and the event ids inside each logged file.  Also
    returns the (batch, path) of every logged file that no longer exists."""
    import pyarrow.parquet as pq

    src = os.path.join(checkpoint, "sources", "0")
    file_batch: dict[str, int] = {}
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    path = rec["path"].removeprefix("file://")
                    file_batch[path] = min(rec["batchId"], file_batch.get(path, rec["batchId"]))
    out: dict[int, int] = {}
    vanished = []
    for path, b in sorted(file_batch.items(), key=lambda kv: -kv[1]):
        try:
            ids = pq.read_table(path, columns=["event_id"]).column(0).to_pylist()
        except FileNotFoundError:
            vanished.append((b, path))
            continue
        for eid in ids:  # an event read twice counts from its first batch
            out[eid] = b
    return out, vanished


class Upserter:
    """The consumer callback: merge each micro-batch's changed windows into
    the versioned store, keyed by window|type, and note when it committed."""

    def __init__(self, store, tracer: Tracer, sc=None) -> None:
        self.store = store
        self.tracer = tracer
        self.sc = sc  # set only in the traced run
        self.commits: dict[int, float] = {}
        self.spans: list[int] = []

    def __call__(self, _ctx, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        # Runs on the stream-execution thread: the traced run saves and
        # restores its job group, which the query's own jobs carry.
        keys = ("spark.jobGroup.id", "spark.job.description")
        saved = [self.sc.getLocalProperty(k) for k in keys] if self.sc else []
        m = self.tracer.begin("sources.versioned.merge", batch=batch_id)
        try:
            wsec = F.unix_timestamp(F.col("window.start"))
            upd = batch_df.select(
                F.concat_ws("|", wsec.cast("string"), "event_type").alias("k"),
                wsec.alias("wsec"), "event_type", "n", "v",
            )
            self.store.merge(upd, key="k", txn=f"batch-{batch_id}")
            self.commits[batch_id] = time.time()
        finally:
            self.tracer.end(m)
            self.spans.append(m)
            for k, v in zip(keys, saved):
                self.sc.setLocalProperty(k, v)


def run_stream(args) -> tuple:
    from pyspark.sql import functions as F

    from event_streaming_spark.sources.versioned import VersionedStore
    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.gateway import ApiGateway

    tracer = Tracer(f"{args.workload}-{args.seed}")
    tally = stats.Tally()
    t_setup = time.time()
    spark, get_s, warm_s = start_session(args.trace, tracer)
    agency = EventsAgency(spark, root=os.path.join(WORK, "agency"), log_format="parquet")
    gateway = ApiGateway(agency, port=0).start()
    store = VersionedStore(spark, os.path.join(WORK, "store"))
    ctx = agency.topic("bench", "events")
    upsert = Upserter(store, tracer, spark.sparkContext if args.trace else None)
    c = tracer.begin("streaming.consumer_start")
    query = ctx.consume(upsert, once=False, transform=stream_aggregate,
                        output_mode="update", state_partitions=STATE_PARTITIONS)
    tracer.end(c)
    setup_s = time.time() - t_setup

    n_posts = int((STREAM_WARMUP_S + args.seconds) * POSTS_PER_S)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed),
         "--port", str(gateway.address[1]), "--seconds", str(STREAM_WARMUP_S + args.seconds),
         "--posts-per-s", str(POSTS_PER_S), "--post-events", str(POST_EVENTS),
         "--connections", str(min(nproc(), 4)), "--start", str(time.time() + 0.5)],
        stdout=subprocess.PIPE, text=True,
    )
    reads: list[tuple[float, int]] = []
    dead = None
    try:
        next_read = time.time() + READ_PERIOD_S
        while gen.poll() is None:
            if query.exception() is not None or not query.isActive:
                dead = str(query.exception())
                break
            time.sleep(max(0.0, next_read - time.time()))
            next_read += READ_PERIOD_S
            v = store.latest_version()
            if v < 0:
                continue
            r = tracer.begin("sources.versioned.snapshot_read", version=v)
            try:
                n_files = len(store.files(v))
                store.read(v).agg(F.sum("n")).collect()
                reads.append((tracer.end(r).wall, n_files))
                tally.ok()
            except Exception as exc:  # noqa: BLE001 - a failed read is a counted op
                tracer.end(r)
                tally.fail(f"snapshot read raised {type(exc).__name__}: {str(exc)[:200]}")
    finally:
        if gen.poll() is None:
            gen.kill()
        out, _ = gen.communicate()
    sent = json.loads(out)["posts"] if out.strip() else []
    posts = make_posts(args.seed, n_posts, POST_EVENTS, POSTS_PER_S)
    acked = [p["i"] for p in sent if p and p["status"] == 202]
    n_acked = len(acked) * POST_EVENTS
    for p in sent:
        if p and p["status"] != 202:
            tally.fail(f"POST {p['i']} got {p['status']} {p['error']}", POST_EVENTS)
    unsent = n_posts - sum(1 for p in sent if p)
    if unsent:
        tally.fail(f"{unsent} POSTs never sent", unsent * POST_EVENTS)

    # drain: every acked event read by a micro-batch whose merge committed
    deadline = time.time() + DRAIN_TIMEOUT_S
    while dead is None and time.time() < deadline:
        if query.exception() is not None or not query.isActive:
            dead = str(query.exception())
            break
        progress = [json.loads(p.json) for p in query.recentProgress]
        if sum(p["numInputRows"] for p in progress) >= n_acked and progress and \
                progress[-1]["batchId"] in upsert.commits:
            break
        time.sleep(0.1)
    progress = [json.loads(p.json) for p in query.recentProgress]
    if dead is None and query.exception() is not None:
        dead = str(query.exception())
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    rss = peak_rss_mb()
    query.stop()
    gateway.stop()
    if dead is not None:
        print(f"# stream query died: {dead[:2000]}", file=sys.stderr)

    final = {r["k"]: (r["n"], r["v"]) for r in store.read().select("k", "n", "v").collect()} \
        if store.latest_version() >= 0 else {}
    live = store.files()
    live_bytes = sum(os.path.getsize(f) for f in live)
    all_bytes = sum(os.path.getsize(os.path.join(store.data_dir, f))
                    for f in os.listdir(store.data_dir))
    versions = store.latest_version() + 1
    log_files = [f for f in os.listdir(ctx.log_dir) if f.endswith(".parquet")]
    log_bytes = sum(os.path.getsize(os.path.join(ctx.log_dir, f)) for f in log_files)
    batch_of, vanished = batch_of_events(ctx.checkpoint_dir)
    for b, path in vanished:
        tally.fail(f"micro-batch {b} read {os.path.basename(path)}, which the topic log "
                   "no longer holds (a publish's temp file)")
    agency.close()
    spark.stop()

    want = expected_table(posts, acked)
    missing, wrong = 0, []
    for k in want.keys() | final.keys():
        w, g = want.get(k, (0, 0.0)), final.get(k, (0, 0.0))
        if g[0] < w[0]:
            missing += w[0] - g[0]
        elif g != w:
            wrong.append(f"{k}: got {g} want {w}")
    if missing:
        tally.fail(f"{missing} acked events missing from the final table"
                   + (" (stream query died)" if dead else ""), missing)
    if wrong:
        tally.fail(f"{len(wrong)} windows differ from the batch recomputation, e.g. {wrong[0]}")
    tally.ok(n_acked - missing)

    timed = [p for p in sent if p and p["i"] >= STREAM_WARMUP_S * POSTS_PER_S]
    due = {}
    ack_at = []
    for p in timed:
        if p["status"] == 202:
            for j in range(POST_EVENTS):
                due[p["i"] * POST_EVENTS + j] = p["due"]
                ack_at.append(p["ack"])
    commits = upsert.commits
    lags, _ = stats.result_lags(due, batch_of, commits)
    late = [p["sent"] - p["due"] for p in sent if p]
    acks = [p["ack"] - p["due"] for p in timed]
    if not lags or not acks:
        raise InvalidRun(f"no result lag measured ({len(lags)} lags, {len(acks)} acks)")
    if max(late) > MAX_GEN_LATE_S:
        raise InvalidRun(f"generator ran {max(late):.3f} s late (limit {MAX_GEN_LATE_S} s)")
    timed_batches = len({batch_of[e] for e in due if e in batch_of})
    print(f"# stream_upsert: result lag over {len(lags)} events in {timed_batches} micro-batches, "
          f"{len(sent)} POSTs, {len(reads)} snapshot reads, generator late max "
          f"{max(late) * 1000:.1f} ms", file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        "result_p50_s": stats.quantile(lags, 0.5),
        "result_tail_s": stats.quantile(lags, 0.9),
        "request_p50_s": stats.quantile(acks, 0.5),
    }
    layers = {}
    if args.trace:
        data = [p for p in progress if p["numInputRows"] > 0]
        dur = lambda key: stats.median([p["durationMs"].get(key, 0) for p in data]) if data else 0.0  # noqa: E731
        merges = [tracer.spans[m].wall for m in upsert.spans]
        jobs, _ = eventlog.parse(eventlog.read_events(os.path.join(WORK, "eventlog")))
        merge_groups = {f"span-{m}" for m in upsert.spans}
        merge_jobs = [j for j in jobs.values() if j.group in merge_groups]
        if not merge_jobs:
            tally.fail("traced run attributed zero Spark jobs to the merge spans")
        commit_counts = Counter(batch_of[e] for e in due if e in batch_of)
        layers = {
            "session.get_spark_s": get_s,
            "session.warmup_s": warm_s,
            "streaming.gateway.requests": len(sent),
            "streaming.gateway.rejected": sum(1 for p in sent if p and p["status"] != 202),
            "streaming.gateway.ack_p99_ms": stats.quantile(acks, 0.99) * 1000,
            "streaming.result_lag_p99_s": stats.quantile(lags, 0.99),
            "streaming.generator.late_max_ms": max(late) * 1000,
            "streaming.agency.log_files": len(log_files),
            "streaming.agency.log_bytes": log_bytes,
            "streaming.agency.latest_offset_ms": dur("latestOffset"),
            "streaming.agency.get_batch_ms": dur("getBatch"),
            "streaming.batches": len(data),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.rows_per_batch": stats.median([p["numInputRows"] for p in data]) if data else 0.0,
            "streaming.backlog_events_max": stats.backlog_max(
                ack_at, [(commits[b], n) for b, n in commit_counts.items() if b in commits]),
            "streaming.state.rows_total": state.get("numRowsTotal", 0),
            "streaming.state.memory_bytes": state.get("memoryUsedBytes", 0),
            "streaming.state.commit_ms": stats.median(
                [(p.get("stateOperators") or [{}])[0].get("commitTimeMs", 0) for p in data]) if data else 0.0,
            "sources.versioned.merge_s": stats.median(merges) if merges else 0.0,
            "sources.versioned.merge_jobs": len(merge_jobs) / max(1, len(merges)),
            "sources.versioned.versions": versions,
            "sources.versioned.live_files": len(live),
            "sources.versioned.bytes_per_live_byte": all_bytes / live_bytes if live_bytes else 0.0,
            "sources.versioned.read_files": stats.median([n for _, n in reads]) if reads else 0.0,
            "sources.versioned.snapshot_read_p50_s": stats.median([w for w, _ in reads]) if reads else 0.0,
            "trace.result_p50_s": e2e["result_p50_s"],
            "memory.peak_rss_mb": rss,
        }
    return tracer, tally, e2e, layers


# -- driver ----------------------------------------------------------------------------


WORKLOADS = {
    "catalog_iterative": lambda a: run_catalog(ITERATIVE, a),
    "catalog_scan": lambda a: run_catalog(SCAN, a),
    "stream_upsert": run_stream,
}


def declared_units(kind: str) -> dict[str, str]:
    """Unit of every ``end_to_end`` or ``per_layer`` metric, in the order
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        from __spark_entry__ import SF0001
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    global DATA_DIR
    DATA_DIR = os.path.join(os.path.dirname(SF0001), "sf0.1")
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: input tables not found at {DATA_DIR}", file=sys.stderr)
        return 2
    os.makedirs(WORK)
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    steal0, total0 = cpu_ticks()
    try:
        tracer, tally, e2e, layers = WORKLOADS[args.workload](args)
    except InvalidRun as e:
        print(f"perfbench: invalid run: {e}", file=sys.stderr)
        return 3
    finally:
        stop_engine()
        shutil.rmtree(WORK, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    # Time the hypervisor ran other guests on the host's CPUs: on a
    # shared host the run's wall figures rise with it.
    steal = (steal1 - steal0) / max(1, total1 - total0)
    print(f"# host: {steal:.1%} of CPU time stolen during the run", file=sys.stderr)
    layers["host.cpu_steal_share"] = steal
    tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    for cause in tally.causes:
        print(f"# FAILED: {cause}", file=sys.stderr)
    if args.trace:
        layers["error_rate"] = tally.error_rate
        units = declared_units("per_layer")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        units = declared_units("end_to_end")
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    stats.check_metrics(metrics)
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
