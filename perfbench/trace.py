"""Traced run: per-layer metrics for one workload, in-process.

The run calls each layer's public functions from outside, in the order
the service calls them, and records a span around every call: name,
start, end, parent and request id.  Per-row calls (``toLocalIterator``
steps, ``render_row``, ``json.dumps``) are summed into one span per
request.  Spans stay in memory and are written to the work directory
when the run ends.  Counts come from Spark's ``statusTracker``, the SQL
status store, a ``StreamingQueryListener`` and a counting
``ResponseCache``.

The run takes one request cycle of the timed run, whatever
``--seconds`` says.  After an untimed first run of each request (code
generation), each request goes through four arms back to back, on one
session:

1. HTTP: the real app, served in-process on a localhost port and read
   over a socket (gives ``service.*``);
2. untraced: ``emit_json_array(build_scan(...))`` with nothing wrapped;
3. traced: the same calls one by one, with spans;
4. engine only: each request's DataFrame into the noop sink.

Then, on the same session, ``run_follow`` writes to a recording writer
while a producer appends small files (gives ``follow.*``).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener
from werkzeug.serving import make_server

import kbrowse_spark.plans.planner as planner_mod
import kbrowse_spark.service.app as app_mod
import kbrowse_spark.sinks.pioneer as pioneer_mod
import kbrowse_spark.streaming.follow as follow_mod
from kbrowse_spark.functions.decoders import msgpack_decode_py, stringify
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.session import get_spark
from perfbench import gen
from perfbench.check import Topic, check_search, follow_problems
from perfbench.client import fetch, search_url
from perfbench.common import WORK, median, pct, spark_conf
from perfbench.run import WORKLOAD_TOPICS, Tally, firehose_cycle, needle_cycle, warmup_url


@dataclass
class Span:
    id: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0
    busy: float | None = None  # summed call time, for spans that aggregate many calls
    calls: int = 1

    @property
    def duration(self) -> float:
        return self.busy if self.busy is not None else self.end - self.start


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, rid: str):
        s = Span(len(self.spans), name, rid, self.stack[-1].id if self.stack else None, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()

    def aggregate(self, name: str, rid: str, start: float, end: float, busy: float, calls: int) -> None:
        parent = self.stack[-1].id if self.stack else None
        self.spans.append(Span(len(self.spans), name, rid, parent, start, end, busy, calls))

    def wrap(self, module, attr: str, name: str):
        """Patch ``module.attr`` with a version that records a span per call."""
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name, self.stack[-1].rid if self.stack else "-"):
                return fn(*a, **kw)

        return _patched(module, attr, traced)

    def self_ms(self) -> dict[str, float]:
        """Each layer's time minus the time of its child spans."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.duration - child.get(s.id, 0.0)) * 1000
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "rid": s.rid, "parent": s.parent,
                                    "start": s.start, "end": s.end, "busy": s.busy, "calls": s.calls}) + "\n")


@contextlib.contextmanager
def _patched(module, attr: str, value):
    old = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield
    finally:
        setattr(module, attr, old)


class TimedCalls:
    """Calls ``fn`` and sums the time spent in it."""

    def __init__(self, fn):
        self.fn, self.busy, self.calls, self.first, self.last = fn, 0.0, 0, None, None

    def __call__(self, *a, **kw):
        t = time.perf_counter()
        try:
            return self.fn(*a, **kw)
        finally:
            e = time.perf_counter()
            self.busy += e - t
            self.calls += 1
            self.first = t if self.first is None else self.first
            self.last = e

    def record(self, tracer: Tracer, name: str, rid: str) -> None:
        if self.calls:
            tracer.aggregate(name, rid, self.first, self.last, self.busy, self.calls)


class SqlMetrics:
    """Scan rows, Python-UDF rows and shuffle bytes of the SQL executions
    started since the last call, read from the SQL status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mark = self.store.executionsCount()

    def take(self) -> dict:
        out = {"input_rows": 0, "udf_rows": 0, "shuffle_bytes": 0.0}
        execs = self.store.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid < self.mark:
                continue
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "number of output rows" and node.name().startswith("Scan"):
                        out["input_rows"] += _count(v.get())
                    elif m.name() == "number of output rows" and "EvalPython" in node.name():
                        out["udf_rows"] += _count(v.get())
                    elif m.name() == "shuffle bytes written":
                        out["shuffle_bytes"] += _size(v.get())
        self.mark = self.store.executionsCount()
        return out


def _count(text: str) -> int:
    return int(text.replace(",", ""))


def _size(text: str) -> float:
    """Bytes from a size metric string such as 'total (...)\\n1.5 KiB (...)'."""
    num, unit = text.split("\n")[-1].split()[:2]
    return float(num) * 1024 ** ["B", "KiB", "MiB", "GiB", "TiB"].index(unit)


def task_count(sc, job_ids) -> int:
    """Tasks run by the stages of ``job_ids``."""
    st = sc.statusTracker()
    stages = {s for j in job_ids if (info := st.getJobInfo(j)) for s in info.stageIds}
    return sum(info.numCompletedTasks for s in stages if (info := st.getStageInfo(s)))


def job_counts(sc, group: str) -> tuple[int, int]:
    """Jobs of a job group and the tasks they ran."""
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return len(jobs), task_count(sc, jobs)


def decode_cost(payloads: list[bytes], plain: list[str]) -> tuple[float, int]:
    """Microseconds per row of the msgpack decoder (decode plus
    stringify, the body of the decode UDF) on ``payloads``, and how many
    rows decoded differently from their JSON copy."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        out = [stringify(msgpack_decode_py(p)) for p in payloads]
        best = min(best, time.perf_counter() - t)
    wrong = sum(1 for a, b in zip(out, plain) if a != b)
    return best / max(1, len(payloads)) * 1e6, wrong


def start_session():
    t = time.perf_counter()
    spark = get_spark("perfbench-trace", extra_conf=spark_conf())
    return spark, time.perf_counter() - t


class CountingCache:
    """Subclass factory for ``ResponseCache`` that counts hits and misses."""

    def __init__(self, base):
        counts = self.counts = {"hits": 0, "misses": 0}

        class Counting(base):
            def get(self, key):
                hit = super().get(key)
                counts["hits" if hit is not None else "misses"] += 1
                return hit

        self.cls = Counting


def trace_search(workload: str, seed: int, seconds: float, rec: dict) -> dict:
    topic = WORKLOAD_TOPICS[workload]
    topics = gen.topics_dir(seed, ["warm", topic])
    rng = np.random.default_rng(seed)
    cycle = (firehose_cycle if topic == "firehose" else needle_cycle)(rng, topics)
    spark, start_s = start_session()
    sc = spark.sparkContext
    tally = Tally()
    reference = Topic(gen.read_topic(os.path.join(topics, topic)))
    expected = [reference.expected(p) for p in cycle]

    # The real app, served from this process, with counters wrapped around it.
    cache = CountingCache(app_mod.ResponseCache)
    emitted = {"chunks": 0}
    real_emit = pioneer_mod.emit_json_array

    def counting_emit(df, pretty=True):
        for chunk in real_emit(df, pretty=pretty):
            emitted["chunks"] += 1
            yield chunk

    with _patched(app_mod, "ResponseCache", cache.cls):
        app = app_mod.create_app(spark=spark)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    threading.Thread(target=server.serve_forever, daemon=True).start()

    tracer = Tracer()
    layer = {k: [] for k in ("http_ms", "plain_ms", "traced_ms", "noop_ms", "pioneer_over_noop",
                             "query_spec.parse_ms", "planner.build_ms", "fixture.load_ms",
                             "engine.first_row_ms", "pioneer.transfer_ms", "pioneer.render_ms",
                             "pioneer.dumps_ms")}
    counts = {k: 0 for k in ("planner.plan_jobs", "engine.jobs", "engine.tasks", "engine.input_rows",
                             "decoders.udf_rows", "pioneer.rows", "pioneer.bytes")}
    shuffle_bytes, store, sql, misses = 0.0, CountingCache(app_mod.ResponseCache).cls(), None, []
    try:
        fetch(server.server_port, warmup_url(topics, topic == "needle"))
        cache.counts.update(hits=0, misses=0)
        sql = SqlMetrics(spark)
        # Each request goes through the four arms back to back.
        for n, (p, exp) in enumerate(zip(cycle, expected)):
            rid, key = f"r{n}", search_url(p).split("?", 1)[1]
            # Untimed: a first run of each query shape pays one-off costs (code generation).
            planner_mod.build_scan(spark, QuerySpec.from_options(p)).write.format("noop").mode("overwrite").save()
            with _patched(pioneer_mod, "emit_json_array", counting_emit):
                r = fetch(server.server_port, search_url(p))
            layer["http_ms"].append(r.latency_ms)
            tally.add(f"http {key}", f"HTTP {r.status}" if r.status != 200 else check_search(r.body, exp))

            t = time.perf_counter()
            plain = "".join(real_emit(planner_mod.build_scan(spark, QuerySpec.from_options(p)), pretty=False))
            layer["plain_ms"].append((time.perf_counter() - t) * 1000)
            sql.take()

            t_req = time.perf_counter()
            with tracer.wrap(planner_mod, "envelope_from_parquet", "fixture.load"), tracer.span("request", rid):
                body = store.get(key)
                if body is None:
                    with tracer.span("query_spec.parse", rid) as s_parse:
                        spec = QuerySpec.from_options(p)
                    sc.setJobGroup(f"plan-{rid}", "traced build_scan")
                    with tracer.span("planner.build", rid) as s_build:
                        df = planner_mod.build_scan(spark, spec)
                    counts["planner.plan_jobs"] += job_counts(sc, f"plan-{rid}")[0]
                    sql.take()  # plan-time executions belong to the planner
                    sc.setJobGroup(f"emit-{rid}", "traced emission")
                    with tracer.span("pioneer.emit", rid) as s_emit:
                        body, first_row, parts = _traced_emit(df, tracer, rid)
                    store.put(key, body)
            layer["traced_ms"].append((time.perf_counter() - t_req) * 1000)
            counts["pioneer.rows"] += len(exp)
            counts["pioneer.bytes"] += len(body.encode())
            tally.add(f"traced {key}", check_search(body.encode(), exp))
            if body != plain:
                tally.add(f"traced bytes {key}", "traced output differs from emit_json_array")
            if n and p == cycle[0]:
                continue  # the verbatim repeat: served from the cache, nothing below ran
            misses.append(n)
            jobs, tasks = job_counts(sc, f"emit-{rid}")
            m = sql.take()
            counts["engine.jobs"] += jobs
            counts["engine.tasks"] += tasks
            counts["engine.input_rows"] += m["input_rows"]
            counts["decoders.udf_rows"] += m["udf_rows"]
            shuffle_bytes += m["shuffle_bytes"]
            layer["query_spec.parse_ms"].append((s_parse.end - s_parse.start) * 1000)
            layer["planner.build_ms"].append((s_build.end - s_build.start) * 1000)
            loads = [s for s in tracer.spans if s.name == "fixture.load" and s.rid == rid]
            layer["fixture.load_ms"].append(sum(s.duration for s in loads) * 1000)
            layer["engine.first_row_ms"].append((first_row - s_emit.start) * 1000)
            for name, w in parts.items():
                layer[f"pioneer.{name}_ms"].append(w.busy * 1000)

            # Engine only: the same DataFrame into the noop sink.
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            layer["noop_ms"].append((time.perf_counter() - t) * 1000)
            layer["pioneer_over_noop"].append((s_emit.end - s_emit.start) * 1000 / layer["noop_ms"][-1])
            sql.take()
    finally:
        server.shutdown()

    # The decoder on this workload's own payloads.
    mp_table = gen.read_topic(os.path.join(topics, topic + "_mp")).slice(0, 20_000)
    us_per_row, wrong = decode_cost(mp_table["value"].to_pylist(), reference.value.slice(0, 20_000).to_pylist())
    tally.add("msgpack decode of the workload payloads", f"{wrong} rows decoded wrong" if wrong else None)

    follow = trace_follow(spark, seed, tracer, tally)

    traced_total = sum(layer["traced_ms"][i] for i in misses)
    plain_total = sum(layer["plain_ms"][i] for i in misses)
    tracer.dump(os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
    spark.stop()
    metrics = {
        "session.start_s": (start_s, "s"),
        "query_spec.parse_ms": (median(layer["query_spec.parse_ms"]), "ms"),
        "planner.build_ms": (median(layer["planner.build_ms"]), "ms"),
        "planner.plan_jobs": (counts["planner.plan_jobs"], "count"),
        "fixture.load_ms": (median(layer["fixture.load_ms"]), "ms"),
        "engine.first_row_ms": (median(layer["engine.first_row_ms"]), "ms"),
        "engine.noop_ms": (median(layer["noop_ms"]), "ms"),
        "engine.jobs": (counts["engine.jobs"], "count"),
        "engine.tasks": (counts["engine.tasks"], "count"),
        "engine.input_rows": (counts["engine.input_rows"], "count"),
        "engine.shuffle_mb": (shuffle_bytes / 2**20, "MB"),
        "engine.useful_ratio": (counts["pioneer.rows"] / max(1, counts["engine.input_rows"]), "ratio"),
        "engine.pioneer_over_noop": (median(layer["pioneer_over_noop"]), "ratio"),
        "decoders.msgpack_us_per_row": (us_per_row, "us"),
        "decoders.udf_rows": (counts["decoders.udf_rows"], "count"),
        "pioneer.transfer_ms": (median(layer["pioneer.transfer_ms"]), "ms"),
        "pioneer.render_ms": (median(layer["pioneer.render_ms"]), "ms"),
        "pioneer.dumps_ms": (median(layer["pioneer.dumps_ms"]), "ms"),
        "pioneer.rows": (counts["pioneer.rows"], "count"),
        "pioneer.bytes": (counts["pioneer.bytes"], "count"),
        "service.overhead_ms": (median([layer["http_ms"][i] - layer["plain_ms"][i] for i in misses]), "ms"),
        "service.chunks": (emitted["chunks"], "count"),
        "service.cache_hits": (cache.counts["hits"], "count"),
        "service.cache_misses": (cache.counts["misses"], "count"),
        "trace.overhead_pct": ((traced_total - plain_total) / plain_total * 100, "%"),
        **follow,
    }
    rec.update(self_ms=tracer.self_ms(), spans=len(tracer.spans),
               arms_ms={k: layer[k] for k in ("http_ms", "plain_ms", "traced_ms", "noop_ms")},
               overhead_basis="traced vs untraced in-process arm", failures=tally.reasons[:5])
    return {"tally": tally, "metrics": metrics, "selftest_ok": True}


def _traced_emit(df, tracer: Tracer, rid: str):
    """``emit_json_array(df, pretty=False)`` step by step: the iterator's
    next row (transfer from the engine), ``render_row`` and ``json.dumps``
    each timed separately.  Returns the body, the first row's arrival and
    the per-step timers."""
    rows = []

    def step():  # the iterator call itself starts the engine's jobs
        if not rows:
            rows.append(iter(df.toLocalIterator()))
        return next(rows[0], None)

    parts = {"transfer": TimedCalls(step), "render": TimedCalls(pioneer_mod.render_row),
             "dumps": TimedCalls(lambda o: json.dumps(o, indent=None, ensure_ascii=False))}
    out = ["[", json.dumps(pioneer_mod.PIONEER, indent=None, ensure_ascii=False)]
    first = None
    while (row := parts["transfer"]()) is not None:
        first = first or time.perf_counter()
        out.append(", " + parts["dumps"](parts["render"](row)))
    out.append("]")
    for name, w in parts.items():
        w.record(tracer, f"pioneer.{name}", rid)
    return "".join(out), first or time.perf_counter(), parts


FOLLOW_RATE = 3.0  # files per second, Poisson: an open loop that never waits for the service
FOLLOW_RECORDS = 20  # records per file
FOLLOW_S = 8.0  # how long the producer appends
FOLLOW_GRACE_S = 15.0  # after the last file, wait this long for its rows


class Recorder:
    """Writer for ``run_follow`` that keeps every write with its time."""

    def __init__(self):
        self.log: list[tuple[float, str]] = []

    def write(self, s: str) -> None:
        self.log.append((time.perf_counter(), s))

    def flush(self) -> None:
        pass


class ProgressLog(StreamingQueryListener):
    """(run id, input rows, phase durations) of every micro-batch."""

    def __init__(self):
        super().__init__()
        self.batches: list[tuple[str, int, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append((str(p.runId), p.numInputRows, dict(p.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def trace_follow(spark, seed: int, tracer: Tracer, tally: Tally) -> dict:
    """``streaming.follow``: ``run_follow`` with a recording writer over a
    topic that a producer grows on a seeded Poisson schedule.  Every
    produced record must arrive exactly once, rendered as the reference
    renders it; lag runs from a file's creation to its first row."""
    warm = os.path.join(gen.topics_dir(seed, ["warm"]), "warm")
    # Warm-up: one bounded pass (availableNow) of the micro-batch path.
    follow_mod.run_follow(spark, QuerySpec.from_options({"source-parquet": warm, "value-regex": ".*"}), Recorder())
    fdir = os.path.join(WORK, "follow", f"trace-{os.getpid()}")
    shutil.rmtree(fdir, ignore_errors=True)
    producer, rng = gen.Producer(fdir, seed), np.random.default_rng(seed)
    files = []  # (due perf_counter, table)

    def produce(due: float) -> None:
        files.append((due, producer.produce(FOLLOW_RECORDS, int(time.time() * 1000))))

    progress, out, render = ProgressLog(), Recorder(), TimedCalls(follow_mod.render_row)
    spark.streams.addListener(progress)
    produce(time.perf_counter())  # backlog: the query's first batch
    spec = QuerySpec.from_options({"source-parquet": fdir, "follow": "true", "value-regex": ".*"})
    worker = threading.Thread(target=follow_mod.run_follow, args=(spark, spec, out), kwargs={"bounded": False})
    run_ids = set()
    try:
        with _patched(follow_mod, "render_row", render), tracer.span("follow.run", "follow"):
            worker.start()
            deadline = time.perf_counter() + 60
            while len(out.log) < 3 and worker.is_alive() and time.perf_counter() < deadline:
                time.sleep(0.01)
            t0 = time.perf_counter()
            due = t0 + np.cumsum(rng.exponential(1 / FOLLOW_RATE, int(FOLLOW_RATE * FOLLOW_S * 3) + 10))
            for d in due[due < t0 + FOLLOW_S]:
                time.sleep(max(0.0, d - time.perf_counter()))
                produce(float(d))
            want = 2 + len(files) * FOLLOW_RECORDS  # '[', the pioneer row, then one write per row
            deadline = time.perf_counter() + FOLLOW_GRACE_S
            while len(out.log) < want and worker.is_alive() and time.perf_counter() < deadline:
                time.sleep(0.02)
            run_ids = {str(q.runId) for q in spark.streams.active}
    finally:
        for q in spark.streams.active:
            q.stop()
        worker.join(60)
        spark.streams.removeListener(progress)
        shutil.rmtree(fdir, ignore_errors=True)
    render.record(tracer, "follow.render", "follow")

    owner, expect = {}, {}
    for i, (_, table) in enumerate(files):
        for row in Topic(table).expected({}):
            owner[(row["partition"], row["offset"])] = i
            expect[(row["partition"], row["offset"])] = row
    rows = [(t, json.loads(s[2:])) for t, s in out.log[2:] if s.startswith(", ")]
    for i, p in enumerate(follow_problems([r for _, r in rows], expect, owner, len(files))):
        tally.add(f"follow file {i}", "; ".join(p[:3]) if p else None)
    first = {}
    for t, r in rows:
        first.setdefault(owner.get((r["partition"], r["offset"])), t)
    lag = [(first[i] - files[i][0]) * 1000 for i in range(1, len(files)) if i in first]
    # Files produced but not yet started, as each new file lands.
    backlog = [sum(1 for j in range(k + 1) if first.get(j, float("inf")) > d) for k, (d, _) in enumerate(files)]
    data = [d for r, n, d in progress.batches if r in run_ids and n > 0]
    return {
        "follow.batches": (len(data), "count"),
        "follow.add_batch_ms": (median([d.get("addBatch", 0) for d in data]), "ms"),
        "follow.trigger_ms": (median([d.get("triggerExecution", 0) for d in data]), "ms"),
        "follow.rows_per_batch": (len(rows) / max(1, len(data)), "count"),
        "follow.backlog_files": (max(backlog, default=0), "count"),
        "follow.lag_p50_ms": (median(lag), "ms"),
        "follow.lag_p90_ms": (pct(lag, 90), "ms"),
    }
