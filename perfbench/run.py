"""kbrowse benchmark: one run of one workload.

    python3 perfbench/run.py --workload search_needle --seed 3 --seconds 10 --trace 0

Workloads, each a closed loop with one client that waits for every
response, like a console user:

* ``search_firehose``: broad-regex ``/search`` (about half the keys, or
  everything) over a 30k-record topic; every response is several MB, so
  pioneer rendering and the per-row HTTP chunks dominate.
* ``search_needle``: selective ``/search`` over a 150k-record topic with
  explicit partitions, default-partition, relative-offset windows, a
  progress tap, msgpack decoding (one request in four) and a verbatim
  repeat (the response cache); the scan, decode, filter and plan-time
  jobs dominate and rendering is negligible.

Every request carries the number of its cycle as an extra parameter,
which kbrowse ignores, so no URL repeats across cycles: the one response
cache hit is the needle cycle's deliberate verbatim repeat.

``--trace 0`` starts the service (``service.py``) and drives it over
localhost HTTP from this process, the load generator, then prints the
end-to-end metrics; ``--trace 1`` runs the same inputs through the
layers in-process, then follows a growing topic, and prints the
per-layer metrics (``trace.py``).
Inputs come from ``--seed``; every output is checked against a
reference.  The last stdout line is the result object; the line before
it is the full run record, with every metric the run measured.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOAD_TOPICS = {"search_firehose": "firehose", "search_needle": "needle"}


def firehose_cycle(rng, topics: str) -> list[dict]:
    """A key regex that keeps about half the keys, then two match-alls
    (match-all rows are two in three, so the median is a match-all)."""
    src = os.path.join(topics, "firehose")
    digits = "".join(sorted(str(d) for d in rng.choice(10, 5, replace=False)))
    k = int(rng.integers(1, 5))  # which key digit is filtered (the first is always 0)
    return [{"source-parquet": src, "key-regex": f"user-[0-9]{{{k}}}[{digits}][0-9]{{{4 - k}}}"},
            {"source-parquet": src, "value-regex": ".*"},
            {"source-parquet": src, "key-regex": "user-[0-9]*"}]


def needle_cycle(rng, topics: str) -> list[dict]:
    """Twelve selective requests: three msgpack-decoded, one a verbatim
    repeat of the first (served from the response cache).  Four are
    cheap (pruned or cached), five expensive (msgpack, progress tap,
    offset window) and three in between (a value regex over the later
    half of the topic), so the median falls at or near those three."""
    from perfbench import gen

    src, mp = os.path.join(topics, "needle"), os.path.join(topics, "needle_mp")
    msgpack = {"source-parquet": mp, "key-deserializer": "msgpack", "value-deserializer": "msgpack"}

    def parts(k):
        return ",".join(str(p) for p in sorted(rng.choice(16, k, replace=False)))

    def key():
        return f"user-{int(rng.integers(0, 20_000)):05d}"

    def later_half():
        # The topic spans about 25 minutes from BASE_MS; start within 20 s of its middle.
        start = gen.BASE_MS / 1000 + int(rng.integers(730, 770))
        w = rng.choice(gen.WORDS, 2)
        return {"source-parquet": src,
                "start-timestamp": datetime.datetime.fromtimestamp(start, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
                "value-regex": f'.*"kind": "cart".*"note": "{w[0]} {w[1]}".*'}

    first = {"source-parquet": src, "key-regex": f"user-{int(rng.integers(0, 2000)):04d}[0-9]"}
    return [
        first,
        {**msgpack, "partitions": parts(2), "key-regex": f"user-{int(rng.integers(0, 200)):03d}[0-9][0-9]"},
        {"source-parquet": src, "value-regex": f'.*"sku": "sku-{int(rng.integers(0, 1000)):03d}[0-9]".*',
         "print-offset": "10000"},
        later_half(),
        {"source-parquet": src, "key-regex": key(), "default-partition": "true", "num-partitions": "16"},
        {"source-parquet": src, "relative-offset": str(-int(rng.integers(4000, 6000))),
         "value-regex": f'.*"kind": "refund".*"qty": {int(rng.integers(1, 10))}[0-9],.*'},
        later_half(),
        {**msgpack, "key-regex": key(), "default-partition": "true", "num-partitions": "16",
         "value-regex": '.*"kind": "(?:cart|purchase)".*'},
        {"source-parquet": src, "partitions": parts(4), "key-regex": f"user-{int(rng.integers(0, 20)):02d}[0-9][0-9]1"},
        dict(first),
        later_half(),
        {**msgpack, "partitions": parts(2), "value-regex": f'.*"sku": "sku-{int(rng.integers(0, 100)):02d}[0-9][0-9]".*'},
    ]


def warmup_url(topics: str, msgpack: bool) -> str:
    """One small request on the 4k-record warm-up topic: the first query
    of a fresh JVM, plus the Python decode workers when ``msgpack``."""
    from perfbench.client import search_url

    params = {"source-parquet": os.path.join(topics, "warm"), "key-regex": "user-00[0-9]*",
              "relative-offset": "-500", "print-offset": "100"}
    if msgpack:
        params.update({"source-parquet": os.path.join(topics, "warm_mp"),
                       "key-deserializer": "msgpack", "value-deserializer": "msgpack"})
    return search_url(params)


class Tally:
    """Attempted and failed operations, with the reason for each failure."""

    def __init__(self):
        self.attempted, self.failed, self.reasons = 0, 0, []

    def add(self, what: str, error: str | None) -> bool:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.reasons.append(f"{what}: {error}")
        return error is None


def selftest(variants: list, check) -> dict:
    """Damaged copies of good output go through the same accounting as
    real output; every one must be counted as a failure."""
    tally = Tally()
    for i, bad in enumerate(variants):
        tally.add(f"corrupted#{i}", check(bad))
    return {"variants": tally.attempted, "counted_as_failed": tally.failed,
            "ok": tally.attempted > 0 and tally.failed == tally.attempted}


def run_search(workload: str, seed: int, seconds: float, rec: dict) -> dict:
    import numpy as np

    from perfbench import gen
    from perfbench.check import Topic, check_search, corrupted
    from perfbench.client import Service, fetch, search_url
    from perfbench.common import median, pct

    t_gen = time.perf_counter()
    topic = WORKLOAD_TOPICS[workload]
    topics = gen.topics_dir(seed, ["warm", topic])
    rec["gen_s"] = time.perf_counter() - t_gen
    rng = np.random.default_rng(seed)
    make_cycle = firehose_cycle if topic == "firehose" else needle_cycle

    # Warm-up: one cycle of this workload's own request shapes, tagged so
    # that the measured requests never hit their cache entries.
    svc = Service([search_url({**p, "warmup": "1"}) for p in make_cycle(np.random.default_rng(seed + 7919), topics)])
    responses, t0, n = [], time.perf_counter(), 0
    try:
        while time.perf_counter() - t0 < seconds:  # whole cycles only
            for params in make_cycle(rng, topics):
                responses.append((params, fetch(svc.port, search_url({**params, "cycle": str(n)}))))
            n += 1
        measured_s = time.perf_counter() - t0
    finally:
        t_stop = time.perf_counter()
        peak_rss = svc.stop()
        rec["stop_s"] = time.perf_counter() - t_stop

    t_check = time.perf_counter()
    # The msgpack copy holds the same records, so one reference serves both.
    reference = Topic(gen.read_topic(os.path.join(topics, topic)))
    expected: dict[str, list] = {}
    tally, good = Tally(), None
    for params, r in responses:
        url = search_url(params)  # without the cycle tag: one reference per request shape
        if url not in expected:
            expected[url] = reference.expected(params)
        err = f"HTTP {r.status}" if r.status != 200 else check_search(r.body, expected[url])
        if tally.add(r.url, err) and expected[url] and (good is None or len(r.body) < len(good[0])):
            good = (r.body, expected[url])  # the smallest good response
    st = selftest(corrupted(good[0], seed), lambda bad: check_search(bad, good[1])) if good else selftest([], None)

    rec["check_s"] = time.perf_counter() - t_check
    lat = [r.latency_ms for _, r in responses]
    ttfr = [r.ttfr_ms for _, r in responses if r.ttfr_ms is not None]
    rows = sum(len(expected[search_url(p)]) for p, _ in responses)
    mp = [r.latency_ms for p, r in responses if p.get("value-deserializer") == "msgpack"]
    metrics = {
        "setup_s": (svc.setup_s, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "fail_ratio": (tally.failed / max(1, tally.attempted), "ratio"),
        "latency_p50_ms": (median(lat), "ms"),
        "ttfr_p50_ms": (median(ttfr), "ms"),
        "rows_per_s": (rows / (sum(lat) / 1000), "rows/s"),
    }
    if mp:
        metrics["latency_msgpack_p50_ms"] = (median(mp), "ms")
    for q in (90, 99):  # a tail percentile is reported once ten samples lie beyond it
        if len(lat) * (100 - q) / 100 >= 10:
            metrics[f"latency_p{q}_ms"] = (pct(lat, q), "ms")
    rec.update(measured_s=measured_s, requests=len(responses),
               per_request_ms=[[round(r.latency_ms, 1), r.ttfr_ms and round(r.ttfr_ms, 1)] for _, r in responses],
               latency_max_ms=max(lat), selftest=st, failures=tally.reasons[:5],
               bytes=sum(len(r.body) for _, r in responses))
    return {"tally": tally, "metrics": metrics, "selftest_ok": st["ok"]}


def main() -> int:
    ap = argparse.ArgumentParser(description="kbrowse end-to-end and per-layer benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TOPICS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup in every finally
    if not os.path.isdir(os.path.join(ROOT, "kbrowse_spark")):
        print("kbrowse_spark not found next to perfbench/: nothing to benchmark", file=sys.stderr)
        return 2

    from perfbench.common import WORK, mark_run, spark_env, stop_run

    os.makedirs(WORK, exist_ok=True)
    os.environ.update(spark_env())
    mark_run()
    try:
        return measure(args)
    finally:
        stop_run()  # the in-process JVM of a traced run, and anything a failure left behind


def measure(args) -> int:
    from perfbench.common import cpu_steal_s, loadavg, nproc

    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": nproc(), "loadavg_start": loadavg()}
    steal0 = cpu_steal_s()
    if args.trace:
        from perfbench.trace import trace_search

        out = trace_search(args.workload, args.seed, args.seconds, rec)
    else:
        out = run_search(args.workload, args.seed, args.seconds, rec)
    rec["loadavg_end"] = loadavg()
    rec["cpu_steal_s"] = cpu_steal_s() - steal0
    rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    print(json.dumps(rec))
    # The result line carries the metrics BENCHMARK.json declares for this kind of run.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    tally = out["tally"]
    result = {
        "correct": tally.failed == 0 and out["selftest_ok"],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: rec["metrics"][k] for k in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
