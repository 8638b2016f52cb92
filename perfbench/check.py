"""Reference results and output checks.

The reference for a ``/search`` request is computed straight from the
generated parquet files with pyarrow and Python's ``re.fullmatch``,
following kbrowse's semantics: partition pruning (explicit list or the
key's default partition), the relative-offset window clamped to each
partition's range, start/stop timestamps, full-match regexes on the decoded key and value,
progress rows for every n-th offset of the unfiltered scan, and rows
ordered by (timestamp, topic, partition, offset, type).  The workload
regexes use only syntax that Java and Python read alike.
"""

from __future__ import annotations

import datetime
import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench.gen import kafka_partition

PIONEER = '[{"type": "pioneer"}'
UTC = datetime.timezone.utc
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=UTC)


def _epoch_us(text: str) -> int:
    """A 'YYYY-MM-DD HH:MM:SS' bound, read in UTC as the service's session is."""
    return (datetime.datetime.fromisoformat(text).replace(tzinfo=UTC) - EPOCH) // datetime.timedelta(microseconds=1)


def try_json(s: str):
    try:
        return json.loads(s)
    except ValueError:
        return s


class Topic:
    """One generated topic, held as columns for reference queries."""

    def __init__(self, t: pa.Table):
        self.name = t["topic"][0].as_py()
        self.part = t["partition"].to_numpy()
        self.offset = t["offset"].to_numpy()
        self.ts_us = t["timestamp"].cast("int64").to_numpy()
        self.key = t["key"].cast("string")
        self.value = t["value"].cast("string")
        self.n_partitions = int(self.part.max()) + 1
        self.bounds = {
            p: (int(self.offset[self.part == p].min()), int(self.offset[self.part == p].max()) + 1)
            for p in np.unique(self.part).tolist()
        }

    def _regex_mask(self, col, pattern: str | None, mask: np.ndarray) -> np.ndarray:
        if pattern is None:
            return mask
        rx = re.compile(pattern)
        # pyarrow's RE2 narrows the candidates; re.fullmatch decides.
        cand = np.nonzero(mask & pc.match_substring_regex(col, f"^(?:{pattern})$").to_numpy(zero_copy_only=False))[0]
        out = np.zeros_like(mask)
        out[[i for i, v in zip(cand, col.take(cand).to_pylist()) if rx.fullmatch(v)]] = True
        return out

    def expected(self, params: dict) -> list[dict]:
        """Rendered rows a kbrowse ``/search`` with ``params`` returns."""
        scan = np.ones(len(self.part), bool)
        parts = None
        if params.get("default-partition") == "true":
            parts = [kafka_partition(params["key-regex"], int(params["num-partitions"]))]
        elif "partitions" in params:
            parts = [int(p) for p in params["partitions"].split(",")]
        if parts is not None:
            scan &= np.isin(self.part, parts)
        if "relative-offset" in params:
            n = int(params["relative-offset"])
            start = np.zeros(self.n_partitions, np.int64)
            for p, (e, l) in self.bounds.items():
                start[p] = max(e, min(e + n if n >= 0 else l + n, l))
            scan &= self.offset >= start[self.part]
        if "start-timestamp" in params:
            scan &= self.ts_us >= _epoch_us(params["start-timestamp"])
        if "stop-timestamp" in params:
            scan &= self.ts_us <= _epoch_us(params["stop-timestamp"])
        hit = self._regex_mask(self.key, params.get("key-regex"), scan)
        hit = self._regex_mask(self.value, params.get("value-regex"), hit)
        rows = [(self.ts_us[i], self.part[i], self.offset[i], "result", i) for i in np.nonzero(hit)[0]]
        if "print-offset" in params:
            tap = scan & (self.offset % int(params["print-offset"]) == 0)
            rows += [(self.ts_us[i], self.part[i], self.offset[i], "offset", i) for i in np.nonzero(tap)[0]]
        rows.sort(key=lambda r: r[:4])
        idx = pa.array([r[4] for r in rows], pa.int64())
        keys, values = self.key.take(idx).to_pylist(), self.value.take(idx).to_pylist()
        return [self.render(r[4], r[3], k, v) for r, k, v in zip(rows, keys, values)]

    def render(self, i: int, kind: str, key: str, value: str) -> dict:
        ts = EPOCH + datetime.timedelta(microseconds=int(self.ts_us[i]))
        row = {"type": kind, "partition": int(self.part[i]), "offset": int(self.offset[i]),
               "topic": self.name}
        if kind == "result":
            row.update(timestamp=int(ts.timestamp() * 1000), key=try_json(key), value=try_json(value))
        else:
            row.update(timestamp=ts.strftime("%Y-%m-%dT%H:%M:%SZ"), key=key, value=value)
        return row


def parse_array(body: bytes) -> list:
    """Rows of a complete pioneer array; raises ValueError otherwise."""
    text = body.decode("utf-8")
    if not text.startswith(PIONEER):
        raise ValueError("response does not open with the pioneer row")
    rows = json.loads(text)
    if not isinstance(rows, list) or rows[0] != {"type": "pioneer"}:
        raise ValueError("response is not a pioneer array")
    return rows[1:]


def check_search(body: bytes, expected: list[dict]) -> str | None:
    """None when ``body`` is the complete pioneer array of ``expected``;
    otherwise what is wrong with it."""
    try:
        rows = parse_array(body)
    except ValueError as e:
        return f"malformed: {e}"
    if rows != expected:
        bad = next((i for i, (a, b) in enumerate(zip(rows, expected)) if a != b), min(len(rows), len(expected)))
        return f"{len(rows)} rows vs {len(expected)} expected; first difference at row {bad}"
    return None


def corrupted(body: bytes, seed: int) -> list[bytes]:
    """Damaged copies of a good response, each of which must fail the check:
    truncated, one row dropped, one value changed."""
    rng = np.random.default_rng(seed)
    rows = parse_array(body)
    out = [body[: len(body) - 1 - int(rng.integers(0, min(40, len(body) - 1)))]]
    if rows:
        i = int(rng.integers(0, len(rows)))
        dropped = rows[:i] + rows[i + 1 :]
        changed = [dict(r) for r in rows]
        changed[i]["offset"] = changed[i]["offset"] + 1
        for variant in (dropped, changed):
            out.append(json.dumps([{"type": "pioneer"}] + variant, ensure_ascii=False).encode())
    return out


def follow_problems(rows: list[dict], expect: dict, owner: dict, n_files: int) -> list[list[str]]:
    """Per produced file, what is wrong with its rows in a follow stream:
    every (partition, offset) must arrive exactly once, rendered as the
    reference renders it.  Rows nobody produced are charged to file 0."""
    problems: list[list[str]] = [[] for _ in range(n_files)]
    seen = set()
    for row in rows:
        key = (row.get("partition"), row.get("offset"))
        i = owner.get(key)
        if i is None:
            problems[0].append(f"unexpected row {key}")
            continue
        if key in seen:
            problems[i].append(f"duplicate {key}")
        seen.add(key)
        if row != expect[key]:
            problems[i].append(f"row {key} differs from the reference")
    for key, i in owner.items():
        if key not in seen:
            problems[i].append(f"missing {key}")
    return problems
