"""Seeded input generator: Kafka-like topics as envelope parquet.

Every topic is laid out the way a Kafka log is: records are placed on
partitions by Kafka's default partitioner (murmur2 of the key, masked
positive, mod the partition count), offsets are contiguous per
partition, and each parquet file holds one partition's contiguous
offset range, named after its base offset like a log segment.

Values are JSON objects in exactly ``json.dumps`` form.  Each topic can
also be written as a msgpack copy (same records, key and value
msgpack-encoded).  No msgpack package is installed, so each record is
encoded with the few-line encoder ``mp_pack``.

Generated topics are cached by seed (and generator version) under the
work directory.

    python3 perfbench/gen.py --seed 7      # generate (or reuse) and list
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import struct
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import WORK  # noqa: E402

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
KINDS = ["view", "click", "cart", "purchase", "refund"]
KIND_P = [0.45, 0.30, 0.12, 0.08, 0.05]
WORDS = ["alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango", "zulu"]

# name -> (records, partitions, distinct keys, records per segment file)
TOPICS = {
    "warm": (4_000, 4, 500, 1_000),
    "firehose": (30_000, 8, 10_000, 2_000),
    "needle": (150_000, 16, 20_000, 5_000),
}
KEEP_SEEDS = 3

ENVELOPE = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def murmur2(data: bytes) -> int:
    """Kafka's 32-bit murmur2 (``org.apache.kafka.common.utils.Utils``)."""
    m, h = 0x5BD1E995, (0x9747B28C ^ len(data)) & 0xFFFFFFFF
    n4 = len(data) - len(data) % 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & 0xFFFFFFFF
        k ^= k >> 24
        k = (k * m) & 0xFFFFFFFF
        h = ((h * m) & 0xFFFFFFFF) ^ k
    rest = data[n4:]
    if rest:
        for j in range(len(rest) - 1, -1, -1):
            h ^= rest[j] << (8 * j)
        h = (h * m) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & 0xFFFFFFFF
    return h ^ (h >> 15)


def kafka_partition(key: str, n: int) -> int:
    return (murmur2(key.encode()) & 0x7FFFFFFF) % n


if kafka_partition("k2", 10) != 3:  # golden fact of the kbrowse integration fixture
    raise RuntimeError("murmur2 partitioner disagrees with Kafka (k2 -> 3 of 10)")


def mp_pack(v) -> bytes:
    """Minimal msgpack encoder (str < 32 bytes, non-negative ints, maps)."""
    if isinstance(v, dict):
        return bytes([0x80 | len(v)]) + b"".join(mp_pack(k) + mp_pack(x) for k, x in v.items())
    if isinstance(v, str):
        b = v.encode()
        if len(b) >= 32:
            raise ValueError("mp_pack encodes strings below 32 bytes only")
        return bytes([0xA0 | len(b)]) + b
    return bytes([v]) if v < 128 else b"\xce" + struct.pack(">I", v)


def _digits(x: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pa.array(x).cast(pa.string()), width, "0")


def _records(seed: int, n: int, n_keys: int, seq0: int = 0, t0_ms: int = BASE_MS):
    """Columns of ``n`` records: key and value strings, and timestamps."""
    rng = np.random.default_rng(seed)
    keys = pc.binary_join_element_wise("user-", _digits(rng.integers(0, n_keys, n), 5), "")
    kind = pa.array(KINDS).take(rng.choice(len(KINDS), n, p=KIND_P))
    sku = pc.binary_join_element_wise("sku-", _digits(rng.integers(0, 10_000, n), 4), "")
    qty = rng.integers(1, 100, n)
    seq = np.arange(seq0, seq0 + n, dtype=np.int64) + 1_000_000  # always a uint32 in msgpack
    words = pa.array(WORDS)
    note = pc.binary_join_element_wise(words.take(rng.integers(0, len(WORDS), n)), " ",
                                       words.take(rng.integers(0, len(WORDS), n)), "")
    value = pc.binary_join_element_wise(
        '{"user": "', keys, '", "kind": "', kind, '", "sku": "', sku,
        '", "qty": ', _digits(qty, 1), ', "seq": ', _digits(seq, 1),
        ', "note": "', note, '"}', "",
    )
    ts_ms = t0_ms + np.cumsum(rng.integers(1, 20, n))
    return {"key": keys, "value": value, "ts_ms": ts_ms}


def place(keys: pa.Array, n_partitions: int, next_offset: np.ndarray):
    """Partition and offset of each record, in produce order; advances
    ``next_offset`` (one slot per partition)."""
    uniq = pc.unique(keys)
    inv = pc.index_in(keys, value_set=uniq).to_numpy()
    part = np.array([kafka_partition(k, n_partitions) for k in uniq.to_pylist()], np.int32)[inv]
    offset = np.empty(len(part), np.int64)
    for p in range(n_partitions):
        idx = np.nonzero(part == p)[0]
        offset[idx] = next_offset[p] + np.arange(len(idx))
        next_offset[p] += len(idx)
    return part, offset


def envelope(topic: str, key, value, part, offset, ts_ms) -> pa.Table:
    n = len(part)
    return pa.table(
        [key.cast(pa.binary()), value.cast(pa.binary()), pa.array([topic] * n, pa.string()),
         pa.array(part, pa.int32()), pa.array(offset, pa.int64()),
         pa.array(np.asarray(ts_ms, np.int64) * 1000, pa.timestamp("us", tz="UTC")),
         pa.array(np.zeros(n, np.int32))],
        schema=ENVELOPE,
    )


def _write_segments(table: pa.Table, out_dir: str, n_partitions: int, seg: int) -> None:
    os.makedirs(out_dir)
    part = table["partition"].to_numpy()
    for p in range(n_partitions):
        rows = table.take(pa.array(np.nonzero(part == p)[0]))
        for start in range(0, rows.num_rows, seg):
            chunk = rows.slice(start, seg)
            base = chunk["offset"][0].as_py()
            pq.write_table(chunk, os.path.join(out_dir, f"p{p:02d}-{base:020d}.parquet"))


def _msgpack_copy(keys: pa.Array, values: pa.Array) -> tuple[pa.Array, pa.Array]:
    """Keys and values re-encoded as msgpack, one record at a time; each
    value must also be exactly the ``json.dumps`` form of its object."""
    mp_k, mp_v = [], []
    for k, v in zip(keys.to_pylist(), values.to_pylist()):
        obj = json.loads(v)
        if json.dumps(obj) != v:
            raise RuntimeError("generated JSON value differs from json.dumps")
        mp_k.append(mp_pack(k))
        mp_v.append(mp_pack(obj))
    return pa.array(mp_k, pa.binary()), pa.array(mp_v, pa.binary())


def _generate(seed: int, name: str, out: str) -> None:
    """Write topic ``name`` and its msgpack copy ``name + "_mp"`` under ``out``."""
    n, n_parts, n_keys, seg = TOPICS[name]
    rec = _records(seed * 1000 + list(TOPICS).index(name), n, n_keys)
    part, offset = place(rec["key"], n_parts, np.zeros(n_parts, np.int64))
    mp_k, mp_v = _msgpack_copy(rec["key"], rec["value"])
    _write_segments(envelope(name, rec["key"], rec["value"], part, offset, rec["ts_ms"]),
                    os.path.join(out, name), n_parts, seg)
    _write_segments(envelope(name, mp_k, mp_v, part, offset, rec["ts_ms"]),
                    os.path.join(out, name + "_mp"), n_parts, seg)


def topics_dir(seed: int, names) -> str:
    """Directory holding topics ``names`` (and their msgpack copies) for
    ``seed``; each is generated on first use."""
    base = os.path.join(WORK, "data")
    with open(__file__, "rb") as f:  # a changed generator never reuses old files
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    out = os.path.join(base, f"seed-{seed}-{version}")
    os.makedirs(out, exist_ok=True)
    for name in names:
        if not os.path.isdir(os.path.join(out, name)):
            tmp = os.path.join(out, f".tmp-{name}-{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            _generate(seed, name, tmp)
            for sub in (name + "_mp", name):  # the plain topic marks completion
                os.rename(os.path.join(tmp, sub), os.path.join(out, sub))
            os.rmdir(tmp)
    os.utime(out)
    cached = sorted(os.listdir(base), key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in cached[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return out


def read_topic(path: str) -> pa.Table:
    """Every segment of a topic directory, in file order."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(path, f)) for f in files])


class Producer:
    """Appends small envelope files to a topic directory, Kafka style:
    keys are placed by the default partitioner and offsets continue per
    partition.  Each file is written under a hidden name, then renamed,
    so a directory-watching reader never sees a partial file.  Each
    record's timestamp is the file's creation time."""

    def __init__(self, directory: str, seed: int, n_partitions: int = 4, n_keys: int = 2_000):
        self.dir, self.seed, self.n_partitions, self.n_keys = directory, seed, n_partitions, n_keys
        self.next_offset = np.zeros(n_partitions, np.int64)
        self.seq = 0
        self.files = 0
        os.makedirs(directory, exist_ok=True)

    def produce(self, n_records: int, created_ms: int) -> pa.Table:
        rec = _records(self.seed * 100_003 + self.files, n_records, self.n_keys,
                       seq0=self.seq, t0_ms=created_ms)
        part, offset = place(rec["key"], self.n_partitions, self.next_offset)
        table = envelope("follow", rec["key"], rec["value"], part, offset,
                         np.full(n_records, created_ms, np.int64))
        name = f"f{self.files:06d}.parquet"
        tmp = os.path.join(self.dir, "." + name + ".tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.dir, name))
        self.seq += n_records
        self.files += 1
        return table


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--topics", default=",".join(TOPICS), help="comma-separated topic names")
    args = ap.parse_args()
    t0 = time.perf_counter()
    out = topics_dir(args.seed, args.topics.split(","))
    print(f"{out} ready in {time.perf_counter() - t0:.1f} s")
    for name in sorted(os.listdir(out)):
        files = os.listdir(os.path.join(out, name))
        print(f"  {name}: {len(files)} files")


if __name__ == "__main__":
    main()
