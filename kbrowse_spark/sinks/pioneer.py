"""Pioneer-protocol sink: the reference's streaming JSON-array wire
format (SURVEY O17), preserved byte-for-byte so any kbrowse client can
consume this engine's output.

Protocol (`src/kbrowse/search.clj:25-32,159-160,201`):
``[`` then ``{"type": "pioneer"}`` then ``, <row>`` per row then ``]``.
Result rows carry epoch-millis timestamps and best-effort JSON-parsed
key/value (O14/O15); progress rows carry a rendered date string (Q5).

This module is the only place the framing is spelled: the batch scan
(``emit_json_array``), follow mode and the HTTP service all frame
through it.  Rows are streamed through ``toLocalIterator`` — one
partition's results in memory at a time, never a full collect; the
HTTP layer flushes per chunk exactly like the reference's piped output
stream.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame

from kbrowse_spark.functions.decoders import try_parse_json

PIONEER = {"type": "pioneer"}
CLOSE = "]"


def render_row(row) -> dict:
    """Envelope row -> wire dict (type-discriminated rendering)."""
    import datetime

    ts = row["timestamp"]
    # Spark returns naive datetimes in SESSION timezone (our sessions
    # pin UTC); naive .timestamp() would apply the OS timezone — pin
    # UTC explicitly so the epoch is right on any host.
    if ts is not None and ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    if row["type"] == "result":
        # epoch millis (search.clj:37)
        ts_out = int(ts.timestamp() * 1000) if ts is not None else None
        return {
            "type": "result",
            "timestamp": ts_out,
            "partition": row["partition"],
            "offset": row["offset"],
            "topic": row["topic"],
            "key": try_parse_json(row["key_str"]),
            "value": try_parse_json(row["value_str"]),
        }
    # progress rows: Date-rendered timestamp, raw strings (Q5,
    # search.clj:83-93).  ISO-8601 with T/Z — cheshire serializes
    # java.util.Date as yyyy-MM-dd'T'HH:mm:ss'Z', so existing kbrowse
    # clients parse the same format off this wire.
    return {
        "type": "offset",
        "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else None,
        "partition": row["partition"],
        "offset": row["offset"],
        "topic": row["topic"],
        "key": row["key_str"],
        "value": row["value_str"],
    }


def _dump(obj, pretty: bool = False) -> str:
    return json.dumps(obj, indent=2 if pretty else None, ensure_ascii=False)


def open_chunks(pretty: bool = False) -> tuple[str, str]:
    """The array's first two chunks: '[' and the pioneer row."""
    return "[", _dump(PIONEER, pretty)


def row_chunk(obj, pretty: bool = False) -> str:
    """One rendered row, as the array's next element."""
    return ", " + _dump(obj, pretty)


def error_close(e: BaseException) -> str:
    """Close the array after a mid-stream failure: the error is one more
    row, then ']', so the streamed body still parses."""
    return row_chunk({"error": str(e)}) + CLOSE


def emit_json_array(df: DataFrame, pretty: bool = True) -> Iterator[str]:
    """Yield protocol chunks: '[', pioneer, ', '+row ..., ']'."""
    yield from open_chunks(pretty)
    for row in df.toLocalIterator():
        yield row_chunk(render_row(row), pretty)
    yield CLOSE


def collect_protocol(df: DataFrame, pretty: bool = False) -> str:
    return "".join(emit_json_array(df, pretty=pretty))
