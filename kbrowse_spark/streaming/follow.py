"""Follow mode (kbrowse O2): the unbounded variant of the scan.

The row pipeline is plans/planner.build_rows — the same one build_scan
runs, read with ``readStream`` and without the stop bounds.
This module only drives it: a ``foreachBatch`` sink that frames each
micro-batch through the pioneer protocol in EMIT_ORDER.  Bounded runs
use the ``availableNow`` trigger, which reproduces the reference's
offsets-snapshot stop bound (Q4).

The wall-clock kill switch (O10, `search.clj:118-122`) is a driver-side
watchdog: ``query.stop()`` after ``stop_after_seconds``.
"""

from __future__ import annotations

import threading
from typing import IO

from pyspark.sql import DataFrame, SparkSession

from kbrowse_spark.plans.planner import EMIT_ORDER, build_rows
from kbrowse_spark.plans.query_spec import QuerySpec
from kbrowse_spark.sinks.pioneer import CLOSE, open_chunks, render_row, row_chunk


def run_follow(
    spark: SparkSession,
    spec: QuerySpec,
    out: IO[str],
    bounded: bool = True,
    processing_interval: str = "1 second",
) -> None:
    """Run follow mode, writing the pioneer protocol incrementally.

    ``bounded=True`` uses availableNow (scan-to-snapshot then stop —
    batch parity); ``bounded=False`` polls until the kill switch fires.
    Plan-time errors raise before anything is written.
    """
    stream = build_rows(spark, spec, stream=True)
    lock = threading.Lock()

    for chunk in open_chunks():
        out.write(chunk)
    out.flush()

    def emit_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.orderBy(*EMIT_ORDER).toLocalIterator()
        with lock:
            for row in rows:
                out.write(row_chunk(render_row(row)))
            out.flush()

    writer = stream.writeStream.foreachBatch(emit_batch).outputMode("append")
    if bounded:
        query = writer.trigger(availableNow=True).start()
    else:
        query = writer.trigger(processingTime=processing_interval).start()
        # O10 kill switch: protect the cluster from immortal follows
        # (reference default 86400 s when the query didn't set one).
        deadline = (
            spec.stop_after_seconds if spec.stop_after_seconds is not None else 86400
        )
        timer = threading.Timer(deadline, query.stop)
        timer.daemon = True
        timer.start()

    query.awaitTermination()
    out.write(CLOSE)
    out.flush()
