"""Plan builder: QuerySpec -> DataFrame scan pipeline.

The Spark-native equivalent of kbrowse's `search` prologue + poll loop
(`src/kbrowse/search.clj:128-201`), re-expressed declaratively:

* partition resolution -> source pruning (``assign`` option / fixture
  partition filter) — never a post-hoc filter over data we could have
  skipped reading
* offset-window snapshot -> ``startingOffsets``/``endingOffsets`` (Q4)
* regex filter -> anchored ``rlike`` (Q2: Java `matches()` semantics
  via ``\\A(?:pat)\\z``) — Catalyst pushes it to the scan boundary
* progress tap (O16) -> a side branch unioned in (Q5: progress rows are
  emitted for every n-th offset regardless of match)

The output DataFrame is the *discriminated-union row stream*
(type: offset|result).  ``build_scan`` orders it by EMIT_ORDER, the
deterministic order SURVEY §7 mandates for stable output hashing.
Follow mode (O2) runs the same pipeline, ``build_rows(stream=True)``:
only the source differs (``readStream``, ``maxOffsetsPerTrigger`` instead of
``endingOffsets``), and the stop bounds are dropped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbrowse_spark.functions.decoders import msgpack_str_udf, string_decode
from kbrowse_spark.plans.query_spec import QuerySpec, QuerySpecError
from kbrowse_spark.sources.fixture import ENVELOPE_SCHEMA, envelope_from_parquet
from kbrowse_spark.sources.kafka import kafka_options, resolve_partitions

# Emission order (SURVEY §7 hard-point 1): event-time first — preserves
# per-partition offset order on monotonic producers AND reproduces the
# reference's arrival-order interleave on its own integration fixtures
# — then (topic, partition, offset) as total tie-break; 'offset'
# (progress) rows sort before 'result' rows for the same record.
EMIT_ORDER = ("timestamp", "topic", "partition", "offset", "type")


def anchored(regex: str) -> str:
    r"""Full-match anchoring (Q2): Spark `rlike` is find(); the
    reference's `re-matches` is Java matches().  \A...\z (not ^...$)
    so embedded newlines can't fake a match."""
    return r"\A(?:" + regex + r")\z"


def _decode(
    df: DataFrame,
    col: str,
    deserializer: str,
    avro_schema: str | None = None,
    registry_url: str | None = None,
) -> DataFrame:
    out = f"{col}_str"
    if deserializer == "string":
        return df.withColumn(out, string_decode(F.col(col)))
    if deserializer == "msgpack":
        return df.withColumn(out, msgpack_str_udf()(F.col(col)))
    if deserializer == "avro":
        if avro_schema:
            # Pure-Python Avro decode (spark-avro jar unavailable
            # offline; on a cluster swap in from_avro + header strip —
            # see functions/avro.py).
            from kbrowse_spark.functions.avro import avro_str_udf

            return df.withColumn(out, avro_str_udf(avro_schema)(F.col(col)))
        if registry_url:
            # Writer schema per record from the registry by wire-header
            # id (reference KafkaAvroDeserializer behavior).
            from kbrowse_spark.functions.avro import avro_registry_udf

            return df.withColumn(out, avro_registry_udf(registry_url)(F.col(col)))
        # No schema known: surface the raw body after the wire header.
        from kbrowse_spark.functions.decoders import confluent_avro_payload

        return df.withColumn(out, string_decode(confluent_avro_payload(col)))
    raise QuerySpecError(f"unknown deserializer {deserializer!r}")


def load_envelope(
    spark: SparkSession, spec: QuerySpec, stream: bool = False
) -> DataFrame:
    """Source DataFrame in Kafka-envelope shape: partition pruning
    applied at the source, then the scan window (Q4, Q9).

    ``stream`` (follow mode) reads with ``readStream`` and drops the
    offset stop bound: the reference's follow ignores the snapshot
    bound but still honors the starting seek (search.clj:107,166,179).
    """
    if spec.source_parquet:
        snapshot, source = _fixture_reads(spark, spec.source_parquet, stream)
        conds = [F.col("topic").isin(spec.topics)] if spec.topics else []
        snapshot = _where(snapshot, conds)
        assignment = _fixture_assignment(snapshot, spec)
        if assignment is not None:
            cond = F.lit(False)
            for t, ps in assignment.items():
                for p in ps:
                    cond = cond | ((F.col("topic") == t) & (F.col("partition") == p))
            conds.append(cond)
            snapshot = snapshot.filter(cond)
        window = _fixture_window_condition(snapshot, spec, bounded=not stream)
        if window is not None:
            conds.append(window)
            snapshot = snapshot.filter(window)
        return _where(source, conds) if stream else snapshot
    if spec.bootstrap_servers:
        counts = _broker_partition_counts(spec)
        assignment = resolve_partitions(
            spec.topics,
            counts,
            spec.partitions,
            spec.key_regex if spec.default_partition else None,
        )
        opts = kafka_options(
            spec.bootstrap_servers,
            assignment,
            starting_offsets="earliest"
            if spec.relative_offset is None
            else _broker_starting_offsets(spec, assignment),
            ending_offsets=None if stream else "latest",
            max_offsets_per_trigger=spec.max_offsets_per_trigger if stream else None,
            min_partitions=spec.min_partitions,
        )
        reader = (spark.readStream if stream else spark.read).format("kafka")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()
    raise QuerySpecError("no source: set source_parquet or bootstrap_servers")


def _fixture_reads(
    spark: SparkSession, path: str, stream: bool
) -> tuple[DataFrame, DataFrame]:
    """(snapshot, source) for the fixture path: the plan-time batch view
    that partition pruning and the scan window resolve against, and the
    DataFrame the scan reads.  In batch mode they are the same."""
    if not stream:
        df = envelope_from_parquet(spark, path)
        return df, df
    if "*" not in path and not os.path.isdir(path):
        # The file-stream source reads directories: stage a single file
        # as one.  A directory of Spark-written tables needs a glob
        # (dir/*.parquet) — the file source does not recurse.
        from kbrowse_spark.operators.streaming_queries import _stage_stream_dir

        path = _stage_stream_dir(path)
    return (
        spark.read.schema(ENVELOPE_SCHEMA).parquet(path),
        spark.readStream.schema(ENVELOPE_SCHEMA).parquet(path),
    )


def _where(df: DataFrame, conds: list) -> DataFrame:
    for cond in conds:
        df = df.filter(cond)
    return df


def _fixture_assignment(df: DataFrame, spec: QuerySpec) -> dict | None:
    """Partition resolution for the fixture path.  Returns None when no
    pruning applies (all partitions)."""
    if not spec.default_partition and not spec.partitions:
        return None
    # Partition counts: prefer the explicit hint — data inference
    # (max+1) under-counts when high partitions are empty, which would
    # silently break murmur2 default-partition pruning.  The Kafka path
    # always has the true count from broker metadata
    # (kbrowse kafka.clj:51-57); the fixture path needs the hint.
    if spec.num_partitions is not None:
        topics = spec.topics or [
            r["topic"] for r in df.select("topic").distinct().collect()
        ]
        counts = {t: spec.num_partitions for t in topics}
    else:
        counts = {
            r["topic"]: r["n"]
            for r in df.groupBy("topic")
            .agg((F.max("partition") + 1).alias("n"))
            .collect()
        }
    topics = spec.topics or sorted(counts)
    return resolve_partitions(
        [t for t in topics if t in counts],
        counts,
        spec.partitions,
        spec.key_regex if spec.default_partition else None,
    )


def _broker_partition_counts(spec: QuerySpec) -> dict[str, int]:
    try:
        from kafka import KafkaConsumer  # type: ignore  # noqa: F401
    except ImportError as e:  # pragma: no cover - no client in this env
        raise QuerySpecError(
            "Kafka source requires the kafka-python client for metadata "
            "(not installed in this environment); use --source-parquet"
        ) from e
    consumer = KafkaConsumer(bootstrap_servers=spec.bootstrap_servers)
    try:
        return {t: len(consumer.partitions_for_topic(t) or ()) for t in spec.topics}
    finally:
        consumer.close()


def _broker_starting_offsets(spec: QuerySpec, assignment: dict) -> str:
    from kafka import KafkaConsumer, TopicPartition  # type: ignore

    from kbrowse_spark.sources.kafka import starting_offsets_json

    consumer = KafkaConsumer(bootstrap_servers=spec.bootstrap_servers)
    try:
        tps = [TopicPartition(t, p) for t, ps in assignment.items() for p in ps]
        earliest = {
            (tp.topic, tp.partition): o
            for tp, o in consumer.beginning_offsets(tps).items()
        }
        latest = {
            (tp.topic, tp.partition): o for tp, o in consumer.end_offsets(tps).items()
        }
        return starting_offsets_json(
            assignment, earliest, latest, spec.relative_offset
        )
    finally:
        consumer.close()


def _fixture_window_condition(
    snapshot_df: DataFrame, spec: QuerySpec, bounded: bool
):
    """Fixture-path scan-window condition from a plan-time snapshot of
    per-partition [earliest, latest): relative-offset with Q9 clamping,
    bounded by the snapshot (Q4) unless ``bounded`` is False (follow).
    On the Kafka path the same window compiles into source options.
    Returns None when no window applies."""
    if spec.relative_offset is None:
        return None
    from kbrowse_spark.sources.kafka import clamp_offset

    snap = (
        snapshot_df.groupBy("topic", "partition")
        .agg(F.min("offset").alias("earliest"), (F.max("offset") + 1).alias("latest"))
        .collect()
    )
    cond = F.lit(False)
    for r in snap:
        e, l = r["earliest"], r["latest"]
        n = spec.relative_offset
        start = clamp_offset(e + n if n >= 0 else l + n, e, l)
        part_cond = (
            (F.col("topic") == r["topic"])
            & (F.col("partition") == r["partition"])
            & (F.col("offset") >= start)
        )
        if bounded:
            part_cond = part_cond & (F.col("offset") < l)
        cond = cond | part_cond
    return cond


def build_rows(spark: SparkSession, spec: QuerySpec, stream: bool) -> DataFrame:
    """envelope -> window -> decode -> regex filter -> discriminated
    union (offset|result rows), unordered.  ``stream`` builds follow
    mode's unbounded stream: ``readStream``, without the stop bounds
    (the snapshot offset and stop_timestamp); its sink orders each
    micro-batch by EMIT_ORDER."""
    env = load_envelope(spark, spec, stream)
    if spec.start_timestamp:
        # The reference validates --start-timestamp but never applies it
        # (SURVEY O9: consumed at cli.clj:65-66, unused in search.clj) —
        # implemented for real here, as a filter on both source paths.
        env = env.filter(
            F.col("timestamp") >= F.lit(spec.start_timestamp).cast("timestamp")
        )
    if spec.stop_timestamp and not stream:
        env = env.filter(
            F.col("timestamp") <= F.lit(spec.stop_timestamp).cast("timestamp")
        )

    env = _decode(
        env, "key", spec.key_deserializer, spec.avro_key_schema,
        spec.schema_registry_url,
    )
    env = _decode(
        env, "value", spec.value_deserializer, spec.avro_value_schema,
        spec.schema_registry_url,
    )

    base_cols = [
        "topic",
        "partition",
        "offset",
        "timestamp",
        "key_str",
        "value_str",
    ]

    matched = env
    if spec.key_regex is not None:
        matched = matched.filter(F.col("key_str").rlike(anchored(spec.key_regex)))
    if spec.value_regex is not None:
        matched = matched.filter(F.col("value_str").rlike(anchored(spec.value_regex)))
    results = matched.select(F.lit("result").alias("type"), *base_cols)

    if spec.print_offset:
        # Q5: progress rows sample the *unfiltered* stream.
        progress = env.filter((F.col("offset") % spec.print_offset) == 0).select(
            F.lit("offset").alias("type"), *base_cols
        )
        return progress.unionByName(results)
    return results


def build_scan(spark: SparkSession, spec: QuerySpec) -> DataFrame:
    """The bounded scan: the row stream totally ordered by EMIT_ORDER.

    Output columns: type, topic, partition, offset, timestamp,
    key_str, value_str.
    """
    return build_rows(spark, spec, stream=False).orderBy(*EMIT_ORDER)

