"""QuerySpec: the engine's query IR, with kbrowse CLI parity.

The reference's entire query language is the flat options map built by
`src/kbrowse/cli.clj:21-53`, validated at `cli.clj:55-67`.  This module
is the analyzer: parse -> typed spec -> semantic validation.  The plan
builder (plans/planner.py) turns a valid spec into a DataFrame.

Validation parity (cli.clj:58-66):
* ``default_partition`` requires ``key_regex``
* ``default_partition`` is incompatible with explicit ``partitions``
* ``start_timestamp`` is incompatible with ``relative_offset``
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


class QuerySpecError(ValueError):
    """Invalid query options (maps to HTTP 400 / CLI usage error — Q8)."""


@dataclass
class QuerySpec:
    # source: either a Kafka cluster or a parquet fixture path
    bootstrap_servers: str | None = None
    source_parquet: str | None = None

    topics: list[str] = field(default_factory=list)
    partitions: list[int] | None = None
    default_partition: bool = False

    key_regex: str | None = None
    value_regex: str | None = None

    key_deserializer: str = "string"  # string | msgpack | avro
    value_deserializer: str = "string"
    # Writer schemas for the avro path (JSON strings). In a deployment
    # with a schema registry these come from the registry client at
    # plan time (kbrowse search.clj:132-133); offline they're supplied.
    avro_key_schema: str | None = None
    avro_value_schema: str | None = None
    # Confluent schema-registry base URL: when set, avro payloads
    # resolve their writer schema per wire-header id at decode time
    # (reference search.clj:132-133); explicit --avro-*-schema wins.
    schema_registry_url: str | None = None

    # Topic partition count for offline (fixture) sources.  The Kafka
    # path gets this from broker metadata; a fixture can only infer
    # max(partition)+1 from data, which under-counts when high
    # partitions happen to be empty — and default-partition pruning
    # (murmur2 mod N) needs the true N.
    num_partitions: int | None = None

    relative_offset: int | None = None
    start_timestamp: str | None = None
    stop_timestamp: str | None = None

    follow: bool = False
    print_offset: int | None = None
    # Scale knobs for hot topics (SURVEY §4 resource governance):
    # min_partitions splits topic-partitions into offset sub-ranges
    # (batch + stream); max_offsets_per_trigger bounds each follow-mode
    # micro-batch (back-pressure).
    min_partitions: int | None = None
    max_offsets_per_trigger: int | None = None
    # None = unset (callers apply their configured default); the
    # reference default is 86400 s.  None (not 86400) so a service can
    # distinguish "client said 86400" from "client said nothing".
    stop_after_seconds: int | None = None

    def validate(self) -> "QuerySpec":
        if self.default_partition and not self.key_regex:
            raise QuerySpecError("--default-partition requires --key-regex")
        if self.default_partition and self.partitions:
            raise QuerySpecError(
                "--default-partition is incompatible with --partitions"
            )
        if self.start_timestamp is not None and self.relative_offset is not None:
            raise QuerySpecError(
                "--start-timestamp is incompatible with --relative-offset"
            )
        if not self.topics and not self.source_parquet:
            raise QuerySpecError("at least one topic (or --source-parquet) required")
        for d in (self.key_deserializer, self.value_deserializer):
            if d not in ("string", "msgpack", "avro"):
                raise QuerySpecError(f"unknown deserializer {d!r}")
        if self.print_offset is not None and self.print_offset <= 0:
            raise QuerySpecError("--print-offset must be positive")
        if self.min_partitions is not None and self.min_partitions <= 0:
            raise QuerySpecError("--min-partitions must be positive")
        if (
            self.max_offsets_per_trigger is not None
            and self.max_offsets_per_trigger <= 0
        ):
            raise QuerySpecError("--max-offsets-per-trigger must be positive")
        return self

    @classmethod
    def from_options(cls, opts: dict) -> "QuerySpec":
        """Build from a flat string-keyed options map (HTTP query args /
        CLI long opts with dashes or underscores).  Each value is parsed
        by its field's type; unknown keys are ignored, and an empty int
        value leaves the field unset."""
        spec = cls()
        for key, v in opts.items():
            name = key.replace("-", "_")
            kind = _FIELD_TYPES.get(name)
            if kind is None or v is None:
                continue
            flag = "--" + name.replace("_", "-")
            if kind == "bool":
                v = str(v).lower() in ("1", "true", "yes", "on", "")
            elif kind == "list[str]":
                v = [t for t in str(v).split(",") if t]
            elif kind == "list[int] | None":
                if v == "":
                    continue
                v = [_as_int(p, flag) for p in str(v).split(",")]
            elif kind == "int | None":
                if v == "":
                    continue
                v = _as_int(v, flag)
            setattr(spec, name, v)
        return spec.validate()


def _as_int(v, flag: str) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        raise QuerySpecError(f"{flag} must be an integer, got {v!r}")


# Field name -> annotation text (annotations are strings under
# ``from __future__ import annotations``), the parser's dispatch key.
_FIELD_TYPES = {f.name: f.type for f in fields(QuerySpec)}
