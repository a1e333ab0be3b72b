"""The record envelope: reference semantics as declarative Column exprs.

The reference turns every Kinesis record into a 6-field dynamically-typed
map (reference main.go:264-279):

    Timestamp       <- record.ApproximateArrivalTimestamp   (main.go:265)
    HostId          <- record.PartitionKey, verbatim        (main.go:266-267)
    ShortHostId     <- last ':'-segment of PartitionKey,
                       'task/' / 'instance/' prefix removed (main.go:252-262)
    SequenceNumber  <- record.SequenceNumber                (main.go:270)
    LogEntry        <- string(record.Data)                  (main.go:271)
    Log             <- lenient JSON parse of Data; nil on
                       failure, never an error              (main.go:273-279)

Here the envelope is a fixed StructType over a raw connector-shaped input
(see RAW_KINESIS_SCHEMA) and each derivation is a built-in Column
expression — no UDFs, fully codegen'd, and the whole projection is a
narrow (shuffle-free) map over however many partitions the source has.

``Log`` is intentionally NOT materialized as a parsed column: the faithful
translation of Go's ``interface{}`` payload is schema-on-read — the
compiled template parses ``LogEntry`` once per row into a struct of only
the keys it reads — which also keeps the scan schema narrow. See
template.py for the access semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Raw record shape produced by Kinesis-style connectors (and by our test
# fixture): one row per stream record.
RAW_KINESIS_SCHEMA = StructType(
    [
        StructField("streamName", StringType()),
        StructField("shardId", StringType()),
        StructField("sequenceNumber", StringType()),
        StructField("approximateArrivalTimestamp", TimestampType()),
        StructField("partitionKey", StringType()),
        StructField("data", BinaryType()),
    ]
)

# The reference's envelope (main.go:264-271). 'Log' is virtual (see above).
ENVELOPE_SCHEMA = StructType(
    [
        StructField("Timestamp", TimestampType()),
        StructField("HostId", StringType()),
        StructField("ShortHostId", StringType()),
        StructField("SequenceNumber", StringType()),
        StructField("LogEntry", StringType()),
    ]
)

ENVELOPE_FIELDS = [f.name for f in ENVELOPE_SCHEMA.fields]

# Go-side alias pairs: HostID/HostId, ShortHostID/ShortHostId both exist in
# the reference's map (main.go:266-269). SQL identifiers are case-insensitive
# in Spark by default, so a single column serves both spellings.
ENVELOPE_ALIASES = {
    "HostID": "HostId",
    "ShortHostID": "ShortHostId",
}


def short_host_id(partition_key: Column) -> Column:
    """Derive ShortHostId (reference main.go:252-262).

    Last ':'-segment of the partition key, then strip a leading ``task/``
    (ECS task ARN) or ``instance/`` (EC2 instance ARN) path prefix, once.
    Every step works on the UTF-8 bytes (``substring_index``,
    ``startswith``, and a ``substring`` past an ASCII prefix), with no
    regex and no decode to a Java String per row; like Go's string
    functions, it keeps invalid UTF-8 bytes as they are.
    """
    last_segment = F.substring_index(partition_key, ":", -1)
    return (
        F.when(last_segment.startswith("task/"), F.substr(last_segment, F.lit(6)))
        .when(last_segment.startswith("instance/"), F.substr(last_segment, F.lit(10)))
        .otherwise(last_segment)
    )


def envelope_columns(
    ts: Column, partition_key: Column, sequence_number: Column, data: Column
) -> list[Column]:
    """The envelope as a select-list (reference main.go:264-271)."""
    return [
        ts.alias("Timestamp"),
        partition_key.alias("HostId"),
        short_host_id(partition_key).alias("ShortHostId"),
        sequence_number.alias("SequenceNumber"),
        data.cast(StringType()).alias("LogEntry"),
    ]


def with_envelope(raw: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Project a raw Kinesis-shaped DataFrame to the reference envelope.

    ``keep`` optionally retains raw columns (e.g. ``shardId`` for
    per-shard ordering tests). Works identically for batch and streaming
    DataFrames — it is a stateless narrow projection.
    """
    cols = envelope_columns(
        F.col("approximateArrivalTimestamp"),
        F.col("partitionKey"),
        F.col("sequenceNumber"),
        F.col("data"),
    )
    if keep:
        cols = [F.col(c) for c in keep] + cols
    return raw.select(*cols)


# JSON's four insignificant whitespace characters (RFC 8259 section 2).
_JSON_WS = " \t\n\r"


def json_opens(s: Column, opener: str) -> Column:
    """True iff the first character of ``s`` after JSON whitespace is
    ``opener`` (``{`` or ``[``); NULL for a NULL ``s``.

    A necessary condition for ``s`` to parse as an object or array, and
    a cheap one: every guarded parse below returns NULL when it is
    false, which is what the bare parse returns on such input (or, for a
    struct, its corrupt record), without entering the parser. Spark's
    JSON functions report a bad record by throwing and catching an
    exception per row, and log streams carry many non-object lines (see
    ``template._hoisted_payload`` for the measured cost).

    ``ltrim`` + ``startswith`` compare UTF-8 bytes, with no regex and no
    decode to a Java String per row. The opener and the whitespace are
    ASCII, so no invalid or multibyte sequence can pass for either.
    """
    return F.ltrim(s, F.lit(_JSON_WS)).startswith(opener)


def guarded_from_json(
    s: Column, schema: DataType | str, options: dict[str, str] | None = None
) -> Column:
    """``from_json(s, schema, options)``, NULL unless ``s`` opens with
    ``[`` (array schema) or ``{`` (struct or map schema)."""
    is_array = isinstance(schema, ArrayType) or (
        isinstance(schema, str) and schema.startswith("array")
    )
    return F.when(
        json_opens(s, "[" if is_array else "{"),
        F.from_json(s, schema, options),
    )


def guarded_object_keys(s: Column) -> Column:
    """``json_object_keys(s)``: NULL unless ``s`` is a JSON object."""
    return F.when(json_opens(s, "{"), F.json_object_keys(s))


def guarded_array_length(s: Column) -> Column:
    """``json_array_length(s)``: NULL unless ``s`` is a JSON array."""
    return F.when(json_opens(s, "["), F.json_array_length(s))


def is_json_object(log_entry: Column) -> Column:
    """True iff the payload parses as a JSON *object*.

    Used for the reference's template-error semantics: ``{{.Log.Field}}``
    errors (and the row is dropped, main.go:283-287) when ``Log`` is nil
    (unparseable payload, main.go:276-277) or not an object.
    ``json_object_keys`` returns NULL for invalid JSON and non-objects.
    """
    return guarded_object_keys(log_entry).isNotNull()
