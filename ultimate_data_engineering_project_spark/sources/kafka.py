"""Kafka source/sink option contracts and the Confluent-Avro envelope
strip (SURVEY.md §2.1 S12, §2.1 S13).

The reference fronts ingestion with a Kafka broker on localhost:29092
(docker-compose.yaml:54-78) driven by kafka-python producers/consumers
(cdc/test.py:8-18), and runs Debezium with Avro key/value converters
against a Confluent Schema Registry (docker-compose.yaml:79-97).  The
Spark-native equivalents are the ``format("kafka")`` structured-
streaming connector and an Avro decode of the Confluent wire format
(sources/avro_py.py, no package needed).

This container ships neither a broker nor the spark-sql-kafka /
spark-avro connector jars, so the surface splits into what IS
verifiable here and what needs a cluster:

  * the option contracts (`kafka_source_options`, `kafka_sink_options`)
    are pure functions, unit-tested against the connector's documented
    option names;
  * the Confluent wire-format strip (`strip_confluent_envelope`) is
    built-in binary expressions only — magic byte check, big-endian
    schema id, payload slice — unit-tested on synthesized bytes;
  * `kafka_source` / `kafka_sink` apply those contracts verbatim; on a
    cluster with the connector packages they run as-is, in-container
    they raise Spark's own connector-missing error at load/analysis
    time.

CDC integration: `run_cdc_stream(..., source=kafka_source(...))` —
the pipeline accepts any streaming DataFrame with a ``value`` column,
so the Kafka frame drops in where the file-based stand-in reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Confluent wire format: 1 magic byte (0x00) + 4-byte big-endian
#: schema-registry id + Avro binary body.
_MAGIC_HEX = "00"
_HEADER_LEN = 5


def kafka_source_options(
    brokers: list[str] | str,
    topic: str,
    starting_offsets: str = "earliest",
    *,
    fail_on_data_loss: bool | None = None,
    max_offsets_per_trigger: int | None = None,
    **extra: str,
) -> dict[str, str]:
    """The exact option map a ``format("kafka")`` reader needs (S12).

    ``brokers`` may be a list (joined with commas, the connector's
    bootstrap-servers contract) or a ready string; ``topic`` accepts a
    comma-separated list for multi-topic subscribe.
    ``max_offsets_per_trigger`` bounds micro-batch size — the per-batch
    backpressure control a 100 TB replay needs so one trigger cannot
    pull an unbounded backlog."""
    servers = ",".join(brokers) if isinstance(brokers, (list, tuple)) else brokers
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = "true" if fail_on_data_loss else "false"
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(extra)
    return opts


def kafka_source(
    spark: SparkSession,
    brokers: list[str] | str,
    topic: str,
    starting_offsets: str = "earliest",
    *,
    streaming: bool = True,
    **extra: str,
) -> DataFrame:
    """Kafka source frame (S12): key/value binary + topic/partition/
    offset/timestamp metadata columns, streaming (`readStream`) or
    batch replay (`read`, e.g. for backfills).  Applies
    :func:`kafka_source_options` verbatim; requires the
    spark-sql-kafka connector package on the cluster."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("kafka")
    for k, v in kafka_source_options(
        brokers, topic, starting_offsets, **extra
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_sink_options(
    brokers: list[str] | str,
    topic: str,
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """The option map a ``format("kafka")`` writer needs (S12).  The
    checkpoint location carries the exactly-once offsets state."""
    servers = ",".join(brokers) if isinstance(brokers, (list, tuple)) else brokers
    opts = {"kafka.bootstrap.servers": servers, "topic": topic}
    if checkpoint_dir is not None:
        opts["checkpointLocation"] = checkpoint_dir
    return opts


def kafka_sink(
    df: DataFrame,
    brokers: list[str] | str,
    topic: str,
    checkpoint_dir: str,
    *,
    output_mode: str = "append",
):
    """Streaming Kafka sink (S12): serializes ``df`` to the connector's
    (key, value) binary contract — a ``value`` column is required, a
    ``key`` column optional — and starts the query.  Requires the
    spark-sql-kafka connector package on the cluster."""
    cols = [F.col("value").cast("binary").alias("value")]
    if "key" in df.columns:
        cols.insert(0, F.col("key").cast("binary").alias("key"))
    writer = df.select(*cols).writeStream.format("kafka").outputMode(output_mode)
    for k, v in kafka_sink_options(brokers, topic, checkpoint_dir).items():
        writer = writer.option(k, v)
    return writer.start()


def strip_confluent_envelope(
    df: DataFrame,
    value_col: str = "value",
    *,
    bad_magic: str = "error",
) -> DataFrame:
    """Split the Confluent wire format (S13) into ``schema_id`` (int)
    and ``payload`` (Avro binary body) with built-in expressions only —
    no UDF, no driver round-trip, testable without any Avro runtime.

    A Debezium topic with the registry's AvroConverter frames every
    message as ``0x00 | int32 schema id (big-endian) | avro body``;
    `from_avro` must receive ONLY the body or it mis-parses.

    NULL values are Kafka TOMBSTONES (Debezium emits (key, NULL) after
    every delete on a compacted topic) — routine protocol, not corrupt
    frames: they pass through every mode with NULL schema_id/payload so
    the CDC apply can still see the delete marker.  The output carries
    ``is_tombstone`` so "keep"-mode consumers can split quarantine
    (NULL schema_id AND NOT is_tombstone = corrupt frame) from routine
    deletes WITHOUT re-deriving the magic check on the raw bytes —
    both classes share NULL schema_id/payload otherwise.

    ``bad_magic`` (non-NULL, non-Avro-framed values): "error" raises on
    the first one (corrupt producer — fail loudly), "drop" filters
    them, "keep" passes them through with NULL schema_id/payload for a
    quarantine split.  The "error" guard is a FILTER over the input,
    not a projection on an output column — a column-level guard dies
    with column pruning the moment a consumer selects only payload."""
    if bad_magic not in ("error", "drop", "keep"):
        raise ValueError(f"bad_magic must be error|drop|keep, got {bad_magic!r}")
    v = F.col(value_col)
    tombstone = v.isNull()
    ok = (F.length(v) >= _HEADER_LEN) & (
        F.hex(F.expr(f"substring({value_col}, 1, 1)")) == _MAGIC_HEX.upper()
    )
    schema_id = (
        F.conv(F.hex(F.expr(f"substring({value_col}, 2, 4)")), 16, 10)
        .cast("long")
        .cast("int")
    )
    payload = F.expr(
        f"substring({value_col}, {_HEADER_LEN + 1}, "
        f"length({value_col}) - {_HEADER_LEN})"
    )
    if bad_magic == "drop":
        df = df.filter(tombstone | ok)
    elif bad_magic == "error":
        # filter-level guard: filters are never column-pruned, so the
        # error fires no matter which output columns a consumer reads
        df = df.filter(
            F.when(tombstone | ok, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("not Confluent-Avro framed (magic byte != 0x00): "),
                        F.coalesce(
                            F.hex(
                                F.expr(f"substring({value_col}, 1, {_HEADER_LEN})")
                            ),
                            F.lit("<null>"),
                        ),
                    )
                ).cast("boolean")
            )
        )
    return (
        df.withColumn("is_tombstone", tombstone)
        .withColumn("schema_id", F.when(ok, schema_id))
        .withColumn("payload", F.when(ok, payload))
    )

