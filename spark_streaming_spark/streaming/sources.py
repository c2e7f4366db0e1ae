"""Streaming sources with typed schemas at ingest (SURVEY.md §1.2: the
reference parses schemaless strings positionally deep in each pipeline;
we type them at the boundary so Catalyst can optimize everything after).

Parity map (reference → here):

* socket text source (``WordCount.java:30``)          → socket_lines
* HDFS dir monitor (``HDFSWordCount.java:25``)        → file_lines
* Kafka receiver/direct (``KafkaReceiverWordCount.java:34-39``,
  ``KafkaDirectWordCount.java:37-43``)                → kafka_lines
  (Structured Streaming's Kafka source is always "direct": offsets live
  in the checkpoint, partitions map 1:1 to tasks — the receiver/WAL
  machinery the reference documents is obsolete by design)
* rate source — test/synthetic generator (no reference twin)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def socket_lines(spark: SparkSession, host: str = "localhost",
                 port: int = 9999) -> DataFrame:
    """TCP line source: one string column ``value``. Dev/debug only — not
    replayable, so no exactly-once (same caveat the reference had)."""
    return (
        spark.readStream.format("socket")
        .option("host", host).option("port", port).load()
    )


def file_lines(spark: SparkSession, path: str) -> DataFrame:
    """Directory-monitor text source (≡ textFileStream): each new file's
    lines become stream rows; replayable, exactly-once capable."""
    return spark.readStream.format("text").load(path).withColumnRenamed(
        "value", "value"
    )


# The wire schema the Kafka source always produces (Spark docs,
# "Structured Streaming + Kafka Integration Guide"). decode_kafka is
# contract-tested against a static DataFrame with exactly this schema —
# the only part a broker-less container cannot prove is the TCP handshake.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_options(bootstrap: str, topic: str,
                  starting_offsets: str = "earliest",
                  max_offsets_per_trigger: int | None = None,
                  fail_on_data_loss: bool = True) -> dict[str, str]:
    """The exact option map handed to ``format("kafka")`` — factored out
    as a pure function so the option NAMES (the part that silently
    no-ops when misspelled) are pinned by a contract test without a
    broker. Names per the Spark Kafka integration guide."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_kafka(raw: DataFrame) -> DataFrame:
    """Decode the Kafka wire frame: binary key/value → string, metadata
    columns preserved. Pure DataFrame→DataFrame, so the same projection
    is contract-tested on a static frame with KAFKA_WIRE_SCHEMA."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic", "partition", "offset", "timestamp",
    )


def kafka_lines(spark: SparkSession, bootstrap: str, topic: str,
                starting_offsets: str = "earliest",
                max_offsets_per_trigger: int | None = None) -> DataFrame:
    """Kafka source, value decoded to string. Offsets are tracked in the
    checkpoint (exactly-once ingest ≡ what the reference's direct mode
    achieved manually). Rate-limit with maxOffsetsPerTrigger — the
    Structured Streaming replacement for the receiver/backpressure knobs
    in ``README.md:715-724``. Requires the spark-sql-kafka package on the
    cluster; the option map and decode projection are contract-tested
    broker-less (tests/test_streaming.py::test_kafka_contract*)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(bootstrap, topic, starting_offsets,
                              max_offsets_per_trigger).items():
        reader = reader.option(k, v)
    return decode_kafka(reader.load())


def rate_rows(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source: (timestamp, value) — synthetic load for
    soak/latency tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second)).load()
    )


def with_processing_time(df: DataFrame, ts_col: str = "proc_ts") -> DataFrame:
    """Processing-time parity mode (SURVEY.md §4.3(1)): stamp arrival
    time as the window column. The reference's windows are all
    arrival-time (``reduceByKeyAndWindow`` over received batches,
    ``/root/reference/src/main/java/com/soto/WindowHotWord.java:52-57``);
    piping a source through this and windowing on ``proc_ts`` reproduces
    those semantics on Structured Streaming. Event-time mode (window on a
    data timestamp + watermark) is the default everywhere else — use this
    only when arrival-time semantics are the requirement, since results
    are inherently non-reproducible (that's what the reference had)."""
    return df.withColumn(ts_col, F.current_timestamp())
