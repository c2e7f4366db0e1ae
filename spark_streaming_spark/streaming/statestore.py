"""State store provider selection.

The reference's whole checkpoint/state discussion
(``/root/reference/README.md:629-681``) maps onto Structured Streaming's
state store. The DEFAULT provider (HDFSBackedStateStoreProvider) keeps
every store's working set as an in-memory HashMap with HDFS snapshots —
fine for small keyed state, an executor-OOM risk when keyed state is
large (billions of users at 100 TB). RocksDBStateStoreProvider spills
state to local disk with bounded block-cache memory, and is required by
the arbitrary-state v2 API (``transformWithStateInPandas``,
stateful_v2.py).

A provider is fixed per query AT START from
``spark.sql.streaming.stateStore.providerClass`` and kept for the
checkpoint's lifetime — so selection is a context manager around
``start()``, exactly like replay._state_partitions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from spark_streaming_spark.streaming import replay

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def state_store_provider(spark: SparkSession, provider: str = "rocksdb"):
    """Run streaming-query starts under the named state store provider
    ("rocksdb" | "hdfs", or a fully-qualified provider class), in the
    locked save/set/restore of replay._scoped_conf. Restores the
    previous setting on exit; queries already started keep the
    provider they started with (per-checkpoint property)."""
    return replay._scoped_conf(
        spark, {_PROVIDER_KEY: PROVIDERS.get(provider, provider)})
