"""SparkSession factory.

Centralizes the configuration that the whole engine depends on:

- UTC session timezone: all timestamp <-> key derivations (date_id /
  time_id, reference fact_gold_price.py:61-62) are defined against a fixed
  zone; business-local time (Asia/Tehran in the reference) is an explicit
  ``from_utc_timestamp`` conversion, never an ambient setting.
- AQE on: runtime coalescing + skew-join handling are the 100 TB story for
  the shuffle-heavy operators (grouped interpolation, LSH bucket joins).
- shuffle.partitions sized for the local harness; on a real cluster this
  is overridden (or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Business timezone of the reference deployment (fact_gold_price.py:61).
BUSINESS_TZ = "Asia/Tehran"


def get_spark(
    app_name: str = "myserver-datawarehouse-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a real cluster the
    master/memory settings come from spark-submit; everything set here is
    master-agnostic semantics (timezone, AQE, Arrow) plus local defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet TIMESTAMP(NANOS) (e.g. events.ts) is unreadable natively;
        # read as long and convert in the source layer (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Cap in-memory partition bytes so a 100 TB scan splits sanely;
        # harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Reliable-checkpoint data (see `materialize`) is reclaimed when
        # its frame is garbage-collected instead of accumulating one
        # copy per materialized intermediate for the session's lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Conf keys for the materialization profile (see `materialize`).
RELIABLE_CHECKPOINT_CONF = "spark.msdw.reliableCheckpoint"
CHECKPOINT_DIR_CONF = "spark.msdw.checkpointDir"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize an intermediate and truncate its lineage —
    the engine's one sanctioned lineage-cut, used by the iterative
    connected-components loops and shared candidate-pair frames.

    Two profiles, selected by session conf (default = local):

    - local (default): ``localCheckpoint(eager=True)`` — executor-local
      block storage, no filesystem round trip. Right for local[*] and
      for clusters where losing an executor may fail the job anyway.
    - reliable (``spark.msdw.reliableCheckpoint=true``): a real
      ``checkpoint(eager=True)`` into the checkpoint directory
      (``spark.msdw.checkpointDir``, default under the local tmp dir;
      point it at HDFS/object storage on a cluster). localCheckpoint
      state DIES WITH ITS EXECUTOR — on a 1000-executor run an
      iterative loop holding only local checkpoints is one preemption
      away from losing the whole job, which is exactly when the
      filesystem round trip is worth paying.

    Same logical result either way; tests assert profile equivalence.
    """
    spark = df.sparkSession
    reliable = (
        spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false").lower() == "true"
    )
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = spark.sparkContext
    conf_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if conf_dir:
        # Explicit conf always wins — setCheckpointDir is idempotent
        # and cheap, and silently preferring a previously-set dir would
        # make the documented conf a no-op in long sessions.
        if (sc.getCheckpointDir() or "").rstrip("/") != conf_dir.rstrip("/"):
            sc.setCheckpointDir(conf_dir)
    elif sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), f"msdw_ckpt_{os.getpid()}")
        )
    # Checkpoint data is reclaimed when the frame is GC'd because
    # get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints;
    # on an externally-built session without it, files persist until
    # the directory is cleaned — the standard Spark trade for state
    # that must survive executor loss.
    return df.checkpoint(eager=True)


def parallel_actions(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent blocking Spark actions concurrently
    (guide §2.6, overlap independent jobs) and return their results in
    submission order. Jobs over a few hundred rows each are dominated
    by per-job fixed cost (schedule, commit) and their task tails
    leave almost every core idle, so a small pool (at most 4 in
    flight) lets the next job's tasks back-fill.

    BARRIER semantics: returns only when every action finished
    (callers rely on e.g. all-indexes-written-before-probe ordering).
    If an action raises, the first exception in submission order
    propagates, but only after every action has finished."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]
