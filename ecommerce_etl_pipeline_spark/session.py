"""SparkSession factory with scale-appropriate defaults.

The reference hand-tunes its runtime (chunked scans, 10% sampling, Postgres
shared_buffers — see SURVEY.md §4); here the equivalent knobs are Spark confs
set once: AQE (runtime re-planning, skew-join splitting, partition
coalescing), a broadcast threshold sized so every reference dimension table
(products 44k / customers 100k rows) broadcasts, and UTC session time so
date semantics match the DuckDB oracle.

Shuffle partitions follow the cores. On a ``local[N]`` master with no
explicit ``shuffle_partitions``, ``spark.sql.shuffle.partitions`` is 2 × N,
so every exchange and state-store stage runs in about two task waves on
any host. AQE coalesces oversized counts on batch exchanges, but
Structured Streaming has no AQE: a stateful stream freezes the count into
its checkpoint and runs that many state-store tasks every batch, and each
task pays a fixed checkpoint-write cost whatever its row count. State-store
cost therefore scales with task waves, not rows, at this engine's sizes.
On any other master the deployment's own setting stands (on a cluster,
2-3× total executor cores; at 100 TB input also raise
``spark.sql.files.maxPartitionBytes`` and rely on AQE coalescing rather
than hand-sizing).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_BROADCAST_THRESHOLD = 64 * 1024 * 1024  # 64 MiB: all reference dims fit


def local_shuffle_partitions(master: str) -> int | None:
    """2 × the task threads of a ``local``, ``local[N]``, ``local[*]`` or
    ``local[N,F]`` master; ``None`` for any other master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    if m is None:
        return None
    threads = m.group(1) or "1"
    return 2 * ((os.cpu_count() or 1) if threads == "*" else int(threads))


def get_spark(
    app_name: str = "ecommerce-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Honors ``SPARK_GRAFT_CPUS`` for local-mode parallelism so tests and
    bench.py agree with the driver's environment; shuffle partitions
    default to :func:`local_shuffle_partitions` of the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # Size the single local-mode JVM to the host, not Spark's 1g default.
    # In local mode the "driver" heap IS the executor memory for every
    # task thread, and 32 threads on 1g spend the suite in GC — measured
    # round 5: headline med3 13.8s -> 10.6s and the collect-heavy PageRank
    # single-shot 10.9s -> 3.7s from this setting alone. Builder-time
    # spark.driver.memory arrives after the JVM launches (the make_sf1 /
    # scale_probe scripts hit this first), so it must go through
    # PYSPARK_SUBMIT_ARGS before the first session starts; on a real
    # cluster this env is absent and --driver-memory/--executor-memory
    # come from spark-submit as usual.
    if master.startswith("local"):
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if mem is None:
            # default: half the available physical memory, capped at 16g
            # and floored at Spark's own 1g default — a fixed 16g would
            # push a small host (graph.py targets 1 GB drivers as the
            # floor) into swap or an OOM kill instead of GC pressure.
            # "Available" is the min of the host total and any cgroup
            # limit: in a memory-limited container sysconf reports the
            # HOST's memory, and sizing to it re-creates the OOM kill this
            # clamp exists to prevent. If no probe works (non-POSIX, no
            # cgroup), keep the unclamped 16g default rather than
            # silently dropping to a GC-bound 1g.
            try:
                host_mb = (
                    os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
                ) // (1024 * 1024)
            except (ValueError, OSError, AttributeError):
                host_mb = 0
            for limit_file in (
                "/sys/fs/cgroup/memory.max",  # cgroup v2
                "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # v1
            ):
                try:
                    with open(limit_file) as fh:
                        raw = fh.read().strip()
                    if raw.isdigit():
                        cg_mb = int(raw) // (1024 * 1024)
                        host_mb = min(host_mb, cg_mb) if host_mb else cg_mb
                    break
                except OSError:
                    continue
            mem = (
                f"{min(16 * 1024, max(1024, host_mb // 2))}m"
                if host_mb
                else "16g"
            )
        os.environ.setdefault(
            "PYSPARK_SUBMIT_ARGS", f"--driver-memory {mem} pyspark-shell"
        )
    if shuffle_partitions is None:
        shuffle_partitions = local_shuffle_partitions(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching. This is the engine's
        # answer to the reference's hand-rolled chunking/sampling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic date/time semantics (match DuckDB naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the few sanctioned pandas_udf escape hatches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(DEFAULT_BROADCAST_THRESHOLD))
        # Lenient casts (invalid → null) mirror pandas to_numeric(errors='coerce'),
        # reference clean_product_v2.py:32.
        .config("spark.sql.ansi.enabled", "false")
        # The generated-class cache defaults to 100 entries; a long-lived
        # session running this engine's registry (150+ distinct plans, each
        # compiling several WholeStageCodegen/projection classes) evicts and
        # silently RE-compiles hot stages mid-query. Sizing it to hold the
        # whole registry cut the sf0.1 headline median-of-3 ~13% (round 5);
        # on a cluster the same thrash recurs per-executor, so this is a
        # scale default, not a bench tweak.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
