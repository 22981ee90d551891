"""SparkSession bootstrap tuned for the engine.

The reference engine (Presto) provisions its execution
environment in presto-main's TaskExecutor + memory pools; on Spark all of
that is session configuration.  This module is the single place where the
engine's performance posture is declared (``engine_conf``):

- AQE on for cluster masters (runtime join-strategy switch, skew-join
  splitting, partition coalescing) — the Spark analogue of Presto's
  ``DetermineJoinDistributionType`` / ``RuntimeReorderJoinSides`` rules.
  On local[...] masters AQE defaults off (its per-stage job
  materialization + re-optimization dominates sub-second runs; see the
  inline note).
- CBO + join reorder on — analogue of ``ReorderJoins`` /
  ``EliminateCrossJoins`` (needs ANALYZE stats to bite).
- Runtime bloom filters + dynamic partition pruning — analogue of
  Presto's ``DynamicFilterSourceOperator`` dynamic filtering (bloom
  filters follow AQE: off on local[...] masters).
- Nested schema pruning — analogue of ``PushdownSubfields``.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle.

One configuration channel, as in Presto (``config.properties`` at
launch, session properties per session): these are DEFAULTS.  A key the
deployment sets in ``spark-defaults.conf`` is not handed to the builder,
so the deployment's value takes effect (``spark.master`` included); the
JVM options are the one exception — the engine's collector flag is
appended to the deployment's ``extraJavaOptions`` (``java_options``).
Per session, ``spark.conf.set`` (or a mapped ``SET SESSION`` property,
e.g. ``hash_partition_count``, see ``engine._SESSION_PROP_TO_CONF``)
overrides the runtime keys: ``spark.sql.adaptive.enabled`` and
``spark.sql.optimizer.runtime.bloomFilter.enabled`` restore AQE and
runtime filters on a local master, and ``spark.sql.shuffle.partitions``
resizes shuffles for a larger layout.  The garbage collector is chosen
through the deployment's ``extraJavaOptions``.

Scale note: these settings are cluster-neutral.  Shuffle partitions
default small for local test SFs; at 100 TB you'd raise them (or rely on
AQE coalescing from a high initial number, which is why
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is wired).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "engine_conf"]


# a JVM option that selects the garbage collector (the JVM refuses two)
_COLLECTOR_FLAG = re.compile(r"-XX:\+Use\w*GC\b")

# keys whose deployment value the engine extends instead of yielding to
_JAVA_OPTION_KEYS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def deployment_conf(key: str) -> str | None:
    """``key``'s value in the deployment's ``spark-defaults.conf`` (the
    file spark-submit reads: ``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``), or None.  Builder settings override that file
    when the JVM starts, so a setting meant to extend it reads it here."""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if not conf_dir:
        home = os.environ.get("SPARK_HOME")
        if not home:
            from pyspark.find_spark_home import _find_spark_home

            home = _find_spark_home()
        conf_dir = os.path.join(home, "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    value = None
    for line in lines:  # java.util.Properties: the last entry wins
        m = re.match(r"\s*([^\s=:#!][^\s=:]*)\s*[=:\s]\s*(.*?)\s*$", line)
        if m and m.group(1) == key:
            value = m.group(2)
    return value


def java_options(existing: str | None) -> str:
    """JVM options: ``existing`` (the deployment's), then the engine's
    ``-XX:+UseParallelGC`` — dropped when ``existing`` already selects a
    collector."""
    gc = "" if existing and _COLLECTOR_FLAG.search(existing) else "-XX:+UseParallelGC"
    return " ".join(p.strip() for p in (existing or "", gc) if p.strip())


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def engine_conf(master: str, cpus: int) -> dict[str, str]:
    """The engine's Spark settings for ``master`` on ``cpus`` cores —
    defaults that a deployment's ``spark-defaults.conf`` overrides (see
    ``get_spark``)."""
    is_local = master.startswith("local")
    # AQE + runtime bloom filters are unconditional wins on a cluster
    # (runtime re-plan, skew splitting, semi-join reduction) but carry a
    # fixed per-stage price that dominates sub-second local runs: AQE
    # materializes every shuffle stage as its own job and RE-OPTIMIZES
    # the remaining plan between stages (measured: dedup_semantic's
    # large plan tree 2.61 s -> 0.50 s at sf0.1 with AQE off, ml_kmeans
    # 0.92 -> 0.46, 9 jobs -> 3), and bloom-filter injection adds an
    # aggregate subquery per join whose build side here is a few KB
    # (tpch_q09 0.42 -> 0.30).  On local[...] masters both default OFF;
    # any non-local master keeps them ON.  Both are runtime confs:
    # spark-defaults.conf or spark.conf.set turn them back on locally.
    cluster_posture = str(not is_local).lower()
    conf = {
        # --- determinism / oracle parity ---
        "spark.sql.session.timeZone": "UTC",
        # --- adaptive execution (runtime re-plan ≈ Presto AQE-ish rules) ---
        "spark.sql.adaptive.enabled": cluster_posture,
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Size shuffle partitions to the DATA, not the core count
        # (round 10): at the local test SFs a 600k-row shuffle split 32
        # ways is ~20k rows/task — scheduling and task-init overhead
        # dominate, and most reduce tasks of a 4-group aggregation are
        # empty.  8 partitions (~75k rows / tens of MB per task at
        # sf0.1, the standard 64-128MB/partition sizing rule) measured
        # a broad full-bench win: 19.0 s -> 16.6 s total, 20 -> 30 of
        # 97 queries within 2x of DuckDB, with NO query regressing
        # beyond noise.  Non-local masters keep the core-count default
        # and, under AQE, coalesce from a high initial number — at
        # 100 TB you RAISE this (or let AQE pick it).
        "spark.sql.shuffle.partitions": "8" if is_local else str(min(cpus, 32)),
        # --- cost-based optimization (≈ ReorderJoins + stats rules) ---
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # --- join strategy: hash over sort-merge (Presto posture) ---
        # Presto's LookupJoinOperator is hash-based; it never sorts to
        # join.  Spark's SMJ default pays an O(n log n) sort per side
        # that a shuffled hash join skips (measured at the sf10x decade:
        # q05 4.64->4.04 s, q18 6.26->5.52, no regressions).  SMJ still
        # kicks in when the hash build can't fit or data is pre-sorted
        # (the bucketed-merge plan test opts back in explicitly).
        "spark.sql.join.preferSortMergeJoin": "false",
        # --- runtime filtering (≈ DynamicFilterSourceOperator) ---
        "spark.sql.optimizer.runtime.bloomFilter.enabled": cluster_posture,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        # --- scan efficiency ---
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # --- python<->jvm transfer ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # --- local-mode niceties (a deployment's own value wins) ---
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        # ContextCleaner sweep: without periodic GC, JVM-side shuffle /
        # broadcast blocks stay pinned until a driver full-GC happens to
        # run, which in a long-lived session means unbounded growth.
        "spark.cleaner.periodicGC.interval": "1min",
        # Generated-class cache sized to the workload (round 15): the
        # bench loop carries 104 distinct queries x several codegen
        # units each; the default 100-entry cache thrashes between
        # queries, so every pass re-Janino-compiles most units.  A few
        # thousand entries holds the whole suite (classes are KB-sized;
        # static conf, read at JVM start).
        "spark.sql.codegen.cache.maxEntries": "5000",
    }
    # Throughput GC for batch work (round 15): this engine is a
    # classic allocation-heavy batch workload (hash aggs,
    # collect_list buffers, exploded shingle rows), where G1's
    # concurrent marking + region bookkeeping costs throughput it
    # only repays in pause-time SLAs we don't have.  Measured on
    # the 10-query heavy subset, 5 interleaved fresh-JVM pairs:
    # ParallelGC won every paired window (totals 5.9/4.4/4.9/4.3/4.9
    # vs G1 7.3/4.6/8.0/5.5/5.5 s) and 8/10 per-query minima, -6%
    # on the sum of minima.  Same recommendation class as the Spark
    # tuning guide's GC section for throughput-bound executors —
    # not a local-mode trick.  Where pause times matter, the
    # deployment names its collector in extraJavaOptions and this
    # flag steps aside.  Takes effect only at JVM launch (the bench,
    # the entry point and the tests all start fresh JVMs through
    # here).  The flag
    # reaches EXECUTORS too (on a cluster the batch work runs there;
    # in local mode executor opts are unused and harmless).
    for key in _JAVA_OPTION_KEYS:
        conf[key] = java_options(None)
    if is_local:
        # Single-host executors: shuffle blocks never cross a network,
        # so spend zero cycles on lz4 and keep the files on tmpfs
        # (measured 12% on the sf1x heavy-join suite).  A cluster
        # deployment overrides master and keeps compression — these are
        # gated on local mode precisely because they'd be wrong there.
        if os.path.isdir("/dev/shm"):
            conf["spark.local.dir"] = "/dev/shm/spark_local"
        conf["spark.shuffle.compress"] = "false"
        conf["spark.shuffle.spill.compress"] = "false"
        # every task is process-local in one JVM; never wait
        conf["spark.locality.wait"] = "0"
    return conf


def get_spark(
    app_name: str = "presto-copy-spark", *, master: str | None = None
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    The master is ``master``, else the deployment's ``spark.master``,
    else ``local[cpus]``.  Of ``engine_conf``, only the keys the
    deployment's ``spark-defaults.conf`` leaves unset reach the builder
    (the file applies at JVM launch, the builder's values over it); the
    JVM options are appended to the deployment's.

    ``getOrCreate`` semantics: if a session already exists, dynamic confs
    are applied where possible; tests share one JVM.
    """
    cpus = default_parallelism()
    deployed_master = deployment_conf("spark.master")
    master = master or deployed_master or f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name)
    if master != deployed_master:
        b = b.master(master)
    for key, value in engine_conf(master, cpus).items():
        deployed = deployment_conf(key)
        if key in _JAVA_OPTION_KEYS:
            b = b.config(key, java_options(deployed))
        elif deployed is None:
            b = b.config(key, value)
    return b.getOrCreate()
