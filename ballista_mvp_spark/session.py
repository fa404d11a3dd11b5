"""SparkSession construction for the engine.

The reference builds a DataFusion ``SessionContext`` per client session with
round-robin repartitioning disabled and target_partitions from config
(reference: ballista/scheduler/src/state/session_manager.rs:49-57). Our
equivalent is a SparkSession tuned for the same role: AQE on (the Spark
analogue of the reference's stage-resolution-time JoinSelection re-planning,
reference: ballista/scheduler/src/state/execution_stage.rs:246-253), hash
shuffle partitioning governed by ``spark.sql.shuffle.partitions``, UTC
session timezone for oracle-stable timestamp semantics.

Scale notes (100 TB discipline):
- AQE + coalescePartitions + skewJoin handle runtime re-planning, small
  partition merging, and skewed join keys without manual salting in the
  common case.
- ``spark.sql.files.maxPartitionBytes`` left at default 128m: at 100 TB that
  yields ~800k scan tasks, the right granularity for a 1000-executor fleet.
- shuffle.partitions defaults here are for local[N] testing; a cluster
  deployment overrides via --conf (AQE coalescing makes the initial number
  non-critical as long as it is an upper bound).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "ballista-mvp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Mirrors the session-construction role of the reference scheduler's
    ``SessionManager::create_session`` (session_manager.rs:34-57) — one
    place that pins every execution-relevant config.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nparts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.default.parallelism", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # spark.sql.cbo.enabled deliberately NOT set here: CBO stat
        # derivation runs per-plan in the optimizer; Engine.estimate is the
        # one consumer and enables it locally (save/restore) instead of
        # taxing every query's planning time.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Broadcast policy (round 9, measured in tools/decon_scale.py +
        # tools/plan_audit.py audit D): the STATIC threshold is OFF and
        # only AQE's RUNTIME threshold promotes joins to broadcast.
        # Catalyst's pre-execution size estimates are structurally
        # disconnected from true cardinality on explode-derived frames
        # (the wide text column divides the row estimate while the
        # explode fans out 10-100x): 28 of 320 registry plans would
        # static-broadcast a corpus-derived shingle/band/vocab frame
        # under an estimate threshold, AQE can never demote a
        # statically-planned broadcast (no shuffle stage to re-measure),
        # and the measured end state is 'Not enough memory to build and
        # broadcast' at ~67M derived rows — not a graceful flip. With
        # static off, every un-hinted join plans as a shuffle join and
        # AQE converts to broadcast from the MATERIALIZED stage size
        # (localShuffleReader keeps the probe side cheap), which is the
        # only size signal that stays truthful at 100 TB. Explicit
        # F.broadcast() contract pins (dimensions, bounded probe/eval
        # sides) bypass both thresholds, unchanged.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark cannot
        # represent; read as long and convert in tables.py (SURVEY.md §1.2:
        # ns must truncate to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 2026-08 testdata regen: ts is plain µs NTZ-annotated; read as LTZ so
        # event-time watermarks accept it (values identical under UTC).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # -XX:-DontCompileHugeMethods was evaluated for the unrolled
        # fixed-dim vector arithmetic (operators/similarity.dot) and
        # REJECTED by interleaved A/B (OPTIMIZATION_r11.md): it JIT-compiled
        # the >8 KB generated methods (isolated dot microbench 18.6→9.5 s)
        # but the C2 compile storms it triggers on the big codegen'd plans
        # made real queries erratically slower (dedup_embedding_exact cold
        # 30→41-107 s, sim_hybrid_rrf warm 1.8→6.9-11.1 s). The unrolled
        # expressions are fast enough bytecode-interpreted.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # Generated-class cache (static conf: a JVM-wide Guava LRU inside
        # CodeGenerator). Spark's default of 100 entries is smaller than
        # the engine's working set: one pass of the six llm_pipeline
        # benchmark queries generates 184 distinct classes and the 22
        # TPC-H queries 346-390 (sf0.01). A pass reuses its classes in a
        # cycle, so an LRU smaller than the cycle evicts every class
        # before its next use and each warm pass recompiles nearly all
        # of them (llm_pipeline: 146 compiles, 1.8 s of janino per pass;
        # TPC-H: 379-381, 4.1-4.2 s). 1000 is ~3x the largest measured
        # working set; JVM non-heap after two TPC-H passes grew by
        # under 1 MiB (243.6 -> 244.5 MiB).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
