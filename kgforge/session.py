"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and
spark-submit jobs share one tuned configuration:

- AQE on (runtime coalescing + skew-join splitting — the north rule's
  "AQE-tuned shuffles");
- Arrow on with a bounded batch size so the batched pandas UDFs
  (chunkers / extractor / embedder) stream Arrow batches instead of
  per-row Python (input_hint: "no per-row Python");
- shuffle partitions sized for the local harness but overridable for
  a real cluster via env/conf;
- Python UDF stages on one task wave (:func:`one_wave`): each Python
  task pays a fixed worker charge, so those stages run on
  ``defaultParallelism`` partitions instead of the shuffle width.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _host_heap() -> str:
    """Half of the host's physical memory, at most 48g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


def build_session(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("KGFORGE_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("KGFORGE_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 64 MB advisory size coalesces benchmark-scale
        # shuffles (tens of MB) down to 1-4 partitions, serializing
        # the merge stages regardless of core count.  A smaller
        # advisory keeps post-shuffle parallelism ~= cores at this
        # scale; at 100 TB raise it back via env (partition counts are
        # bounded by spark.sql.shuffle.partitions anyway).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("KGFORGE_ADVISORY_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "true",
        )
        # zstd halves parquet bytes vs snappy on text-heavy tables; the
        # compression CPU is parallel while the saved disk bandwidth is
        # the SHARED resource (single-disk sandbox; object-store quota
        # at 100 TB) — a direct win for the non-scaling I/O floor.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("KGFORGE_PARQUET_CODEC", "zstd"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        # local mode: the driver JVM hosts all executor threads, so the
        # heap must cover per-task execution memory x cores — an 8g
        # heap makes 32 concurrent aggregate tasks spill and inverts
        # scaling.  But a heap larger than the host lets G1 grow the
        # JVM until the OS kills it instead of Spark spilling: on a
        # 15 GB host a 48g heap took the test suite's JVM to 14.5 GB
        # RSS and an OOM kill.  Half of physical memory, up to 48g.
        .config(
            "spark.driver.memory",
            os.environ.get("KGFORGE_DRIVER_MEM", _host_heap()),
        )
        .config("spark.memory.fraction", "0.7")
        # Spark renders the physical-plan STRING for the SQL listener
        # on every action (SQLExecution.withNewExecutionId ->
        # explainString), and that cost is paid even with the UI off.
        # Deep pipelines (chunk -> extract -> merge -> query stacks)
        # make the default 2 GiB budget a multi-second driver stall
        # per action; a 64 KiB cap keeps the listener payload useful
        # while bounding the render.  (Iterative loops additionally
        # truncate lineage via localCheckpoint — see textops'
        # connected-components note — since a capped STRING still
        # walks the whole tree.)
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("KGFORGE_MAX_PLAN_STRING", "65536"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def one_wave(df: DataFrame) -> DataFrame:
    """``df`` on at most ``defaultParallelism`` partitions: one task
    wave.  Apply it to the input of a Python UDF stage.

    Every Python task pays a fixed charge before it touches a row, and
    an empty partition pays it too.  pyspark's worker calls
    ``setup_spark_files`` per task, which calls
    ``importlib.invalidate_caches()``.  On CPython 3.11 that re-reads
    the zip directory of every ``zipimporter`` in
    ``sys.path_importer_cache`` -- 16 in a worker, over ``pyspark.zip``
    (1,328 entries) and the ``spark-core`` jar (5,359 entries).  Timed
    inside a worker on a 4-core x86 host with pyspark 4.1.2, the call
    took 0.2 s, and every task burned 0.21-0.28 s of worker CPU: an
    identity ``pandas_udf`` over 96 partitions took 6-7 s, a JVM-only
    job over the same partitions 0.4 s.  A UDF over the 32 shuffle
    partitions of a small reduce pays it 32 times for work that one
    wave does.

    ``coalesce`` is narrow (no shuffle), and it is the Python stage,
    not ``spark.sql.shuffle.partitions``, that is narrowed: lowering
    that conf would re-plan every JVM operator for a charge only Python
    tasks pay.  ``python tools/probe_hw.py python_tasks`` re-measures
    the charge on a new host or interpreter."""
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
