"""SparkSession factory with the configuration the engine assumes.

Local mode here; on a real cluster the same builder config is supplied
via spark-submit --conf.  Every setting is a scale decision:

 - Arrow enabled + bounded batch size: the extraction stage is
   mapInArrow over payload batches; maxRecordsPerBatch caps executor
   memory per batch when payloads are large (SURVEY.md O10).
 - AQE on: runtime coalescing of small shuffle partitions and skew-join
   splitting for the join-shaped operators (UDF-stage skew is handled
   explicitly with salting in plans/pipeline.py — AQE cannot see it).
 - shuffle.partitions sized for the sandbox; a 1000-executor run sets
   this to ~2-3x total cores via --conf.  It also sets the width of
   the extraction job's Arrow stage (plans/pipeline.py), so it is the
   number of Python tasks per job.
 - session timezone pinned UTC so timestamp semantics match the DuckDB
   oracle byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "tool-documentsconverter-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app)
    # shuffle/spill scratch space: on a real cluster every executor
    # brings its own local disks (so scratch bandwidth scales with the
    # cluster).  Round-8: default to tmpfs when available instead of
    # only under the scaling harness — thread-dump sampling showed
    # shuffle map tasks spending ~45% of their busy samples in
    # FileOutputStream.open0, because this sandbox's /tmp is an
    # overlay fs where a file create costs ~400us (vs 14us on
    # /dev/shm); every Exchange opens map_tasks x reduce_partitions
    # shuffle files, so each exchange paid a ~0.5s fs tax.  A real
    # deployment's local SSD behaves like the tmpfs, not like the
    # overlay; SPARK_GRAFT_LOCAL_DIR still overrides.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if not local_dir and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-graft-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return (
        builder
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4096-row batches kept after a round-8 A/B: 64k-row batches
        # (byte-bounded via Spark 4's maxBytesPerBatch) looked ~15%
        # faster on a warm loop but regressed the bench's cold
        # fixtures-mix extract badly (6.6s -> 12.5s min-of-2: one
        # batch per partition loses all work smoothing and amplifies
        # cold-start stragglers).  Small batches also stay the right
        # memory bound for fat payloads (SURVEY.md O10).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Deliberately NOT setting fileoutputcommitter.algorithm.version=2
        # here: v2's task-side renames would cut the v1 driver rename
        # loop (level-independent serial time that eats N->4N scaling
        # efficiency on real filesystems), but v2 task commit is
        # non-atomic (SPARK-33019/MAPREDUCE-7282) — under task retry or
        # speculation a plain append write (e.g. the lineage table) can
        # expose duplicate/partial files.  The main output is protected
        # by dynamic-overwrite staging, but a session-level setting
        # applies to EVERY write; measured neutral on tmpfs anyway.
        # On a real deployment use a job-commit-atomic committer
        # (magic committer / Iceberg table commits) instead.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
