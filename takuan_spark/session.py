"""SparkSession factory tuned for this engine.

Defaults are chosen for the local[*] test harness but every knob is the
one you would also set on a real cluster: AQE (Spark's default: runtime
re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized pandas-UDF exchange), and a shuffle-partition count that
tracks core count locally instead of Spark's static 200.

At 100 TB the same plans run unchanged; only ``spark.sql.shuffle.partitions``
(or rather AQE's ``advisoryPartitionSizeInBytes``) and executor sizing move.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "takuan-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE handles runtime partition coalescing and skew joins, so the static
    ``shuffle.partitions`` only needs to be a sane upper bound (~cores
    locally; thousands on a real cluster).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split even small text/csv/json files across all slots at the
        # SCAN (no shuffle): a single 10 MB log file is otherwise one
        # split, serializing the regex-parse hot path on one core. On
        # big inputs maxPartitionBytes governs and this is a no-op.
        .config("spark.sql.files.minPartitionNum", str(DEFAULT_CPUS))
        # minPartitionNum is advisory: openCostInBytes (default 4 MB)
        # floors the split size, capping a 2x9 MB log pair at 6 splits.
        # 512 KB keeps regex-parse-heavy text scans wide without
        # meaningfully over-splitting large files.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Local-filesystem integrity duplication: Hadoop's default file://
    # implementations (LocalFileSystem / LocalFs) are CHECKSUMMED — every
    # create writes a shadow .crc file and every rename moves both, so
    # each streaming-checkpoint write (offsets, commits, state-store
    # deltas per partition per micro-batch, sink manifests) and every
    # scratch-table file costs twice its metadata ops on ext4. Scope
    # note: this is a LOCAL-mode floor cost only — on a real deployment
    # checkpoints and tables live on durable storage (S3/HDFS/ABFS)
    # with scheme-specific implementations and their own integrity
    # guarantees, so this knob does not exist there; locally, ext4 +
    # parquet's own footer/page structure already detect torn writes on
    # the data we re-read. Two layers:
    # - the FileContext side (streaming checkpoint manager) can swap to
    #   the raw implementation wholesale;
    # - the FileSystem side must KEEP the LocalFileSystem class —
    #   Hadoop's FileSystem.getLocal() hard-casts to it (the RocksDB
    #   state-store file manager calls it on every snapshot upload, so
    #   a global fs.file.impl=RawLocalFileSystem override fails its
    #   commit with a ClassCastException) — so instead the cached
    #   instance's checksum behavior is turned off post-construction
    #   below (setWriteChecksum/setVerifyChecksum).
    builder = builder.config(
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs",
    )
    # Spark 4.1's own checkpoint-file checksums (SQLConf
    # STREAMING_CHECKPOINT_FILE_CHECKSUM_ENABLED, default true — a
    # 4.x addition) write one extra .crc per state-store delta /
    # metadata file per micro-batch, doubling checkpoint file ops
    # the same way Hadoop's ChecksumFileSystem does. On long-lived
    # production checkpoints on object storage, leave it on — there it
    # is the only integrity layer.
    builder = builder.config(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"
    )
    # Output-commit cost: the default FileOutputCommitter v1 commits in
    # two rename phases (task attempt -> task committed -> job final),
    # so every file written moves twice and the job commit is a serial
    # driver-side loop over task dirs. v2 renames task output STRAIGHT
    # to the final location at task commit — one rename per file, no
    # O(files) job-commit phase. The trade (documented upstream in
    # MAPREDUCE-6336/SPARK-20107): a job that FAILS mid-commit can leave
    # partial files behind. The service's per-epoch events, quarantine
    # and report files do not go through a Spark writer (they are
    # written from the driver and renamed into place, see
    # sinks/writers.py:write_epoch), so v2 serves the Spark writes left:
    # the ``--geo`` re-enrich, whose partial output can only sit in its
    # ``__geo_tmp`` directory until the swap, and the Spark report
    # writers (sinks/writers.py:write_csv_report,
    # sinks/publish.py:drop_report_csv). On real deployments writing to
    # object storage this knob is superseded by cloud-native committers
    # (magic/staging), which make the same one-move trade safely.
    # _SUCCESS markers are also skipped: nothing in the engine or its
    # readers consumes them; each is one extra create+close per write
    # job.
    builder = builder.config(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
    ).config(
        "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        "false",
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create("file:///"),
            spark._jsc.hadoopConfiguration(),
        )
        # The Hadoop FileSystem CACHE returns this same
        # LocalFileSystem instance to every later caller in the
        # JVM (local mode: driver and executors share it), so
        # flipping the flags here drops the shadow-.crc write on
        # every create and the read-side verification pass, while
        # the class itself stays LocalFileSystem for the
        # getLocal() hard-cast paths. Idempotent across repeated
        # get_spark() calls on a live session.
        fs.setWriteChecksum(False)
        fs.setVerifyChecksum(False)
    except Exception:
        # Spark Connect: no _jvm — the local-FS floor trim simply
        # does not apply there.
        pass
    return spark
