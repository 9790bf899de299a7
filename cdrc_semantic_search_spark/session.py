"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is a 100-TB lever, not a test convenience:

* AQE on (+ skew-join splitting + partition coalescing) — runtime re-plan
  replaces hand-tuned shuffle partition counts at scale (SURVEY §4).
* Arrow execution on — every pandas UDF moves columnar batches, never rows.
* ``spark.sql.session.timeZone=UTC`` — timestamp semantics independent of
  host zone, required for oracle parity.
* shuffle partitions default to 2× parallelism locally; on a real cluster
  AQE coalescing makes the initial number mostly irrelevant.

``get_spark`` runs no Spark job: the Python worker pool forks on the first
Arrow stage, and ``spark.python.worker.reuse`` (the default) keeps it for
every later one.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None


def package_zip() -> str:
    """Zip this package for shipping to executors (``--py-files`` analog).

    On a real cluster the same artifact goes to ``spark-submit --py-files``;
    locally ``get_spark`` attaches it via ``sc.addPyFile`` so worker
    processes can unpickle our UDFs regardless of the driver's cwd.
    """
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # pid-suffixed: concurrent drivers must not race on one zip path
        base = os.path.join(
            tempfile.gettempdir(), f"cdrc_semantic_search_spark_pkg_{os.getpid()}"
        )
        _PKG_ZIP = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                       os.path.basename(pkg_dir))
    return _PKG_ZIP


def get_spark(
    app_name: str = "cdrc-kg-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE re-plan (and in particular COALESCE the partitions of)
        # cached plans: off by default, which pins every persisted frame
        # to the raw pre-AQE shuffle partition count — each downstream
        # stage of a cached frame then launches one task per cached
        # partition regardless of size. The iterative kernels (LPA's
        # persisted symmetric edge list, the dedup posting/signature
        # caches) read their cache once per round/branch, so the task
        # fan multiplies; byte-sized coalescing is exactly AQE's job
        # (guide §2.2 "fewer, larger reduce partitions"). Measured:
        # graph_label_prop warm 2.30→1.50 s, cc 1.34→1.21,
        # dedup_ngram 0.65→0.57 at sf0.1; partition counts stay
        # byte-derived, nothing is tuned to the local core count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # join strategy (guide §3.1/§9): allow shuffled-hash join where
        # its size conditions hold instead of always sort-merge — no
        # sort of either side; and let AQE rewrite a planned sort-merge
        # to shuffled-hash at runtime when every post-shuffle partition
        # is under 64 MB (bounded build-side memory per task — a BYTE
        # threshold, not a local-core tune; sort-merge remains the
        # planner's fallback for anything larger, so 100-TB joins keep
        # their spill-graceful path). Measured at sf0.1: q3 0.53→0.43,
        # q5 0.52→0.45, sketch_count_min 0.44→0.36 warm.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # broadcast threshold: entity catalogues / dimension tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
