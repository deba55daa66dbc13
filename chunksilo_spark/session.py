"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default 32 threads); the
configs are chosen to behave the same way on a multi-executor cluster:
AQE on (runtime coalesce + skew-join splitting), Arrow on (all our Python
surface is pandas-UDF/mapInPandas batches), shuffle partitions ~2x cores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# one BLAS thread per Python worker: parallelism comes from Spark tasks;
# nested OMP threading just fights the other workers for the same cores
# (reference analog: ONNX threads pinned, SURVEY §4)
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

# executor python workers inherit PYTHONPATH (not the driver's sys.path):
# make chunksilo_spark importable regardless of the launch cwd
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def package_zip() -> str:
    """Zip chunksilo_spark for shipping to executors (the spark-submit
    --py-files analog for programmatic sessions)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join("/tmp", "chunksilo_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return out


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side rows -> a DataFrame over a ``LocalRelation``.

    ``rows`` is an iterable of tuples in ``schema`` order; ``schema`` is a
    DDL string or a ``StructType`` and fixes every column's type and
    nullability. The rows become one ``pyarrow.Table`` that Spark reads
    as a local relation: it carries size statistics (so joins can plan it
    as a broadcast up front) and reading it runs no Python worker. A
    Python list handed to ``createDataFrame`` instead becomes a pickled
    ``PythonRDD``, and every read of it runs one Python task per
    ``spark.default.parallelism`` slice. A value that Arrow cannot convert
    to its column's type raises here, not at read time.
    The package's one ``createDataFrame`` call site."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def _conf(parallel: int) -> dict[str, str]:
    """The conf both session factories set; ``parallel`` is the total
    task-slot count (shuffle partitions ~2x cores)."""
    return {
        "spark.sql.shuffle.partitions": str(2 * parallel),
        "spark.default.parallelism": str(2 * parallel),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # python-heavy scans want more, smaller splits than the JVM default
        # (task cost is dominated by the UDF, not scan setup)
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # pin wall-clock<->epoch conversions to UTC so timestamp results
        # (unix_micros, date parsing, NTZ casts) do not depend on the
        # driver host's TZ — on a cluster the driver and executors may
        # disagree with each other and with the oracle engine otherwise
        "spark.sql.session.timeZone": "UTC",
        # reliable cut_lineage checkpoints: let the context cleaner
        # delete superseded iterations' checkpoint files once their
        # RDDs are garbage-collected (otherwise every pagerank/CC
        # round leaves a permanent rdd-N dir on durable storage)
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }


def _session(master: str, app: str, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.master(master).appName(app)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # opt into reliable (executor-loss-safe) lineage cuts for the iterative
    # operators: every checkpointing.cut_lineage site switches from
    # localCheckpoint to checkpoint when this dir is set
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark


def get_spark_cluster(
    app: str = "chunksilo_spark",
    executors: int = 2,
    cores_per_executor: int = 4,
    executor_mem_mb: int = 8192,
) -> SparkSession:
    """Multi-executor session via Spark's local-cluster mode: each executor
    is its OWN JVM with its own python workers — the faithful single-box
    emulation of an N-executor cluster (used for the N vs 4N scaling
    evidence; one big local[k] JVM hits GC/scheduler contention that real
    clusters never see). The package ships via addPyFile (--py-files).
    Executors here CAN be lost, so ``SPARK_GRAFT_CHECKPOINT_DIR`` is
    forwarded exactly as :func:`get_spark` does."""
    spark = _session(
        f"local-cluster[{executors},{cores_per_executor},{executor_mem_mb}]",
        app,
        {
            **_conf(executors * cores_per_executor),
            "spark.driver.memory": "4g",
            "spark.executorEnv.OMP_NUM_THREADS": "1",
            "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        },
    )
    spark.sparkContext.addPyFile(package_zip())
    return spark


def get_spark(app: str = "chunksilo_spark", cores: int | None = None) -> SparkSession:
    cores = cores or cpu_count()
    return _session(
        f"local[{cores}]",
        app,
        {
            **_conf(cores),
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "8g"
            ),
        },
    )
