"""Session factories: one shared conf, and both factories forward
``SPARK_GRAFT_CHECKPOINT_DIR``. Checked against a recording stand-in for
``SparkSession`` — no JVM starts and the shared test session's checkpoint
dir is never touched."""

import pytest

from chunksilo_spark import session as S

# get_spark's conf as it stood before the two factories shared one mapping
GET_SPARK_CONF = {
    "spark.sql.shuffle.partitions": "16",
    "spark.default.parallelism": "16",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


class _FakeContext:
    def __init__(self):
        self.checkpoint_dir = None
        self.py_files = []

    def getCheckpointDir(self):
        return self.checkpoint_dir

    def setCheckpointDir(self, path):
        self.checkpoint_dir = path

    def addPyFile(self, path):
        self.py_files.append(path)


class _FakeBuilder:
    def __init__(self, record):
        self.record = record

    def master(self, master):
        self.record["master"] = master
        return self

    def appName(self, app):
        self.record["app"] = app
        return self

    def config(self, key, value):
        self.record["conf"][key] = value
        return self

    def getOrCreate(self):
        spark = type("FakeSession", (), {})()
        spark.sparkContext = _FakeContext()
        self.record["spark"] = spark
        return spark


@pytest.fixture
def fake_session(monkeypatch):
    record = {"conf": {}}
    fake = type("FakeSparkSession", (), {"builder": _FakeBuilder(record)})
    monkeypatch.setattr(S, "SparkSession", fake)
    monkeypatch.setattr(S, "package_zip", lambda: "pkg.zip")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    return record


def test_get_spark_conf_unchanged(fake_session):
    S.get_spark("app", cores=8)
    assert fake_session["master"] == "local[8]"
    assert fake_session["conf"] == GET_SPARK_CONF
    assert fake_session["spark"].sparkContext.checkpoint_dir is None


def test_cluster_conf_shares_get_spark_conf(fake_session):
    S.get_spark_cluster("app", executors=2, cores_per_executor=4)
    assert fake_session["master"] == "local-cluster[2,4,8192]"
    assert fake_session["conf"] == {
        **GET_SPARK_CONF,
        "spark.driver.memory": "4g",
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    }
    assert fake_session["spark"].sparkContext.py_files == ["pkg.zip"]


@pytest.mark.parametrize("factory", ["get_spark", "get_spark_cluster"])
def test_checkpoint_dir_forwarded(fake_session, monkeypatch, tmp_path, factory):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    getattr(S, factory)("app")
    assert fake_session["spark"].sparkContext.checkpoint_dir == str(tmp_path)
