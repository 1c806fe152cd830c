import contextlib
import itertools
import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("tantivy4java_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        # shuffle/scratch on tmpfs: this sandbox's virtio disk is
        # write-through (~15-35 MB/s under co-tenant load) and would
        # dominate test wall time; shuffle data is ephemeral by definition
        .config("spark.local.dir",
                ("/dev/shm/t4s_test_spark_local"
                 if os.access("/dev/shm", os.W_OK)
                 else os.path.join(tempfile.gettempdir(),
                                   "t4s_test_spark_local")))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def spark_jobs(spark):
    """Counts the Spark jobs a block launches, by job group::

        with spark_jobs() as jobs:
            df.collect()
        assert jobs == []
    """
    sc = spark.sparkContext

    @contextlib.contextmanager
    def counted():
        group = f"spark_jobs_{next(_JOB_GROUPS)}"  # unique per session
        jobs: list = []
        sc.setJobGroup(group, "counted by the spark_jobs fixture")
        try:
            yield jobs
        finally:
            sc.setJobGroup("", "")
            # job events reach the status store through the async listener
            # bus; drain it so no job of the block is missed
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counted


@pytest.fixture()
def tmp_index_dir():
    d = tempfile.mkdtemp(prefix="t4s_index_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
