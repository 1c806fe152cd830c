import contextlib
import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


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
    """Counts the Spark jobs a block launches, from any thread::

        with spark_jobs() as jobs:
            df.collect()
        assert jobs == []

    The jobs are the status store's jobs with an id above the highest id
    it held before the block, so jobs a ThreadPoolExecutor worker launches
    count too (a job group set on the calling thread does not reach them).
    The store keeps only the last ``spark.ui.retainedJobs`` jobs, so its
    size stops growing late in a session; the ids keep growing."""
    jsc = spark.sparkContext._jsc.sc()

    def store():
        # job events reach the status store through the async listener
        # bus; drain it so no finished job is missed
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None)  # newest first

    @contextlib.contextmanager
    def counted():
        held = store()
        before = held.apply(0).jobId() if held.size() else -1
        jobs: list = []
        try:
            yield jobs
        finally:
            held = store()
            for i in range(held.size()):
                job_id = held.apply(i).jobId()
                if job_id <= before:
                    break
                jobs.insert(0, job_id)

    return counted


@pytest.fixture()
def tmp_index_dir():
    d = tempfile.mkdtemp(prefix="t4s_index_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
