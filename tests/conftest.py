import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("tetrex_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s


@pytest.fixture
def no_new_persisted_rdds(spark):
    """no_new_persisted_rdds(allow_checkpoints=False): a block asserting
    that it leaves no new persisted RDD id. Spark holds persisted RDDs as
    weak values, so one an earlier test left can be collected during the
    block: the check is that no id was added, not that the set is
    unchanged. allow_checkpoints=True lets the block leave local
    checkpoints, which live as long as the frames that hold them (an
    in-session dedup's sig table or rep pairs); a cached frame stays
    until it is unpersisted, so it is always counted."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs

    @contextlib.contextmanager
    def block(allow_checkpoints=False):
        before = set(rdds().keySet())
        yield
        new = {
            i for i, rdd in rdds().items()
            if i not in before
            and not (allow_checkpoints and rdd.rdd().isLocallyCheckpointed())
        }
        assert new == set()

    return block


@pytest.fixture
def fail_after(monkeypatch):
    """fail_after(owner, name, nth=1): the nth call of `owner.name` runs
    and then raises RuntimeError("injected failure") — a failure after
    the plan that call ran."""
    def patch(owner, name, nth=1):
        orig = getattr(owner, name)
        calls = []

        def wrapper(*args, **kwargs):
            out = orig(*args, **kwargs)
            calls.append(1)
            if len(calls) == nth:
                raise RuntimeError("injected failure")
            return out

        monkeypatch.setattr(owner, name, wrapper)

    return patch
