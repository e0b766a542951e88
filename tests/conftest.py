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
    """no_new_persisted_rdds(): a block asserting that it leaves no new
    persisted RDD id, cached frame or local checkpoint. Spark holds
    persisted RDDs as weak values, so one an earlier test left can be
    collected during the block: the check is that no id was added, not
    that the set is unchanged."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs

    @contextlib.contextmanager
    def block():
        before = set(rdds().keySet())
        yield
        assert set(rdds().keySet()) - before == set()

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


@pytest.fixture(scope="session")
def hh_fallback_docs(spark):
    """Two hand-made partitions where no task's report decides `x` at
    phi = 1/50: A holds 1,000 tokens with 90 x (reported), B 4,000 tokens
    with 19 x (under B's bar, so B's tau is 19). x = 109 clears N/50 = 100,
    but the reports bound it only to [90, 109]: the exact recount must run."""
    a = " ".join(["x"] * 90 + [f"a{i}" for i in range(910)])
    b = " ".join(["x"] * 19 + [f"b{i}" for i in range(3981)])
    rdd = spark.sparkContext.parallelize([(0, a), (1, b)], 2)
    return spark.createDataFrame(rdd, "doc_id long, text string")
