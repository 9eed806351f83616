from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for tests


@pytest.fixture(scope="session")
def spark():
    from validatelite_spark.session import get_spark

    s = get_spark("vlite-spark-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def no_auto_broadcast(spark):
    """Context manager: inside the block the session broadcasts no join
    side on its own (static and adaptive thresholds at -1); the previous
    settings come back afterwards, also when the block raises."""
    import contextlib

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")

    @contextlib.contextmanager
    def scope():
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, "-1")
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return scope


@pytest.fixture(scope="session")
def final_plan():
    """Run an action on ``df``, then return the plan that actually ran:
    the ``== Final Plan ==`` part of the adaptive plan, without the
    initial plan AQE started from."""
    def run(df) -> str:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        return plan.split("== Initial Plan ==")[0]

    return run
