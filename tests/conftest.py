import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Side plans (localCheckpoint inputs, index builds) are invisible to plan
# inspection on the returned frame; the library audits them at execution
# time (plans/inspect.py:audit_side_plan). Under pytest a violation is a
# hard failure, not a warning.
os.environ.setdefault("POPELINES_PLAN_AUDIT", "strict")


@pytest.fixture(scope="session")
def spark():
    from popelines_spark.session import get_spark

    s = get_spark(app_name="popelines_spark_tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def _restore_spark_conf(request):
    """Snapshot/restore the shared session's runtime SQL confs around
    every test that uses it.  Several tests tune AQE/partition knobs and
    restore them manually; one missed restore used to re-break whichever
    layout-sensitive test ran next (the z-order pruning flake).  This
    makes conf leakage structurally impossible."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = conf_snapshot(spark)
    yield
    conf_restore(spark, before)


def conf_snapshot(spark) -> dict:
    """The session's runtime SQL confs, as ``SET`` lists them."""
    return {r["key"]: r["value"] for r in spark.sql("SET").collect()}


def conf_restore(spark, before: dict) -> None:
    """Put the session's SQL confs back to a :func:`conf_snapshot`."""
    after = conf_snapshot(spark)
    for k, v in after.items():
        if before.get(k) != v:
            try:
                if k in before:
                    spark.conf.set(k, before[k])
                else:
                    spark.conf.unset(k)
            except Exception:
                pass  # static confs can't be reset at runtime
    for k in before:
        if k not in after:
            try:
                spark.conf.set(k, before[k])
            except Exception:
                pass


@pytest.fixture()
def scratch(tmp_path):
    return str(tmp_path)


SF_DIR = "/root/testdata/sf0.001"
