import itertools

import pytest

from searchengine_spark.plans.session import get_spark
from searchengine_spark.plans.wand import WandSearchEngine


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), n)``, where n is the number of Spark
    jobs ``fn`` started from this thread: the call runs under a job group of
    its own, and the status tracker lists that group's jobs."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{next(_job_groups)}"
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def arms(monkeypatch):
    """The list of WAND arms that finished each ``search_batch`` call
    (plans/wand.py): ``"_finish_in_driver"`` or ``"_finish_batch"``."""
    calls = []
    for name in ("_finish_in_driver", "_finish_batch"):
        orig = getattr(WandSearchEngine, name)

        def wrapped(self, *a, _orig=orig, _name=name, **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(WandSearchEngine, name, wrapped)
    return calls
