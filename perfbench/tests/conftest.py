import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def ctx(tmp_path_factory):
    """One small ``local[2]`` session for every test, with the runner's
    pins (heap, no progress bar, workers that import the package)."""
    from perfbench import harness
    from perfbench.workloads import Ctx

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = harness.start_session(ROOT, work, cores=2, app="perfbench-tests")
    c = Ctx(spark, work, 7, harness.Tracer(True))
    yield c
    harness.stop_session(c.spark)
