import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")

from osmnetfusion_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="perfbench-tests", master="local[4]", shuffle_partitions=8,
                    extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden_dir():
    return os.path.join(ROOT, "tests", "golden")
