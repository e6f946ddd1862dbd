import os
import sys
from pathlib import Path

import pytest

# test the checkout these tests live in, in this process and in the Python
# workers Spark starts (they inherit PYTHONPATH, not sys.path)
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
_old = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = os.pathsep.join([str(REPO)] + ([_old] if _old else []))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kafka_connect_sse_spark.session import get_spark

    s = get_spark(app_name="kcss-tests", shuffle_partitions=4)
    yield s
    s.stop()
