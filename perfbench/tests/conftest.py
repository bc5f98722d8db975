import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def sf_dir(tmp_path_factory):
    """The catalog tables at sf0.001, seed 1."""
    from perfbench import inputs

    return inputs.catalog_dir(str(tmp_path_factory.mktemp("data")), 0.001, 1)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A local session with the benchmark's query-execution listener."""
    from perfbench.run import build_listener
    from rsgislib_spark.session import get_spark

    classes = build_listener(str(tmp_path_factory.mktemp("work")))
    s = get_spark(master="local[2]", app_name="perfbench-tests", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraClassPath": classes,
        "spark.sql.queryExecutionListeners": "perfbench.QeSink",
    })
    yield s
    s.stop()
