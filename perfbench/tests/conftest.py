import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE.parent), str(HERE)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from session import start_session, stop_session

    work = tmp_path_factory.mktemp("perfbench_session")
    s = start_session(str(HERE.parent), str(work))
    yield s
    stop_session(s)
