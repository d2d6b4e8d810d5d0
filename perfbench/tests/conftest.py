from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import engine

    work = str(tmp_path_factory.mktemp("perfbench"))
    s, _ = engine.start_session(2, work)
    yield s
    engine.stop_session(s)
