"""Shared fixtures for the benchmark's own tests:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work)
    session = run.start_spark(work, trace=False)
    yield session
    run.stop_spark(session)
