"""Every pin of tests/test_keyed.py again, with a neighbour key in each
key bucket: ``fake_state.call`` and the timer-convention drives feed
each key's rows interleaved with a neighbour's through one bucket
call, and ``KEY_BUCKETS`` is 1."""

from __future__ import annotations

import pytest

from flink_framework_spark.streaming import keyed
from tests import fake_state
from tests.test_keyed import *  # noqa: F401,F403 — collected again here


@pytest.fixture(autouse=True)
def _shared_buckets(monkeypatch):
    monkeypatch.setattr(fake_state, "SHARED", True)
    monkeypatch.setattr(keyed, "KEY_BUCKETS", 1)
