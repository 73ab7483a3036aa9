"""A Spark-free ``GroupState`` for driving keyed-state steps through
the harness's per-call function (``streaming.keyed.keyed_fn``)."""

from __future__ import annotations

from flink_framework_spark.streaming.keyed import keyed_fn


class FakeState:
    """The slice of ``GroupState`` the harness touches: ``exists`` /
    ``get`` / ``update`` / ``remove``, ``hasTimedOut``, a settable
    watermark ``wm_ms`` and the armed ``timer``. Lists are copied on
    update so a step cannot lean on aliasing between calls; like
    Spark, a timer below the watermark is refused."""

    def __init__(self, wm_ms: int | None = None):
        self.wm_ms = wm_ms
        self.hasTimedOut = False
        self.timer = None
        self._packed = None

    @property
    def exists(self):
        return self._packed is not None

    @property
    def get(self):
        return self._packed

    def update(self, packed):
        self._packed = tuple(
            list(v) if isinstance(v, list) else v for v in packed
        )

    def remove(self):
        self._packed = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.wm_ms, "timer below the watermark"
        self.timer = ms


def call(step, state, key, chunks, *, timed=False, tz=None,
         timed_out=False):
    """One harness call of ``step`` on ``chunks`` (the Arrow chunks of
    the key's micro-batch); returns the emitted frames. As in Spark,
    a call starts with no timer armed."""
    state.timer = None
    state.hasTimedOut = timed_out
    return list(keyed_fn(step, timed, tz)(key, iter(chunks), state))
