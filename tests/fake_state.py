"""A Spark-free ``GroupState`` for driving keyed-state steps through
the harness's per-bucket function (``streaming.keyed.keyed_fn``)."""

from __future__ import annotations

import pandas as pd

from flink_framework_spark.streaming.keyed import BUCKET_COL, keyed_fn

# Patched to True to run every :func:`call` with a neighbour key
# sharing the bucket (tests/test_keyed_shared.py).
SHARED = False


class FakeGroupState:
    """The slice of ``GroupState`` the harness touches for one key
    bucket: ``exists`` / ``get`` / ``update`` / ``remove``,
    ``hasTimedOut``, a settable watermark ``wm_ms`` and the armed
    ``timer``. Lists are copied on update so a step cannot lean on
    aliasing between calls; like Spark, a timer below the watermark
    is refused."""

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
            [list(x) if isinstance(x, list) else x for x in v]
            if isinstance(v, list) else v
            for v in packed
        )

    def remove(self):
        self._packed = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.wm_ms, "timer below the watermark"
        self.timer = ms


def key_states(bucket: FakeGroupState, n_keys: int = 1) -> dict:
    """The bucket's keys as ``{stored key tuple: (timer, state)}``."""
    if not bucket.exists:
        return {}
    row = bucket.get
    return dict(zip(zip(*row[:n_keys]),
                    zip(row[n_keys], zip(*row[n_keys + 1:]))))


def _key_type(v) -> str:
    if isinstance(v, str) or v is None:
        return "string"
    return "double" if isinstance(v, float) else "bigint"


def call_bucket(step, bucket, chunks, keys, types, *, timed=False,
                tz=None, timed_out=False):
    """One harness call of ``step`` for a key bucket on ``chunks``
    (the Arrow chunks of the bucket's micro-batch, key columns
    ``keys`` included; ``types`` maps columns to Spark type names);
    returns the emitted frames. As in Spark, a call starts with no
    timer armed; the bucket column is added to each chunk in place."""
    bucket.timer = None
    bucket.hasTimedOut = timed_out
    for c in chunks:
        c[BUCKET_COL] = 0
    fn = keyed_fn(step, types, keys, timed, tz)
    return list(fn((0,), iter(chunks), bucket))


class FakeState:
    """One key's view of a :class:`FakeGroupState` bucket: ``exists``,
    ``get`` and ``timer`` read the slot of the key last passed to
    :func:`call`, ``wm_ms`` is the bucket's watermark."""

    def __init__(self, wm_ms: int | None = None):
        self.bucket = FakeGroupState(wm_ms)
        self.key = None

    @property
    def wm_ms(self):
        return self.bucket.wm_ms

    @wm_ms.setter
    def wm_ms(self, ms):
        self.bucket.wm_ms = ms

    def _slot(self):
        return key_states(self.bucket).get(self.key, (None, None))

    @property
    def exists(self):
        return self._slot()[1] is not None

    @property
    def get(self):
        return self._slot()[1]

    @property
    def timer(self):
        return self._slot()[0]


def neighboured(frame: pd.DataFrame, keys) -> pd.DataFrame:
    """``frame`` with a neighbour key's copy of each row interleaved
    after it when :data:`SHARED` is set, else ``frame`` itself. The
    neighbour of a number is ``+1000``, of a string ``+ "~"``."""
    if not SHARED:
        return frame
    other = frame.assign(**{
        k: frame[k].map(lambda v: v + "~" if isinstance(v, str)
                        else v + 1000)
        for k in keys
    })
    return (pd.concat([frame, other]).sort_index(kind="stable")
            .reset_index(drop=True))


def call(step, state, key, chunks, *, timed=False, tz=None,
         timed_out=False):
    """One harness call of ``step`` for the key ``key`` on ``chunks``
    (the Arrow chunks of the key's micro-batch, without the key
    column); returns the key's emitted frames. The key rides in a
    column ``__key`` added to copies of the chunks."""
    (k,) = key
    state.key = (k,)
    keyed = [neighboured(c.assign(__key=k), ["__key"]) for c in chunks]
    mine = []

    def recorded(key_, st, rows, ctx):
        new, out, timer = step(key_, st, rows, ctx)
        if key_[0] == k and out is not None:
            mine.append(out)
        return new, out, timer

    call_bucket(recorded, state.bucket, keyed, ["__key"],
                {"__key": _key_type(k)}, timed=timed, tz=tz,
                timed_out=timed_out)
    return mine
