"""A Spark-free ``GroupState`` for driving keyed-state steps through
the harness's per-bucket function (``streaming.keyed.keyed_fn``) and
its state codec (``streaming.keyed.BucketCodec``)."""

from __future__ import annotations

import pandas as pd

from flink_framework_spark.streaming.keyed import (
    BUCKET_COL,
    BucketCodec,
    _bucket_schema,
    keyed_fn,
)

# Patched to True to run every :func:`call` with a neighbour key
# sharing the bucket (tests/test_keyed_shared.py).
SHARED = False


class FakeGroupState:
    """The slice of ``GroupState`` the harness touches for one key
    bucket: ``exists`` / ``get`` / ``update`` / ``remove``,
    ``hasTimedOut``, a settable watermark ``wm_ms`` and the armed
    ``timer``. The state cell is kept as the harness codec wrote it
    and handed back as a ``bytearray``, as Spark's unpickled state row
    holds it; like Spark, a timer below the watermark is refused.

    ``state_schema`` is the step's per-key state DDL, as the operator
    passes it to ``keyed_process``; a toy step may leave it out, and
    its scalar state fields are then typed from the first state it
    writes (:class:`_ToyCodec`). ``codec`` is set by the first
    :func:`call_bucket`."""

    def __init__(self, wm_ms: int | None = None,
                 state_schema: str | None = None):
        self.wm_ms = wm_ms
        self.state_schema = state_schema
        self.codec = None
        self.hasTimedOut = False
        self.timer = None
        self._cell = None

    @property
    def exists(self):
        return self._cell is not None

    @property
    def get(self):
        return (bytearray(self._cell),)

    def update(self, row):
        (self._cell,) = row

    def remove(self):
        self._cell = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.wm_ms, "timer below the watermark"
        self.timer = ms


# Python type of a toy step's scalar state field -> its DDL type
_TOY_TYPES = {bool: "boolean", int: "bigint", float: "double", str: "string"}


class _ToyCodec:
    """The harness codec for a toy step that declares no state schema:
    its layout is fixed by the first state it encodes, each state
    field typed from the first key's value (a scalar only)."""

    def __init__(self, types: dict, keys):
        self.types, self.keys, self.codec = types, keys, None

    def encode(self, columns):
        if self.codec is None:
            fields = [type(c[0]) for c in columns[len(self.keys) + 1:]]
            if not set(fields) <= set(_TOY_TYPES):
                raise TypeError(f"state fields {fields}: pass the step's "
                                "state_schema")
            ddl = ", ".join(f"s{i} {_TOY_TYPES[t]}"
                            for i, t in enumerate(fields))
            self.codec = BucketCodec(_bucket_schema(self.types, self.keys,
                                                    ddl))
        return self.codec.encode(columns)

    def decode(self, blob):
        return self.codec.decode(blob)


def key_states(bucket: FakeGroupState, n_keys: int = 1) -> dict:
    """The bucket's keys as ``{stored key tuple: (timer, state)}``,
    decoded through the bucket's codec."""
    if not bucket.exists:
        return {}
    cols = bucket.codec.decode(bucket.get[0])
    return dict(zip(zip(*cols[:n_keys]),
                    zip(cols[n_keys], zip(*cols[n_keys + 1:]))))


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
    if bucket.codec is None:
        bucket.codec = (
            _ToyCodec(types, keys) if bucket.state_schema is None
            else BucketCodec(_bucket_schema(types, keys, bucket.state_schema))
        )
    fn = keyed_fn(step, types, keys, bucket.codec, timed, tz)
    return list(fn((0,), iter(chunks), bucket))


class FakeState:
    """One key's view of a :class:`FakeGroupState` bucket: ``exists``,
    ``get`` and ``timer`` read the slot of the key last passed to
    :func:`call`, ``wm_ms`` is the bucket's watermark."""

    def __init__(self, wm_ms: int | None = None,
                 state_schema: str | None = None):
        self.bucket = FakeGroupState(wm_ms, state_schema)
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
