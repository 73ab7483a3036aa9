"""Progress-aware draining of availableNow streaming queries.

Every library helper that runs a Structured Streaming query to
completion (``twins.run_to_memory``, the foreachBatch processors in
``late``/``sideout``/``broadcast_state``) used to enforce a fixed
wall-clock ``awaitTermination`` budget. That made the budget a
function of machine load, not query health: a 40-minute full-suite
run on a contended VM can stretch a drain that takes 100 s in
isolation past any fixed cap, while a genuinely wedged query should
fail in seconds (VERDICT r10 finding #1 — the MR stream-join fuzz
seed timing out under suite contention only).

``await_drain`` fixes the semantics: ``timeout_sec`` is an IDLE
budget. The clock resets every time a micro-batch completes (the
query's ``lastProgress.batchId`` advances), so a slow-but-progressing
drain is never killed, while a stuck one still raises within
``timeout_sec`` of its last completed batch. ``hard_timeout_sec``
bounds total wall-clock regardless of progress as a runaway backstop.

``run_available_now`` is the one start -> drain -> stop body those
helpers share; each passes its configured writer.
"""

from __future__ import annotations

import time


def await_drain(
    q,
    query_name: str,
    timeout_sec: float = 120,
    hard_timeout_sec: float | None = None,
) -> None:
    """Block until streaming query ``q`` terminates.

    Raises ``TimeoutError`` if the query makes no progress (no
    micro-batch completes) for ``timeout_sec`` seconds, or runs longer
    than ``hard_timeout_sec`` total (default ``20 * timeout_sec``).
    Never returns while the query is still active, so callers can
    treat a normal return as "fully drained" — partially-processed
    results surface as loud failures, not flaky assertions.
    """
    hard = hard_timeout_sec if hard_timeout_sec is not None else 20.0 * timeout_sec
    poll = min(1.0, max(0.1, timeout_sec / 4.0))
    start = time.monotonic()
    last_progress_at = start
    last_batch_id = -1
    while True:
        if q.awaitTermination(poll):
            return
        now = time.monotonic()
        progress = q.lastProgress
        batch_id = progress["batchId"] if progress else -1
        if batch_id != last_batch_id:
            last_batch_id = batch_id
            last_progress_at = now
        if now - last_progress_at > timeout_sec:
            raise TimeoutError(
                f"streaming query {query_name!r} made no progress for "
                f"{timeout_sec}s (last completed batch: {last_batch_id})"
            )
        if now - start > hard:
            raise TimeoutError(
                f"streaming query {query_name!r} still active after "
                f"{hard}s hard cap"
            )


def run_available_now(
    writer, query_name: str, timeout_sec: float = 120
) -> None:
    """Start ``writer`` (a configured ``DataStreamWriter``) as an
    availableNow query named ``query_name`` and block until it has
    drained (:func:`await_drain`, ``timeout_sec`` an idle budget);
    the query is stopped on the way out if it is still active."""
    q = writer.queryName(query_name).trigger(availableNow=True).start()
    try:
        await_drain(q, query_name, timeout_sec)
    finally:
        if q.isActive:
            q.stop()
