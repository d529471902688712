"""Session-scoped persist ledger, shared by the query registry and by
operators that persist frames they cannot unpersist themselves.

Operators persist frames they reference more than once (dedup
signature frames, BM25's TF frame, …) but return LAZY results, so
they cannot unpersist at their own exit — something outside the call
has to release the cache once the result is consumed. The registry
(queries/registry.py) did this with a private ledger; round 14 moves
the ledger here so operators can register persists directly instead
of leaking when called outside the registry (round-13 ADVICE,
bm25_topk), without an operators → queries import cycle.

Attribution is THREAD-SCOPED (round-13 ADVICE, registry.py:246): the
persist monkeypatch consults a thread-local capture stack, so a
persist() issued by a concurrent non-registry thread while a capture
is open is simply NOT tracked — never misattributed to the in-flight
query and unpersisted out from under its owner. Captures on different
threads no longer serialize each other: the state lock is held only
for ledger mutation and patch install/remove, never across the
captured function body.
"""

from __future__ import annotations

import threading
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame

_STATE_LOCK = threading.RLock()
_SESSION_STATE: WeakKeyDictionary = WeakKeyDictionary()

# Per-thread stack of (spark, owner) capture frames. tracking_persist
# reads ITS OWN thread's top frame only — a persist from any other
# thread sees an empty stack and is left untracked.
_TLS = threading.local()

# How many captures are currently open across all threads; the class
# patch is installed while > 0. Guarded by _STATE_LOCK.
_capture_refs = 0
_patched: list[tuple[type, object]] = []


def session_state(spark) -> dict:
    """The session's mutable ledger state: {"fallback_n", "persists"}."""
    with _STATE_LOCK:
        st = _SESSION_STATE.get(spark)
        if st is None:
            st = {"fallback_n": 0, "persists": []}
            _SESSION_STATE[spark] = st
        return st


def track(spark, owner: str, df: DataFrame) -> DataFrame:
    """Record an already-persisted frame under ``owner``; returns it."""
    st = session_state(spark)
    with _STATE_LOCK:
        st["persists"].append((owner, df))
    return df


def track_uncaptured(spark, owner: str, df: DataFrame) -> DataFrame:
    """``track`` for a persist made outside any capture on THIS thread
    (a direct operator call); inside one, the capture has already
    recorded it under the query being built."""
    if not getattr(_TLS, "stack", None):
        track(spark, owner, df)
    return df


def _drop(entries: list[tuple[str, DataFrame]], blocking: bool) -> None:
    for _, df in entries:
        try:
            df.unpersist(blocking=blocking)
        except Exception:  # session teardown races are benign
            pass


def release(spark, keep_owner: str | None = None, blocking: bool = False):
    """Unpersist every tracked frame whose owner is NOT ``keep_owner``
    (all of them when None). Same-owner frames stay warm — identical
    re-invocations (bench reps) reuse the cache."""
    st = session_state(spark)
    with _STATE_LOCK:
        keep, drop = [], []
        for own, df in st["persists"]:
            (keep if keep_owner is not None and own == keep_owner else drop
             ).append((own, df))
        st["persists"] = keep
    _drop(drop, blocking)


def release_owner(spark, owner: str, blocking: bool = False):
    """Unpersist ONLY ``owner``'s tracked frames (an operator's
    self-clean at re-entry: the previous call's caches go, everything
    else stays)."""
    st = session_state(spark)
    with _STATE_LOCK:
        keep, drop = [], []
        for own, df in st["persists"]:
            (drop if own == owner else keep).append((own, df))
        st["persists"] = keep
    _drop(drop, blocking)


def _dataframe_classes() -> list[type]:
    """Concrete DataFrame classes whose ``persist`` must be wrapped.
    Spark 4.x: pyspark.sql.DataFrame is a dispatch base and
    pyspark.sql.classic.dataframe.DataFrame OVERRIDES persist in its
    own __dict__ — patching only the base would capture nothing."""
    classes = [DataFrame]
    try:  # Spark 4.x classic implementation
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        classes.append(_CDF)
    except ImportError:  # Spark 3.x: the base IS the implementation
        pass
    return classes


def _install_patch() -> None:
    for cls in _dataframe_classes():
        if "persist" not in cls.__dict__:
            continue  # inherits a patched parent — one wrap only
        orig = cls.__dict__["persist"]

        def tracking_persist(df_self, *a, _orig=orig, **k):
            out = _orig(df_self, *a, **k)
            stack = getattr(_TLS, "stack", None)
            if stack:  # only the CAPTURING thread attributes
                spark, owner = stack[-1]
                track(spark, owner, out)
            return out

        _patched.append((cls, orig))
        cls.persist = tracking_persist


def _remove_patch() -> None:
    while _patched:
        cls, orig = _patched.pop()
        cls.persist = orig


class capture:
    """Context manager: DataFrame.persist() calls issued ON THIS
    THREAD inside the block are recorded under ``owner`` in the
    session ledger. Other threads' persists during the window are
    untouched (thread-local stack); nested captures attribute to the
    innermost owner."""

    def __init__(self, spark, owner: str):
        self.spark, self.owner = spark, owner

    def __enter__(self):
        global _capture_refs
        with _STATE_LOCK:
            if _capture_refs == 0:
                _install_patch()
            _capture_refs += 1
        stack = getattr(_TLS, "stack", None)
        if stack is None:
            stack = _TLS.stack = []
        stack.append((self.spark, self.owner))
        return self

    def __exit__(self, *exc):
        global _capture_refs
        _TLS.stack.pop()
        with _STATE_LOCK:
            _capture_refs -= 1
            if _capture_refs == 0:
                _remove_patch()
        return False
