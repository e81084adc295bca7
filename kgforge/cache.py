"""Session-lifetime tracking for persisted intermediates.

Operators that persist a DataFrame consumed by several joins (LSH band
bases) cannot unpersist it before returning — the result is still lazy.
In a long-lived session those cached blocks would accumulate across
invocations (ADVICE r01). Operators therefore register handles here, and
callers (pipeline cleanup, bench harness, tests) call `release_cached()`
once their results are materialized.
"""

from __future__ import annotations

_CACHED: list = []


def persist_tracked(df):
    """persist() + register for later release_cached()."""
    df = df.persist()
    _CACHED.append(df)
    return df


def release_cached() -> None:
    """Unpersist every tracked DataFrame (safe after results materialize;
    idempotent; never raises on an already-stopped session)."""
    while _CACHED:
        try:
            _CACHED.pop().unpersist()
        except Exception:
            pass
