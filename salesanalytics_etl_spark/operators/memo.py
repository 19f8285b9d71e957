"""Kept for callers of the former cross-query memo layer: no operator
caches a result beyond the query that built it, so there is nothing to
clear."""

from __future__ import annotations


def clear_materialize_memos() -> int:
    """No-op; returns 0 entries dropped (no query result outlives its query)."""
    return 0
