"""Prepared-Column memoization — reusable unresolved expression trees.

The foreachBatch consumers rebuild IDENTICAL Column trees every epoch
(and every bench re-run): each ``F.*`` call is a py4j round-trip
(~0.5-1.5 ms measured) and each DataFrame transformation an eager
re-analysis, so a 30-node tree costs tens of milliseconds of pure
driver time per rebuild — the "py4j expression-tree rebuild" half of
the per-epoch driver gaps (optimization guide §1.2: make the plan
construction match the ideal, not just the execution; §4: control what
crosses the Python boundary).

Unresolved Columns built from ``F.col``/``F.lit`` are immutable and
DataFrame-independent: reusing one across epochs resolves it against
each new frame exactly as a freshly built copy would.  Some memoized
values are bound to the SparkContext that built them (a ``pandas_udf``
wrapper such as ``functions/text.hashed_ngram_udf``), so the memo lives
exactly as long as the active SparkContext: one dict for the live
context, dropped the first time a different context is active.  The
context is held strongly, so its identity cannot be recycled onto a
stale memo, and a dead context's entries are released.
"""

from __future__ import annotations

from typing import Any, Callable

#: (the SparkContext the memo belongs to, key → value), or None
_MEMO: tuple[Any, dict[tuple, Any]] | None = None


def prepared(key: tuple, build: Callable[[], Any]) -> Any:
    """Memoize ``build()`` under ``key`` for the lifetime of the active
    SparkContext.  ``key`` must capture every input the built tree
    depends on (schema JSON, column names, constants...).  Falls through
    to a plain build when no SparkContext is active (nothing to key on)."""
    global _MEMO
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    if _MEMO is None or _MEMO[0] is not sc:
        _MEMO = (sc, {})
    memo = _MEMO[1]
    if key not in memo:
        memo[key] = build()
    return memo[key]
