"""Scoped caching for operators whose plans feed multiple lineages.

Several operators (shingle tables, MinHash signatures, LSH bucket keys,
IVF assignments) derive an expensive intermediate that both sides of a
self-join consume. Persisting it makes the derivation run once per
*action* instead of once per lineage branch — but a bare ``persist()``
inside a lazy operator leaks storage memory in a long-lived session,
because the operator never sees the action and so can never unpersist.

``pin()`` persists and registers the DataFrame; callers (pipelines,
benchmark/verify harnesses, tests) call :func:`release_caches` after the
terminal action to drop every pinned block. ``release_caches`` is
idempotent and safe to call with queries still lazy — Spark recomputes
an unpersisted plan transparently, so the worst case of an early release
is lost dedup, never a wrong answer.

``temp_dir()`` is the same contract for a side-channel directory a lazy
plan reads (the long-series block store): it lives until
:func:`release_caches`, after the terminal action has materialized the
result.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []
_TEMP_DIRS: list[str] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    df.persist()
    _PINNED.append(df)
    return df


def temp_dir(prefix: str) -> str:
    """A new temp directory, removed by :func:`release_caches`."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(path)
    return path


def release_caches() -> int:
    """Unpersist every pinned DataFrame and remove every :func:`temp_dir`;
    returns how many DataFrames were released."""
    while _TEMP_DIRS:
        shutil.rmtree(_TEMP_DIRS.pop(), ignore_errors=True)
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
