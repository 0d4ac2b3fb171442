"""Session-scoped cache registry.

Operators that persist intermediate DataFrames (dedup signatures,
embedding tables) register them here so long-lived driver sessions
(notebooks, services, the bench loop) can release the cached blocks
once a query's final action has run, instead of leaking them until
session shutdown.  ``canonicalize.canonicalize_entities`` returns its
output as such a tracked persisted frame, so every graph build that
reads it scans the cache; callers release it with
``release_persisted()`` like any other.  bench.py, the test session
fixture and scripts/run_pipeline.py call ``release_persisted()`` after
their last action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df.persist()


def release_persisted() -> None:
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
