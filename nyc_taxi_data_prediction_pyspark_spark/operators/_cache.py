"""The one cache lifecycle of the iterative operators (graph, clustering,
dedup): a frame is cached for exactly one ``with`` block and released on
every exit from it, errors included.

Private on purpose: the benchmark tracer wraps every public function of
the operator modules, and this helper is plumbing, not an operator.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def _cached(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` for the block, then unpersist it however the block
    ends. Anything returned out of the block must not read the cache
    lazily — force it first (``localCheckpoint(eager=True)``), or it
    recomputes from source after the release."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()
