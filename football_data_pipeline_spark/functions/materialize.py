"""The engine's one materialization rule: a frame that several
consumers read is cached for exactly the scope that reads it.

Many queries and micro-batches share one long-lived driver session,
so a cached frame must not outlive the work that made it: Spark's
CacheManager matches frames by plan, so a frame left registered
pins executor memory for the session and lets a later run of the
same plan skip work it should pay for. Every cache in the package
goes through :func:`cached`, which releases the frame on every exit
path. Nest one ``with`` per frame, so that a frame built from an
earlier one releases both when its construction raises::

    with cached(a) as a:
        with cached(build(a)) as b:
            ...

A query body that returns a result reading a cached frame takes an
eager ``localCheckpoint()`` of the (small) result before the scope
exits; the checkpoint's blocks are reclaimed once the returned frame
is unreferenced. The lazy ``localCheckpoint(eager=False)`` form stays
only where it truncates a loop's plan (the connected-components
rounds): at the cache sites it measured slower (sf0.1, 4 cores,
parent → lazy median s: q_dedup_minhash 7.49 → 10.51,
q_ngram_jaccard 3.41 → 4.50, q_dedup_components 8.63 → 11.38),
plausibly because AQE materializes a cached relation once, as its own
query stage, before its consumers run.

``tests/test_reachability.py`` holds the rule: no ``.cache()``,
``.persist()`` or ``.unpersist()`` call outside this module.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df.cache()``; unpersist it when the scope exits,
    whether the body returns or raises."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()
