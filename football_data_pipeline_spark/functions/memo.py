"""The media tier's shared kernel machinery: one Arrow runner
(``map_rows``) and one byte-bounded per-worker memo
(``payload_memo``) for the pure per-payload functions it runs.

``map_rows`` is the only ``mapInPandas`` body the image, audio and
video operators use: each operator is a module-level per-row function
(decode + stats/fingerprint, or a synthesizer) plus one ``map_rows``
call, so the batch loop, the key pass-through and the output column
names live here once. The two vectorized kernels
(multimodal.extract_features, embedsearch's matrix product) keep
their own ``mapInPandas`` bodies.

The r13 media kernels memoize pure per-payload computations
(decode + fingerprint/stats) with ``lru_cache`` keyed on the payload
BYTES (never a digest — a hash collision must not alias two
payloads). That cache is bounded by ENTRY COUNT only: 128-512
entries × multi-MB real-corpus video payloads would pin multi-GB of
Python heap per worker at production payload sizes (VERDICT r13
item 6; guide §5 — the Python worker's RSS comes out of executor
memoryOverhead).

``payload_memo`` adds the missing byte bound: payloads larger than
``max_bytes`` are computed directly and NEVER enter the cache, so a
worker's memo holds at most ``maxsize × max_bytes`` of key bytes
(default 512 × 256 KiB = 128 MiB worst case — and real entries are
far smaller). The gate does not change any result (the memoized
functions are pure), and the fixture-scale hit rate is unaffected:
every synthesized bench payload is far below the gate.

The gate bounds KEY bytes only. Cached VALUES are not measured:
fingerprints and stats are tiny, but a decoded value can be roughly
the size of its payload (``_sampled_frames`` keeps PPM stills of the
sampled frames), so budget a worker's memo at about twice the key
bound.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame

#: per-entry size gate: payloads above this never enter a memo.
#: 256 KiB comfortably covers every fixture payload class (PPM
#: stills ~12 KB, WAV tones ~176 KB, Y4M clips ~230 KB) while
#: keeping the worst-case per-worker key pinning at
#: maxsize × 256 KiB.
PAYLOAD_MEMO_MAX_BYTES = 256 * 1024


def payload_memo(
    maxsize: int, max_bytes: int = PAYLOAD_MEMO_MAX_BYTES
) -> Callable:
    """``lru_cache(maxsize)`` for a pure function whose FIRST argument
    is a payload ``bytes``, with a per-entry byte gate: oversized
    payloads bypass the cache entirely (computed every call, cached
    never). Exposes ``cache_info``/``cache_clear`` like ``lru_cache``
    (oversized bypasses do not appear in either counter).
    """

    def deco(fn: Callable) -> Callable:
        cached = functools.lru_cache(maxsize=maxsize)(fn)

        @functools.wraps(fn)
        def wrapper(payload: bytes, *rest):
            if len(payload) > max_bytes:
                return fn(payload, *rest)
            return cached(payload, *rest)

        wrapper.cache_info = cached.cache_info
        wrapper.cache_clear = cached.cache_clear
        wrapper.__wrapped__ = fn
        return wrapper

    return deco


def map_rows(
    df: DataFrame, fn: Callable, schema: str, *args, many: bool = False
) -> DataFrame:
    """Run the per-row Python function ``fn`` over ``df`` as one
    Arrow-batched ``mapInPandas`` pass. Each input row is
    ``(key, *inputs)``, ``df``'s columns in order; ``fn(*inputs,
    *args)`` returns the output row after the key (with
    ``many=True``, an iterable of such rows, possibly empty), and the
    runner emits ``(key, *tail)`` under the DDL ``schema``, whose
    field names name the output columns (so an empty batch still has
    them). Each batch's output frame is built from a list of row
    tuples, so pandas infers the dtypes from the values and a
    ``None`` reaches Spark as NULL. Binary columns arrive as
    ``bytes``, so a ``payload_memo`` function keys on them directly;
    keep ``fn`` module-level so each worker's memo outlives a batch.
    """
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).names

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            cols = [pdf[c] for c in pdf.columns]
            if many:
                rows = [
                    (key, *tail)
                    for key, *inputs in zip(*cols)
                    for tail in fn(*inputs, *args)
                ]
            else:
                rows = [(key, *fn(*inputs, *args)) for key, *inputs in zip(*cols)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(kernel, schema=schema)
