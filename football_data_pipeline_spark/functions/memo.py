"""Byte-bounded per-worker memoization for payload-keyed kernels.

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
