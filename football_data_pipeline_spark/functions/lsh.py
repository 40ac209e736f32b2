"""The engine's one candidate-pair rule for LSH band joins.

Every banded near-duplicate pass (minhash word sets, minhash 3-gram
shingles, random-hyperplane embedding bands, dHash image/audio/video
fingerprints; batch, incremental and streaming) finds its candidates
through :func:`band_pairs`: explode each row's band array to
(band index, band value), equi-join on ``(by…, band, value)``, keep
distinct id pairs. The banding itself (bands, rows, thresholds) stays
with each caller because it defines the results; only the pair plan
is shared. Callers keep their verify step (Jaccard, cosine, Hamming),
joined back to their payload by id, so shuffle bytes through the
band join and the distinct are id-sized, never payload-sized.

The plan is a plain, unhinted equi-join: the planner broadcasts a
band stream that fits under the broadcast threshold and sort-merges
a larger one, and AQE sizes the partitions from the bytes it sees.
The history form pairs batch rows with history rows only, so
per-batch cost is arrival × bucket occupancy, the incremental-dedup
asymptote, and a small batch is the broadcast side against the
streamed history.

A salted skew plan (split side salted by ``pmod(hash(id), 8)``, the
other side replicated 8×, ``shuffle_hash`` on ``defaultParallelism``
pinned partitions, a re-spread after the ``distinct``) was tried as
the rule for every site and measured against this plain join on a
4-core, 16 GB box, interleaved in one session:

- a 500-document micro-batch (the streaming writers' self form):
  0.76 s salted vs 0.58 s plain per call (median of 6);
- sf0.1 queries (median of 6): q_dedup_minhash 7.56 vs 6.77 s,
  q_ngram_jaccard 3.14 vs 3.49, q_video_frame_dedup 1.45 vs 1.48,
  q_lsh_recall 7.29 vs 6.92, q_dedup_embed 3.44 vs 4.10 — only
  q_dedup_embed was faster salted;
- a 600k-row band stream with one 4,000-row bucket (8.9M pairs):
  the ``shuffle_hash`` build over pinned partitions failed with
  "not enough memory to build hash map" at a 4 GB driver heap, and
  the same salted join left to the planner took 19.1 s vs 10.1 s
  plain (0 of 4 runs faster).

So no salt: at every measured size the 8× copy of one side costs more
than the pair generation it spreads. A template mega-bucket of K rows
still generates its K²/2 pairs in the one task that owns it; when a
corpus grows buckets wide enough to straggle, the measured fix is a
split of the hot buckets only (found by a bucket-size count), not a
copy of every row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_pairs(
    left: DataFrame,
    id: str,
    bands: Column | str,
    right: DataFrame | None = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Distinct ``({id}_a, {id}_b)`` pairs of rows that share
    ``(by…, band index, band value)``; ``bands`` is an array column
    (or an expression over each side's columns) of band values. The
    ``by`` keys only restrict the pairing: ids determine them, so the
    distinct runs over the two ids alone (keeping a string ``kind``
    key in it made q_media_curation 40 → 53 s at sf0.1).

    Self form (``right`` is None): pairs within ``left``, ``{id}_a <
    {id}_b``. History form: ``{id}_a`` from ``left`` (the batch),
    ``{id}_b`` from ``right`` (the history); both frames carry ``id``,
    ``by`` and what ``bands`` reads."""
    by = list(by)
    a, b = f"{id}_a", f"{id}_b"

    def explode(df: DataFrame, name: str) -> DataFrame:
        return df.select(*by, F.col(id).alias(name), F.posexplode(bands).alias("band", "sig"))

    pairs = explode(left, a).join(explode(left if right is None else right, b), [*by, "band", "sig"])
    if right is None:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return pairs.select(a, b).distinct()
