"""Bloom-filter file skipping — the data-skipping index for the case
min/max ranges cannot prune: point lookups on a column the table is
NOT clustered by. zorder.py buys 2-D range pruning by reordering
rows; this buys key pruning WITHOUT reordering anything — per file,
a small bloom of the keys it holds rides in the manifest, and a
point read probes the blooms before opening a single file (Parquet
column-index blooms / Iceberg bloom filter metrics, engine-native).
Reference parity: none — scale extension; the reference's point
lookups are SQLite b-tree hits.

Why not xxhash64 (sketches.py's bloom): these blooms must be
AUDITABLE by the oracle, so the hash family is engine-portable by
construction — ``h_i(key) = ((key % P) * A_i + B_i) % P % num_bits``
with P = 2^31 - 1 and odd multipliers, all in 64-bit-safe integer
arithmetic that Spark and DuckDB (and any ANSI engine) evaluate
identically. Words pack 32 bits each (shifts stay under 2^31), so
no signed-overflow edge exists on either engine.

Design:

- ``file_blooms``: one pass over (file, key) rows — explode the K
  positions, group to (file, word) with a ``bit_or`` of the masks.
  State is bounded by files x words, never rows; map-side combine
  does the heavy lifting.
- ``bloom_probe``: for each probe key x file, EVERY one of the
  key's word-masks must be fully set in the file's bloom
  (``bool_and`` over a left join on word; a missing word is an
  instant miss). No false negatives ever — a bloom miss PROVES
  absence; a hit is a maybe.
- ``prune_files_bloom`` / ``read_point``: planning-time file-list
  cut + the exact residual filter on the survivors (pruned_read's
  soundness contract: the predicate is always re-applied).

100 TB shape: blooms are manifest metadata (num_bits/32 longs per
file ceiling, sparse words only), probing is a broadcast join of
the (small) probe-key set against file-count-bounded state, and the
read opens only surviving files. On a round-robin-ingested table
(every file's [min, max] spans the whole key space) min/max prunes
NOTHING while the bloom cuts to ~the true file count — exactly the
audit's planted geometry.

Driver-checked: ``q_bloom_skipping`` — per probe key (4 present,
derived in-plan from the table's span; 2 absent, past it), the file
counts each pruning level leaves on a round-robin layout:
total → min/max survivors → bloom survivors → true holders. The
oracle rebuilds the blooms bit-for-bit from the hash family and
reproduces every count; the deliberately tiny audit bloom (64 bits)
leaves visible false positives, so the approximate level is pinned
too, not just the exact ones. Filesystem semantics (real files,
no-false-negative sweep, read_point parity) in tests/test_bloomskip.

10x probe (documents replicated 10x; medians of 3):
q_bloom_skipping 1.10 -> 1.17 s — flat; bloom state is bounded by
files x words and the probe by the key set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query

#: engine-portable hash family: ((key % P) * A_i + B_i) % P % bits
HASH_P = (1 << 31) - 1
HASH_A = (2654435769, 40503, 2246822519, 3266489917, 668265263)
HASH_B = (1013904223, 12345, 1103515245, 214013, 69069)
BLOOM_K = 5
#: bits per bloom word — 32 keeps every shift signed-64-safe on any
#: engine (1 << 31 fits; 1 << 63 does not, portably)
WORD_BITS = 32
#: production default; the audit uses 64 to surface false positives
DEFAULT_BITS = 1 << 12


#: dtypes the long cast in bloom_positions is lossless for
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint", "long"}


def _require_integral_key(df: DataFrame, key_col: str) -> None:
    """The hash family starts with ``key.cast('long')`` — lossless
    only for integral keys. A string/decimal/float key would cast to
    NULL (or truncate), making every build-side word and probe-side
    mask NULL, so probes silently return EMPTY for keys that exist —
    a false negative, the one failure mode a bloom filter must never
    have (ADVICE r10). Fail loudly instead; hash non-integral keys
    to a long explicitly (and identically in any oracle) first."""
    dtype = dict(df.dtypes).get(key_col)
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"bloom key column {key_col!r} has non-integral type "
            f"{dtype!r}: the portable hash family would cast it to "
            "NULL and turn misses into silent false negatives — "
            "hash it to a long explicitly before building/probing"
        )


def bloom_positions(key: Column, num_bits: int, k: int = BLOOM_K) -> list[Column]:
    """The key's k bit positions in [0, num_bits) — portable integer
    arithmetic only (see module docstring)."""
    if k > len(HASH_A):
        raise ValueError(f"k={k} exceeds the hash family size {len(HASH_A)}")
    kk = F.pmod(key.cast("long"), F.lit(HASH_P))
    return [
        F.pmod(
            F.pmod(kk * F.lit(HASH_A[i]) + F.lit(HASH_B[i]), F.lit(HASH_P)),
            F.lit(num_bits),
        ).cast("long")
        for i in range(k)
    ]


def _word_masks(key: Column, num_bits: int, k: int) -> Column:
    """array<struct<word,mask>> for the key's positions."""
    return F.array(
        *[
            F.struct(
                (p / F.lit(WORD_BITS)).cast("long").alias("word"),
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    F.pmod(p, F.lit(WORD_BITS)).cast("int"),
                ).alias("mask"),
            )
            for p in bloom_positions(key, num_bits, k)
        ]
    )


def file_blooms(
    rows: DataFrame,
    file_col: str,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """(file, word, bits): per-file bloom words, non-zero words only.
    One explode (k structs per row) + one hash aggregate with
    map-side combine; output bounded by files x words."""
    _require_integral_key(rows, key_col)
    exploded = rows.select(
        F.col(file_col).alias("file"),
        F.explode(_word_masks(F.col(key_col), num_bits, k)).alias("wm"),
    )
    return exploded.groupBy(
        "file", F.col("wm.word").alias("word")
    ).agg(F.bit_or(F.col("wm.mask")).alias("bits"))


def bloom_probe(
    blooms: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """(key, file) pairs the blooms cannot rule out. Each probe
    key's word-masks must ALL be fully set in the file's words
    (bool_and over a left join on word; an absent word is a miss).
    The probe set is broadcast — point lookups are metadata-sized."""
    _require_integral_key(keys, key_col)
    key_words = (
        keys.select(F.col(key_col).alias("__k"))
        .distinct()
        .select(
            "__k",
            F.explode(_word_masks(F.col("__k"), num_bits, k)).alias("wm"),
        )
        .groupBy("__k", F.col("wm.word").alias("word"))
        .agg(F.bit_or(F.col("wm.mask")).alias("mask"))
    )
    files = blooms.select("file").distinct()
    probe = (
        files.crossJoin(F.broadcast(key_words))
        .join(blooms, ["file", "word"], "left")
        .groupBy("__k", "file")
        .agg(
            F.bool_and(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                == F.col("mask")
            ).alias("__maybe")
        )
        .filter(F.col("__maybe"))
        .select(F.col("__k").alias(key_col), "file")
    )
    return probe


def prune_files_bloom(
    blooms: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = BLOOM_K,
) -> list[str]:
    """The file list a point read must open — distinct survivors of
    ``bloom_probe`` across all probe keys. Bounded by file count."""
    return [
        r.file
        for r in bloom_probe(blooms, keys, key_col, num_bits, k)
        .select("file")
        .distinct()
        .collect()
    ]


def read_point(
    spark: SparkSession,
    blooms: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_BITS,
    k: int = BLOOM_K,
    base_path: str | None = None,
) -> DataFrame:
    """Point lookup through the blooms: open only surviving files,
    then apply the EXACT key filter (blooms admit false positives;
    the residual semi-join restores exactness — never trust the
    index alone)."""
    files = prune_files_bloom(blooms, keys, key_col, num_bits, k)
    if not files:
        any_file = blooms.select("file").first()
        empty = spark.read.parquet(any_file.file).filter(F.lit(False))
        return empty
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*files).join(
        F.broadcast(keys.select(F.col(key_col)).distinct()),
        [key_col],
        "left_semi",
    )


# --- driver oracle: pruning-funnel audit --------------------------------

#: audit geometry: round-robin files (min/max useless), tiny blooms
#: (visible false positives)
_AUDIT_FILES = 32
_AUDIT_BITS = 64


def bloom_skipping_audit(docs: DataFrame) -> DataFrame:
    """(k, present, n_files_total, n_files_minmax, n_files_bloom,
    n_files_true): the pruning funnel per probe key on a round-robin
    layout of ``documents`` (file_id = doc_id % 32 — every file's
    [min, max] spans ~the whole table, so min/max pruning is
    useless by construction and the bloom level is where skipping
    happens). Probe keys: 4 present (span quarters, in-plan), 2
    absent (past the span). Blooms built by the REAL file_blooms,
    probed by the REAL bloom_probe, at 64 bits so false positives
    are visible in the funnel."""
    bounds = docs.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    )
    keys = bounds.select(
        F.explode(
            F.array(
                *[
                    F.expr(f"__lo + ({i} * (__hi - __lo)) DIV 3")
                    for i in range(4)
                ],
                F.expr("__hi + 7"),
                F.expr("__hi + 100"),
            )
        ).alias("k")
    )
    rows = docs.select(
        (F.col("doc_id") % _AUDIT_FILES).alias("file"), "doc_id"
    )
    blooms = file_blooms(rows, "file", "doc_id", _AUDIT_BITS)
    maybe = bloom_probe(blooms, keys, "k", _AUDIT_BITS).select(
        F.col("k"), F.lit(1).alias("__bloom")
    ).groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_files_bloom"))
    per_file = rows.groupBy("file").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    mm = (
        keys.crossJoin(F.broadcast(per_file))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files_total"),
            F.sum(
                F.when(
                    (F.col("k") >= F.col("mn")) & (F.col("k") <= F.col("mx")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_files_minmax"),
        )
    )
    true_hits = (
        keys.join(
            rows.select(F.col("doc_id").alias("k"), "file").distinct(),
            "k",
            "left",
        )
        .groupBy("k")
        .agg(
            F.count(F.col("file")).cast("long").alias("n_files_true"),
        )
    )
    return (
        mm.join(maybe, "k", "left")
        .join(true_hits, "k", "left")
        .select(
            "k",
            (F.col("n_files_true") > 0).alias("present"),
            "n_files_total",
            "n_files_minmax",
            F.coalesce("n_files_bloom", F.lit(0)).cast("long").alias(
                "n_files_bloom"
            ),
            F.coalesce("n_files_true", F.lit(0)).cast("long").alias(
                "n_files_true"
            ),
        )
    )


def _bloom_oracle() -> str:
    pos = ", ".join(
        f"(((doc_id % {HASH_P}) * {HASH_A[i]} + {HASH_B[i]}) % {HASH_P})"
        f" % {_AUDIT_BITS}"
        for i in range(BLOOM_K)
    )
    kpos = ", ".join(
        f"(((k % {HASH_P}) * {HASH_A[i]} + {HASH_B[i]}) % {HASH_P})"
        f" % {_AUDIT_BITS}"
        for i in range(BLOOM_K)
    )
    return f"""
    WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
    keys AS (
      SELECT CAST(lo + (i * (hi - lo)) // 3 AS BIGINT) AS k
      FROM b, unnest([0,1,2,3]) AS t(i)
      UNION ALL SELECT hi + 7 FROM b
      UNION ALL SELECT hi + 100 FROM b
    ),
    rows_ AS (
      SELECT doc_id % {_AUDIT_FILES} AS file, doc_id FROM documents
    ),
    fpos AS (
      SELECT file, p
      FROM rows_, unnest([{pos}]) AS t(p)
    ),
    fwords AS (
      SELECT file, p // {WORD_BITS} AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {WORD_BITS} AS INT))
               AS bits
      FROM fpos GROUP BY 1, 2
    ),
    kpos_ AS (
      SELECT k, p FROM keys, unnest([{kpos}]) AS t(p)
    ),
    kwords AS (
      SELECT k, p // {WORD_BITS} AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {WORD_BITS} AS INT))
               AS mask
      FROM kpos_ GROUP BY 1, 2
    ),
    files AS (SELECT DISTINCT file FROM rows_),
    probe AS (
      SELECT kw.k, f.file,
             bool_and((coalesce(fw.bits, 0) & kw.mask) = kw.mask) AS maybe
      FROM files f
      CROSS JOIN kwords kw
      LEFT JOIN fwords fw ON fw.file = f.file AND fw.word = kw.word
      GROUP BY 1, 2
    ),
    bloomed AS (
      SELECT k, CAST(count(*) FILTER (WHERE maybe) AS BIGINT)
               AS n_files_bloom
      FROM probe GROUP BY k
    ),
    per_file AS (
      SELECT file, min(doc_id) AS mn, max(doc_id) AS mx
      FROM rows_ GROUP BY file
    ),
    mm AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_files_total,
             CAST(sum(CASE WHEN k BETWEEN mn AND mx THEN 1 ELSE 0 END)
               AS BIGINT) AS n_files_minmax
      FROM keys CROSS JOIN per_file GROUP BY k
    ),
    true_ AS (
      SELECT k, CAST(count(DISTINCT r.file) AS BIGINT) AS n_files_true
      FROM keys LEFT JOIN rows_ r ON r.doc_id = keys.k
      GROUP BY k
    )
    SELECT mm.k, (t.n_files_true > 0) AS present,
           mm.n_files_total, mm.n_files_minmax,
           coalesce(bl.n_files_bloom, 0) AS n_files_bloom,
           coalesce(t.n_files_true, 0) AS n_files_true
    FROM mm
    LEFT JOIN bloomed bl ON bl.k = mm.k
    LEFT JOIN true_ t ON t.k = mm.k
    """


@query("q_bloom_skipping", oracle=_bloom_oracle())
def q_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom data-skipping funnel, per probe key on a layout
    where min/max is useless: total files → min/max survivors (all
    of them — round-robin geometry) → bloom survivors (the real cut,
    false positives included at the deliberately tiny audit size) →
    true holders. Blooms and probes run through the REAL module
    kernels; the oracle rebuilds every bloom bit from the portable
    hash family and must land the identical funnel."""
    from ..catalog import load

    return bloom_skipping_audit(load(spark, sf_dir, "documents"))
