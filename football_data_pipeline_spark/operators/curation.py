"""Quality-aware canonical selection — the dedup policy production
curation pipelines actually ship. Exact dedup (dedup.q_dedup_exact)
keeps the MIN-ID member of each duplicate group: correct for
determinism, but a real corpus release keeps the HIGHEST-QUALITY
copy (the members of an exact word-set group differ in casing,
boilerplate, truncation — their quality scores differ even though
their fingerprints collide). Reference parity: none —
LLM-data-pipeline extension (SURVEY.md §2 scale extensions).

This operator composes two proven passes (never re-implements
them): the canonical word-set fingerprint (dedup.fingerprint — THE
shared exact-dup definition) and the hashed-linear quality score
(quality.classify_quality), then picks each duplicate group's
canonical as argmax(score), ties broken by min doc_id so the choice
is deterministic; scoreless docs (empty token sets) order last.

100 TB shape: one scan for the fingerprint projection, the
classifier's single token-explode aggregate, a doc_id equi join,
and TWO window functions over the SAME fingerprint partitioning —
one shuffle on the fingerprint key total (the windows share the
exchange), the same asymptote as q_dedup_exact's groupBy. No
driver-side anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query
from .dedup import _WORD_SET_SQL, fingerprint
from .quality import WEIGHT_MOD, WEIGHT_SALT, classify_quality


def best_of_group(docs: DataFrame) -> DataFrame:
    """One row per MEMBER of each exact-duplicate group (n_docs >
    1): (doc_id, fingerprint, score, n_docs, canonical_doc_id,
    is_canonical) — canonical = highest score, ties to the smaller
    doc_id, NULL scores last. Callers keep `is_canonical` rows and
    drop the rest; the non-canonical rows ARE the audit trail."""
    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
    scored = classify_quality(docs).select("doc_id", "score")
    j = fp.join(scored, "doc_id", "left")
    w_best = (
        Window.partitionBy("fingerprint")
        .orderBy(F.desc_nulls_last("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("fingerprint")
    ranked = j.select(
        "doc_id",
        "fingerprint",
        "score",
        F.count("*").over(w_all).alias("n_docs"),
        F.first("doc_id").over(w_best).alias("canonical_doc_id"),
    )
    return ranked.filter(F.col("n_docs") > 1).select(
        "doc_id",
        "fingerprint",
        "score",
        "n_docs",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
    )


def _best_of_group_oracle() -> str:
    # fingerprint SQL = dedup.q_dedup_exact's proven twin; score SQL
    # = quality.q_quality_classifier's; the window frame is explicit
    # on both engines so first_value agrees rowwise
    h = f"CAST('0x' || substr(md5('{WEIGHT_SALT}' || w), 1, 8) AS BIGINT)"
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             floor((CAST(sum(CAST(({h} % {WEIGHT_MOD} - 1000) / 1000.0
                                  AS DECIMAL(28,4))) AS DOUBLE) / count(*))
                   * 10000 + 0.5) / 10000 AS score
      FROM tok GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort({_WORD_SET_SQL}), ' '))
               AS fingerprint
      FROM documents
    ),
    j AS (
      SELECT f.doc_id, f.fingerprint, s.score
      FROM fp f LEFT JOIN scored s ON s.doc_id = f.doc_id
    ),
    ranked AS (
      SELECT doc_id, fingerprint, score,
             count(*) OVER (PARTITION BY fingerprint) AS n_docs,
             first_value(doc_id) OVER (
               PARTITION BY fingerprint
               ORDER BY score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS canonical_doc_id
      FROM j
    )
    SELECT doc_id, fingerprint, score,
           CAST(n_docs AS BIGINT) AS n_docs,
           canonical_doc_id,
           doc_id = canonical_doc_id AS is_canonical
    FROM ranked WHERE n_docs > 1
    """


@query("q_dedup_best_of_group", oracle=_best_of_group_oracle())
def q_dedup_best_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup over the documents table: every
    duplicate-group member with its group's chosen canonical (argmax
    quality, deterministic ties) — the keep-the-best-copy policy
    (module docstring has the rationale and the one-shuffle plan
    argument)."""
    return best_of_group(load(spark, sf_dir, "documents"))


def best_of_component(
    docs: DataFrame, pairs: DataFrame, rep: DataFrame | None = None
) -> DataFrame:
    """The release-grade variant (VERDICT r9 item 3): argmax-quality
    canonical selection over NEAR-dup COMPONENTS instead of exact
    fingerprint groups. ``pairs`` is a verified rep-level near-dup
    pair table (doc_a, doc_b — q_dedup_minhash's output shape, reps
    = min doc_id per fingerprint group). Members of a component are
    EVERY doc whose fingerprint-group rep belongs to it (the exact
    groups fold into their reps' clusters), so the policy composes
    exact + near dedup: one keeper per transitive near-dup cluster,
    chosen by score, ties to min doc_id, NULL scores last.

    Output one row per member: (doc_id, component, score, n_docs,
    canonical_doc_id, is_canonical) — the non-canonical rows are the
    audit trail, exactly best_of_group's contract with the component
    id as the partition key.

    100 TB shape: the component table is pair-derived (orders of
    magnitude smaller than the corpus — dedup.connected_components'
    argument), so the rep→component join is dimension-sized; member
    expansion is one fingerprint groupBy (the q_dedup_exact
    exchange) + doc_id equi joins; then the SAME two-windows-one-
    exchange shape as best_of_group, partitioned by component.

    ``rep`` (optional): a precomputed (f, rid) fingerprint→rep
    mapping. When the caller already built the pair table from
    dedup.minhash_rep_groups, its cached group table holds exactly
    this mapping (f = fingerprint(text), rid = min doc_id per group
    — same key expression, same aggregate, same doc set), so passing
    it skips re-running the corpus-wide fingerprint groupBy here
    (r14, guide §2.4 — don't re-aggregate what a shared stage
    already materialized)."""
    from .dedup import connected_components

    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("f"))
    if rep is None:
        rep = fp.groupBy("f").agg(F.min("doc_id").alias("rid"))
    comp = connected_components(
        pairs.select("doc_a", "doc_b")
    ).select(F.col("doc_id").alias("rid"), "component")
    members = fp.join(rep, "f").join(comp, "rid").select("doc_id", "component")
    scored = classify_quality(docs).select("doc_id", "score")
    j = members.join(scored, "doc_id", "left")
    w_best = (
        Window.partitionBy("component")
        .orderBy(F.desc_nulls_last("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("component")
    return j.select(
        "doc_id",
        "component",
        "score",
        F.count("*").over(w_all).alias("n_docs"),
        F.first("doc_id").over(w_best).alias("canonical_doc_id"),
    ).select(
        "doc_id",
        "component",
        "score",
        "n_docs",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
    )


def _best_of_component_oracle() -> str:
    # components via the recursive-CTE fixpoint (dedup._components_
    # oracle over the minhash pair set), member expansion via the
    # shared fingerprint groupBy, scores + windows = best_of_group's
    # oracle shape with component as the partition key
    from .dedup import _components_oracle

    h = f"CAST('0x' || substr(md5('{WEIGHT_SALT}' || w), 1, 8) AS BIGINT)"
    return f"""
    WITH comp AS (
      SELECT doc_id AS rid, component FROM ({_components_oracle()})
    ),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort({_WORD_SET_SQL}), ' ')) AS f
      FROM documents
    ),
    rep AS (SELECT f, min(doc_id) AS rid FROM fp GROUP BY f),
    member AS (
      SELECT p.doc_id, c.component
      FROM fp p JOIN rep r ON r.f = p.f JOIN comp c ON c.rid = r.rid
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             floor((CAST(sum(CAST(({h} % {WEIGHT_MOD} - 1000) / 1000.0
                                  AS DECIMAL(28,4))) AS DOUBLE) / count(*))
                   * 10000 + 0.5) / 10000 AS score
      FROM tok GROUP BY doc_id
    ),
    j AS (
      SELECT m.doc_id, m.component, s.score
      FROM member m LEFT JOIN scored s ON s.doc_id = m.doc_id
    )
    SELECT doc_id, component, score,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_docs,
           first_value(doc_id) OVER (
             PARTITION BY component
             ORDER BY score DESC NULLS LAST, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS canonical_doc_id,
           doc_id = first_value(doc_id) OVER (
             PARTITION BY component
             ORDER BY score DESC NULLS LAST, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS is_canonical
    FROM j
    """


@query("q_dedup_best_of_component", oracle=_best_of_component_oracle())
def q_dedup_best_of_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware NEAR-dup dedup end-to-end: MinHash+LSH verified
    pairs → connected components → fingerprint-group member
    expansion → argmax-quality canonical per component. The oracle
    recomputes the whole chain (recursive-CTE fixpoint + windows) —
    a drift in the pair set, the component fixpoint, the member
    expansion, or the canonical policy breaks the value hash."""
    from .dedup import minhash_rep_groups, minhash_verified_pairs

    docs = load(spark, sf_dir, "documents")
    grp = minhash_rep_groups(docs)
    pairs = minhash_verified_pairs(grp).select("doc_a", "doc_b")
    # the cached group table IS the fingerprint→rep mapping the
    # member expansion needs (f = fingerprint(text), rid = min
    # doc_id) — reuse it instead of re-aggregating the corpus
    return best_of_component(
        docs, pairs, rep=grp.select(F.col("fp").alias("f"), "rid")
    )
