"""Within-document repetition filters (Gopher arXiv:2112.11446
Table A1, the REPETITION half): duplicate line / paragraph
fractions, duplicate-line / paragraph CHARACTER fractions, the
top word-n-gram character share (n=2..4) and the duplicated
word-n-gram character share (n=5..10) — the filter family that
catches boilerplate loops, scraped nav spam and degenerate
generations that the rule gate (rules.py, the QUALITY half of the
same table) cannot see, because every quality rule there is
repetition-blind.

Definitions (stated exactly — the paper leaves ties and overlap
handling open, so the oracle pins THESE):

- a line / paragraph / n-gram is *duplicated* when its text occurs
  >= 2 times in the document; ALL its occurrences count;
- the *character weight* of a unit is its length in characters,
  with the n-gram's (n-1) single-space separators excluded so the
  weight is the sum of its words' lengths (tokenization-neutral);
- ``top{n}_prod`` = occurrences x character-weight of the MOST
  COMMON n-gram (ties: the gram with the larger product — i.e. the
  lexicographic max of (count, product), which is deterministic);
- ``dup{n}_chars`` = sum over duplicated n-grams of
  occurrences x character-weight. Overlapping occurrences are NOT
  de-overlapped (the common reimplementation simplification, e.g.
  Dolma / NeMo Curator); the gate thresholds compare like with
  like because the oracle computes the identical quantity.

Every threshold is an integer cross-multiplication
(``dup_chars * 100 <= PCT * total_chars``) — no float division, so
Spark and the oracle agree bit-for-bit at boundary documents
(rules.py's engine-portability recipe).

Scale shape — the headline design decision: per-document repetition
needs NO cross-document data, so the whole family is a map-only
projection with no data-dependent shuffle. Each unit family
(paragraphs, lines, n=2..10 grams) is materialized as an in-row
array, sorted (``array_sort``) and STAGED as a real column (a HOF
lambda re-evaluates free subexpressions per element — indexing into
an un-staged sort is accidentally quadratic; see
``repetition_stats``), then reduced two ways: duplicate counts /
char mass via a sorted-ADJACENCY pass (an element is duplicated iff
it equals a sorted neighbor — one index filter + one integer fold,
``_dup_stats``), and the top-(count, product) pair via a slim
4-field run-length fold kept only for the three top-n-gram families
(``_top_stats``). The first cut ran everything through a 6-field
struct fold; the adjacency split measured ~2x faster end-to-end.
The naive shape (explode grams -> groupBy(doc, n, gram) ->
re-aggregate per doc) shuffles ~9x the corpus through the network
to answer a per-row question; at 100 TB that is the difference
between scan-speed and a cluster-wide shuffle. The driver query's
ONLY exchange is a round-robin spread of the raw input (the local
testdata is one parquet file, which would serialize the pass onto
one core; a many-file production layout needs none) — measured at
sf0.1: 36.8 s single-split -> 4.5 s spread across local[32].

Reference tie-in: none — LLM-data-pipeline extension (SURVEY.md §2
scale extensions), completing the quality family: learned
(quality.py), perplexity (lm.py), rules (rules.py), repetition
(this module).

The driver fixture (``synth_lined_docs``) chunks each document's
words into 5-word lines and 3-line paragraphs (documents.text is
single-line), so line/paragraph structure is CLOSED-FORM in the
original word sequence: the oracle rebuilds every unit as a word
SLICE (15i..15i+14 for paragraphs, 5i..5i+4 for lines, i..i+n-1
for grams) and re-derives all stats by explode + GROUP BY — a
fully independent computation path from the operator's
split-then-fold.

10x probe (documents replicated 10x, 5k -> 50k docs, medians of
3): 3.39 -> 17.64 s — sub-linear in rows; the fold is partition-
parallel and wall tracks the scan plus per-doc HOF cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.sliding import chunked_join, sliding_join
from ..registry import query

#: gate thresholds, percent (integer cross-multiplied — see above).
DUP_LINE_PCT = 30  # <= 30% of lines may be duplicates (Gopher A1)
DUP_PARA_PCT = 30
DUP_LINE_CHAR_PCT = 20  # <= 20% of line chars in duplicated lines
DUP_PARA_CHAR_PCT = 20
TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}  # top n-gram char share
DUP_NGRAM_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}

#: rule names in gate order (r_<name> flag columns)
RULE_NAMES = (
    "dup_line",
    "dup_line_chars",
    "dup_para",
    "dup_para_chars",
    *[f"top_{n}gram" for n in sorted(TOP_NGRAM_PCT)],
    *[f"dup_{n}gram" for n in sorted(DUP_NGRAM_PCT)],
)

def _weight(g: Column, sep_chars: int) -> Column:
    w = F.length(g).cast("long")
    return w - F.lit(sep_chars) if sep_chars else w


def _dup_stats(sorted_arr: Column, sep_chars: int) -> Column:
    """struct(dup_units, dup_chars) over a SORTED string array: an
    element is duplicated iff it equals a sorted neighbor, so the
    whole stat is one index filter + one integer fold — deliberately
    NOT a struct-accumulator pass (the first cut folded a 6-field
    struct per element; the expression tree blew past codegen's
    comfort and ran ~4x slower than this adjacency form)."""
    m = F.size(sorted_arr)
    idx = F.when(m > 0, F.sequence(F.lit(0), m - 1)).otherwise(
        F.expr("CAST(array() AS ARRAY<INT>)")
    )

    def is_dup(i: Column) -> Column:
        prev_eq = (i > 0) & (
            F.get(sorted_arr, i) == F.get(sorted_arr, i - 1)
        )
        next_eq = (i < m - 1) & (
            F.get(sorted_arr, i) == F.get(sorted_arr, i + 1)
        )
        return prev_eq | next_eq

    dup_idx = F.filter(idx, is_dup)
    dup_chars = F.aggregate(
        dup_idx,
        F.lit(0).cast("long"),
        lambda a, i: a + _weight(F.get(sorted_arr, i), sep_chars),
    )
    return F.struct(
        F.size(dup_idx).cast("long").alias("dup_units"),
        dup_chars.alias("dup_chars"),
    )


def _top_stats(sorted_arr: Column, sep_chars: int) -> Column:
    """struct(top_cnt, top_prod): the lexicographic max over runs of
    (run length, run length x character weight). This one genuinely
    needs a run-length fold — but only a 4-field accumulator, and
    only for the three top-n-gram families (the dup-only families
    take the cheap adjacency path above)."""
    zero = F.lit(0).cast("long")

    def closed(acc: Column) -> dict[str, Column]:
        run = acc["run"]
        prod = F.when(
            run > 0, run * _weight(acc["prev"], sep_chars)
        ).otherwise(zero)
        better = (run > acc["top_cnt"]) | (
            (run == acc["top_cnt"]) & (prod > acc["top_prod"])
        )
        return {
            "top_cnt": F.when(better, run).otherwise(acc["top_cnt"]),
            "top_prod": F.when(better, prod).otherwise(acc["top_prod"]),
        }

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("top_cnt"),
        zero.alias("top_prod"),
    )

    def merge(acc: Column, g: Column) -> Column:
        same = acc["prev"].isNotNull() & (acc["prev"] == g)
        c = closed(acc)
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["top_cnt"]).otherwise(c["top_cnt"]).alias(
                "top_cnt"
            ),
            F.when(same, acc["top_prod"]).otherwise(c["top_prod"]).alias(
                "top_prod"
            ),
        )

    def finish(acc: Column) -> Column:
        c = closed(acc)
        return F.struct(
            c["top_cnt"].alias("top_cnt"),
            c["top_prod"].alias("top_prod"),
        )

    return F.aggregate(sorted_arr, init, merge, finish)


def _grams(words: Column, n: int) -> Column:
    """All word n-grams (single-space joined), [] when too short.

    Built with the arrays_zip sliding kernel (functions/sliding.py),
    NOT transform-over-sequence-with-slice: the naive lambda captures
    ``words`` and re-evaluates it once PER WINDOW INDEX — O(len²)
    per document when ``words`` is itself a split expression (r13;
    the same trap sliding.py's module docstring documents). The
    size-guard keeps sliding_join's truncated/empty-input windows
    unreachable, so the output is element-identical to the naive
    form: full windows only, [] when size < n."""
    return F.when(
        F.size(words) >= n,
        sliding_join(words, n),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(
        F.transform(arr, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the full Gopher-repetition stat block to ``docs``.

    Integer columns only (all LONG): n_words/total_wchars,
    n_lines/total_lchars/dup_line_cnt/dup_line_chars, the paragraph
    twins, top{2,3,4}_prod and dup{5..10}_chars. Paragraphs split on
    a blank line (literal ``\\n\\n``), lines on ``\\n``, words on
    runs of spaces/newlines. Map-only; see module docstring.
    """
    text = F.col(text_col)
    paras = F.array_remove(F.split(text, "\n\n"), "")
    lines = F.array_remove(F.split(text, "\n"), "")
    words = F.array_remove(F.split(text, "[ \n]+"), "")
    # STAGE the sorted arrays as real columns before any stat that
    # indexes into them: a HOF lambda re-evaluates its free
    # subexpressions per element, so `get(array_sort(grams(...)), i)`
    # inside a filter would re-split + re-sort the document for
    # EVERY index probe (measured: the un-staged form never finished
    # sf0.001 where the staged form takes ~2 s for sf0.1).
    # __words is staged FIRST (its own Project) so the nine gram
    # builders reference a bound column, not the split expression —
    # un-staged, each sliding_join argument re-evaluated the full
    # split ~2n+2 times per row (r13; multi-ref non-cheap alias, so
    # CollapseProject cannot inline it back).
    pre0 = docs.withColumn("__words", words)
    arrays: dict[str, Column] = {
        "__s_lines": F.array_sort(lines),
        "__s_paras": F.array_sort(paras),
    }
    for n in sorted(TOP_NGRAM_PCT) + sorted(DUP_NGRAM_PCT):
        arrays[f"__s_g{n}"] = F.array_sort(_grams(F.col("__words"), n))
    pre = pre0.withColumns(arrays)
    cols: dict[str, Column] = {
        "n_words": F.size(F.col("__words")).cast("long"),
        "total_wchars": _sum_lengths(F.col("__words")),
        "n_lines": F.size(F.col("__s_lines")).cast("long"),
        "total_lchars": _sum_lengths(F.col("__s_lines")),
        "n_paras": F.size(F.col("__s_paras")).cast("long"),
        "total_pchars": _sum_lengths(F.col("__s_paras")),
        "__line_rs": _dup_stats(F.col("__s_lines"), 0),
        "__para_rs": _dup_stats(F.col("__s_paras"), 0),
    }
    for n in sorted(TOP_NGRAM_PCT):
        cols[f"__g{n}_rs"] = _top_stats(F.col(f"__s_g{n}"), n - 1)
    for n in sorted(DUP_NGRAM_PCT):
        cols[f"__g{n}_rs"] = _dup_stats(F.col(f"__s_g{n}"), n - 1)
    staged = pre.withColumns(cols)
    out = staged.withColumns(
        {
            "dup_line_cnt": F.col("__line_rs")["dup_units"],
            "dup_line_chars": F.col("__line_rs")["dup_chars"],
            "dup_para_cnt": F.col("__para_rs")["dup_units"],
            "dup_para_chars": F.col("__para_rs")["dup_chars"],
            **{
                f"top{n}_prod": F.col(f"__g{n}_rs")["top_prod"]
                for n in sorted(TOP_NGRAM_PCT)
            },
            **{
                f"dup{n}_chars": F.col(f"__g{n}_rs")["dup_chars"]
                for n in sorted(DUP_NGRAM_PCT)
            },
        }
    )
    return out.drop(*[c for c in staged.columns if c.startswith("__")])


def repetition_gate(stats: DataFrame) -> DataFrame:
    """Per-rule boolean flags + ``n_fail`` + ``passes`` over a
    ``repetition_stats`` output. Empty documents pass every rule
    (0 <= 0), matching rules.py's degrade-not-NaN convention.
    """
    flags: dict[str, Column] = {
        "r_dup_line": F.col("dup_line_cnt") * 100
        <= DUP_LINE_PCT * F.col("n_lines"),
        "r_dup_line_chars": F.col("dup_line_chars") * 100
        <= DUP_LINE_CHAR_PCT * F.col("total_lchars"),
        "r_dup_para": F.col("dup_para_cnt") * 100
        <= DUP_PARA_PCT * F.col("n_paras"),
        "r_dup_para_chars": F.col("dup_para_chars") * 100
        <= DUP_PARA_CHAR_PCT * F.col("total_pchars"),
    }
    for n, pct in sorted(TOP_NGRAM_PCT.items()):
        flags[f"r_top_{n}gram"] = (
            F.col(f"top{n}_prod") * 100 <= pct * F.col("total_wchars")
        )
    for n, pct in sorted(DUP_NGRAM_PCT.items()):
        flags[f"r_dup_{n}gram"] = (
            F.col(f"dup{n}_chars") * 100 <= pct * F.col("total_wchars")
        )
    out = stats.withColumns(flags)
    n_fail = None
    passes = None
    for name in RULE_NAMES:
        c = F.col(f"r_{name}")
        fail = F.when(c, 0).otherwise(1).cast("long")
        n_fail = fail if n_fail is None else n_fail + fail
        passes = c if passes is None else passes & c
    return out.withColumns({"n_fail": n_fail, "passes": passes})


def synth_lined_docs(
    docs: DataFrame,
    words_per_line: int = 5,
    lines_per_para: int = 3,
) -> DataFrame:
    """Deterministic line/paragraph fixture: chunk each document's
    words into ``words_per_line``-word lines and ``lines_per_para``-
    line paragraphs (blank-line separated) — documents.text is
    single-line, so the driver query needs structure the oracle can
    rebuild as pure word slices.
    """

    # chunked_join, NOT transform-over-sequence-with-slice (r13): the
    # naive chunk lambda captured its array argument and re-evaluated
    # it per chunk index — and `lines` is itself a chunk over the
    # word split, so building paragraphs re-chunked the whole
    # document once per paragraph (O(len²) per doc). chunked_join's
    # stride-gather touches the input a constant number of times, and
    # staging words/lines as real multi-ref columns keeps
    # CollapseProject from inlining the splits back into the lambdas.
    # Output parity: chunk m = words[m·k .. m·k+k−1] joined on sep,
    # ceil(size/k) chunks, empty input → empty array — exactly the
    # naive form (tests/test_repetition.py pins the fixture bytes).
    words = F.array_remove(F.split(F.col("text"), " "), "")
    staged = docs.withColumn("__sw", words).withColumn(
        "__sl", chunked_join(F.col("__sw"), words_per_line, " ")
    )
    paras = chunked_join(F.col("__sl"), lines_per_para, "\n")
    return staged.withColumn("text", F.concat_ws("\n\n", paras)).drop(
        "__sw", "__sl"
    )


_STAT_COLS = (
    "n_words",
    "total_wchars",
    "n_lines",
    "total_lchars",
    "dup_line_cnt",
    "dup_line_chars",
    "n_paras",
    "total_pchars",
    "dup_para_cnt",
    "dup_para_chars",
    "top2_prod",
    "top3_prod",
    "top4_prod",
    "dup5_chars",
    "dup6_chars",
    "dup7_chars",
    "dup8_chars",
    "dup9_chars",
    "dup10_chars",
)


def _oracle() -> str:
    ns = ", ".join(str(n) for n in sorted(TOP_NGRAM_PCT) + sorted(DUP_NGRAM_PCT))
    piv_lines = []
    for col, n, field in [
        ("n_lines", 1, "n_units"),
        ("total_lchars", 1, "total_chars"),
        ("dup_line_cnt", 1, "dup_units"),
        ("dup_line_chars", 1, "dup_chars"),
        ("n_paras", 0, "n_units"),
        ("total_pchars", 0, "total_chars"),
        ("dup_para_cnt", 0, "dup_units"),
        ("dup_para_chars", 0, "dup_chars"),
        *[(f"top{n}_prod", n, "top_prod") for n in sorted(TOP_NGRAM_PCT)],
        *[(f"dup{n}_chars", n, "dup_chars") for n in sorted(DUP_NGRAM_PCT)],
    ]:
        piv_lines.append(
            f"coalesce(max(CASE WHEN n = {n} THEN {field} END), 0) AS {col}"
        )
    piv = ",\n         ".join(piv_lines)
    piv_cols = [c for c in _STAT_COLS if c not in ("n_words", "total_wchars")]
    joined_stats = ",\n             ".join(
        f"coalesce(piv.{c}, 0) AS {c}" for c in piv_cols
    )
    flag_exprs = {
        "dup_line": f"(dup_line_cnt * 100 <= {DUP_LINE_PCT} * n_lines)",
        "dup_line_chars": f"(dup_line_chars * 100 <= {DUP_LINE_CHAR_PCT} * total_lchars)",
        "dup_para": f"(dup_para_cnt * 100 <= {DUP_PARA_PCT} * n_paras)",
        "dup_para_chars": f"(dup_para_chars * 100 <= {DUP_PARA_CHAR_PCT} * total_pchars)",
        **{
            f"top_{n}gram": f"(top{n}_prod * 100 <= {p} * total_wchars)"
            for n, p in sorted(TOP_NGRAM_PCT.items())
        },
        **{
            f"dup_{n}gram": f"(dup{n}_chars * 100 <= {p} * total_wchars)"
            for n, p in sorted(DUP_NGRAM_PCT.items())
        },
    }
    n_fail = " + ".join(
        f"(CASE WHEN {flag_exprs[k]} THEN 0 ELSE 1 END)" for k in RULE_NAMES
    )
    passes = " AND ".join(flag_exprs[k] for k in RULE_NAMES)
    stat_select = ",\n       ".join(f"CAST({c} AS BIGINT) AS {c}" for c in _STAT_COLS)
    # the fixture's paragraph = 15 consecutive words (3 lines x 5),
    # line = 5 consecutive words; joining slices with a single space
    # gives the same LENGTH and the same equality classes as the
    # operator's '\n'-joined paragraphs, so grouping on the slice key
    # is exact (single-char separators at fixed positions).
    return f"""
    WITH sized AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS nw,
             coalesce(list_sum(list_transform(
               list_filter(string_split(text, ' '), w -> w <> ''),
               w -> length(w))), 0) AS total_wchars
      FROM documents
    ),
    units AS (
      SELECT doc_id, 0 AS n,
             array_to_string(ws[i*15+1:i*15+15], ' ') AS gram
      FROM sized, unnest(range(0, CAST(ceil(nw/15.0) AS BIGINT))) AS t(i)
      UNION ALL
      SELECT doc_id, 1, array_to_string(ws[i*5+1:i*5+5], ' ')
      FROM sized, unnest(range(0, CAST(ceil(nw/5.0) AS BIGINT))) AS t(i)
      UNION ALL
      SELECT doc_id, n, array_to_string(ws[i+1:i+n], ' ')
      FROM sized, unnest([{ns}]) AS tn(n),
           unnest(range(0, greatest(nw - n + 1, 0))) AS ti(i)
    ),
    counts AS (
      SELECT doc_id, n, gram, count(*) AS c,
             CASE WHEN n >= 2 THEN length(gram) - (n - 1)
                  ELSE length(gram) END AS chars
      FROM units GROUP BY ALL
    ),
    ranked AS (
      SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS mc FROM counts
    ),
    pern AS (
      SELECT doc_id, n,
             CAST(sum(c) AS BIGINT) AS n_units,
             CAST(sum(c * chars) AS BIGINT) AS total_chars,
             CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
               AS dup_units,
             CAST(coalesce(sum(c * chars) FILTER (WHERE c >= 2), 0)
               AS BIGINT) AS dup_chars,
             CAST(coalesce(max(c * chars) FILTER (WHERE c = mc), 0)
               AS BIGINT) AS top_prod
      FROM ranked GROUP BY doc_id, n
    ),
    piv AS (
      SELECT doc_id,
         {piv}
      FROM pern GROUP BY doc_id
    ),
    joined AS (
      -- a zero-word doc yields NO units rows, hence no piv row:
      -- coalesce every piv stat to 0 after the LEFT JOIN (the
      -- coalesces inside piv never fire for a missing row) so the
      -- flag arithmetic below sees 0s — exactly what the operator
      -- emits — instead of NULLs that would NULL out passes
      SELECT s.doc_id, CAST(s.nw AS BIGINT) AS n_words,
             CAST(s.total_wchars AS BIGINT) AS total_wchars,
             {joined_stats}
      FROM sized s LEFT JOIN piv USING (doc_id)
    )
    SELECT doc_id,
       {stat_select},
       CAST({n_fail} AS BIGINT) AS n_fail,
       ({passes}) AS passes
    FROM joined
    """


@query("q_gopher_repetition", oracle=_oracle())
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher-repetition stat block + gate verdict over
    the lined fixture: every duplicate-unit count / character mass /
    top-n-gram product as exact integers, the 13 rule flags folded
    to n_fail + passes. The operator path is split-sort-fold
    (map-only, zero exchanges); the oracle path is slice-explode-
    GROUP BY — two independent computations of the same stated
    definitions.
    """
    # The fold is map-only, so wall scales with input SPLITS — and
    # the local testdata is one parquet file, which would serialize
    # a 100%-parallelizable pass onto one core. One round-robin
    # spread of the raw text (data-independent, skew-free) restores
    # the parallelism a many-file production layout gives for free;
    # it is the plan's ONLY exchange (asserted in
    # tests/test_repetition.py). Measured at sf0.1: 36.8 s -> 2.0 s.
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    fixture = synth_lined_docs(docs)
    gated = repetition_gate(repetition_stats(fixture))
    return gated.select(
        "doc_id",
        *_STAT_COLS,
        "n_fail",
        "passes",
    )
