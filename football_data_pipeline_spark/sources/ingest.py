"""Bronze ingest: explicit schemas + readers for collection documents.

The reference's ingest unit is one nested JSON document per collection
run: ``{fixture_id, collection_type, game_info{...}, collected_at,
data{...}}`` (observed in /root/reference/data/early_odds_*.json,
final_data_*.json, team_news_*.json; template at
/root/reference/demo_enhanced_pipeline.py:79-114; shape documented in
FIXTURES.md §B).

Schema-on-read in the reference is defensive ``.get(..., default)``
dict navigation (/root/reference/database_integration.py:238-253).
Here: one explicit, fully-nullable ``StructType`` — inference is
never used, so a malformed field becomes NULL instead of silently
changing the schema, and the scan can prune to exactly the branches a
flattener needs (column pruning works through nested structs).

The odds payload appears under a phase-suffixed key
``data.odds_<phase>`` (built at
/root/reference/enhanced_mapping.py:891); the known phase keys are
enumerated so a fixed schema can cover the dynamic-key pattern
(P10, SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: data.odds_<phase> keys (reference job types, yml:217-227)
ODDS_PHASES = ("early", "pre_match", "team_news", "final_data")

OUTCOME = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("point", T.DoubleType()),
    ]
)

MARKET = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("last_update", T.StringType()),
        T.StructField("outcomes", T.ArrayType(OUTCOME)),
    ]
)

BOOKMAKER = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("last_update", T.StringType()),
        T.StructField("markets", T.ArrayType(MARKET)),
    ]
)

ODDS_PAYLOAD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("sport_key", T.StringType()),
        T.StructField("sport_title", T.StringType()),
        T.StructField("commence_time", T.StringType()),
        T.StructField("home_team", T.StringType()),
        T.StructField("away_team", T.StringType()),
        T.StructField("bookmakers", T.ArrayType(BOOKMAKER)),
    ]
)

GAME_INFO = T.StructType(
    [
        T.StructField("fixture_id", T.LongType()),
        T.StructField("kickoff_utc", T.StringType()),
        T.StructField("home_team", T.StringType()),
        T.StructField("away_team", T.StringType()),
        T.StructField("home_team_id", T.LongType()),
        T.StructField("away_team_id", T.LongType()),
        T.StructField("league", T.StringType()),
        T.StructField("league_id", T.LongType()),
        T.StructField("country", T.StringType()),
        T.StructField("venue", T.StringType()),
        T.StructField("priority", T.StringType()),
        T.StructField("timezone", T.StringType()),
    ]
)

_TOTALS = T.StructType(
    [
        T.StructField("home", T.IntegerType()),
        T.StructField("away", T.IntegerType()),
        T.StructField("total", T.IntegerType()),
    ]
)

STATS_RESPONSE = T.StructType(
    [
        T.StructField(
            "fixtures",
            T.StructType(
                [
                    T.StructField("played", _TOTALS),
                    T.StructField("wins", _TOTALS),
                    T.StructField("draws", _TOTALS),
                    T.StructField("loses", _TOTALS),
                ]
            ),
        ),
        T.StructField(
            "goals",
            T.StructType(
                [
                    T.StructField("for", T.StructType([T.StructField("total", _TOTALS)])),
                    T.StructField("against", T.StructType([T.StructField("total", _TOTALS)])),
                ]
            ),
        ),
    ]
)

_PAGING = T.StructType(
    [T.StructField("current", T.IntegerType()), T.StructField("total", T.IntegerType())]
)

STATS_ENVELOPE = T.StructType(
    [
        T.StructField("get", T.StringType()),
        T.StructField("results", T.IntegerType()),
        T.StructField("paging", _PAGING),
        T.StructField("response", STATS_RESPONSE),
    ]
)

_TEAM_REF = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)

H2H_ITEM = T.StructType(
    [
        T.StructField(
            "fixture",
            T.StructType([T.StructField("id", T.LongType()), T.StructField("date", T.StringType())]),
        ),
        T.StructField(
            "teams",
            T.StructType([T.StructField("home", _TEAM_REF), T.StructField("away", _TEAM_REF)]),
        ),
        T.StructField(
            "goals",
            T.StructType([T.StructField("home", T.IntegerType()), T.StructField("away", T.IntegerType())]),
        ),
        T.StructField("league", T.StructType([T.StructField("id", T.LongType())])),
    ]
)

H2H_ENVELOPE = T.StructType(
    [
        T.StructField("get", T.StringType()),
        T.StructField("results", T.IntegerType()),
        T.StructField("paging", _PAGING),
        T.StructField("response", T.ArrayType(H2H_ITEM)),
    ]
)

LINEUP_PLAYER = T.StructType(
    [
        T.StructField(
            "player",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("number", T.IntegerType()),
                    T.StructField("pos", T.StringType()),
                    T.StructField("grid", T.StringType()),
                    T.StructField("captain", T.BooleanType()),
                ]
            ),
        )
    ]
)

LINEUP_ITEM = T.StructType(
    [
        T.StructField("team", _TEAM_REF),
        T.StructField("formation", T.StringType()),
        T.StructField("coach", _TEAM_REF),
        T.StructField("startXI", T.ArrayType(LINEUP_PLAYER)),
        T.StructField("substitutes", T.ArrayType(LINEUP_PLAYER)),
    ]
)

LINEUPS_ENVELOPE = T.StructType(
    [
        T.StructField("get", T.StringType()),
        T.StructField("results", T.IntegerType()),
        T.StructField("paging", _PAGING),
        T.StructField("response", T.ArrayType(LINEUP_ITEM)),
    ]
)

DATA = T.StructType(
    [T.StructField(f"odds_{phase}", ODDS_PAYLOAD) for phase in ODDS_PHASES]
    + [
        T.StructField("fixture_details", T.StringType()),  # opaque; parsed on demand
        T.StructField("lineups", LINEUPS_ENVELOPE),
        T.StructField("home_team_stats", STATS_ENVELOPE),
        T.StructField("away_team_stats", STATS_ENVELOPE),
        T.StructField("head_to_head", H2H_ENVELOPE),
    ]
)

COLLECTION_SCHEMA = T.StructType(
    [
        T.StructField("fixture_id", T.LongType()),
        T.StructField("collection_type", T.StringType()),
        T.StructField("collected_at", T.StringType()),
        T.StructField("game_info", GAME_INFO),
        T.StructField("data", DATA),
    ]
)


def with_collected_ts(df: DataFrame) -> DataFrame:
    """Normalize ``collected_at`` to a real TimestampType (the
    reference stores ISO strings and fixes ``Z`` → ``+00:00`` by
    hand, /root/reference/database_integration.py:157). Shared by the
    batch and streaming bronze readers so the two paths cannot
    drift."""
    return df.withColumn(
        "collected_at_ts",
        F.to_timestamp(F.regexp_replace(F.col("collected_at"), "Z$", "+00:00")),
    )


def read_collections(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: bronze scan of collection documents (one JSON per file,
    or JSON-lines), with the declared schema — no inference.
    bronze→silver is where string timestamps die.
    """
    df = spark.read.schema(COLLECTION_SCHEMA).option("multiLine", "true").json(path)
    return with_collected_ts(df)


# --- documents-corpus JSONL source -------------------------------------
#
# Raw training corpora arrive as JSON-lines dumps (one document per
# line, millions of files). At 100 TB some lines WILL be truncated or
# malformed; failing the job on one bad line is not an option, and
# silently dropping them is worse. PERMISSIVE mode with an explicit
# corrupt-record column keeps the scan schema-pinned (no inference
# pass over 100 TB) while quarantining unparseable lines with their
# raw bytes for replay.

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-pinned JSONL scan of a documents dump: text scan +
    ``from_json`` per line, NOT ``spark.read.json``. Two reasons this
    is the right 100 TB shape: (a) the quarantine branch keeps the
    ORIGINAL line bytes verbatim (the json reader's corrupt column is
    a reconstruction, and Spark refuses plans that reference only the
    corrupt column — UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN — forcing a cache); (b) one text scan serves both the good
    and bad branches with ordinary column pruning. Malformed lines
    get ``_corrupt_record`` set; well-formed lines leave it NULL."""
    parsed = F.from_json(
        F.col("value"),
        DOCUMENTS_JSONL_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    return spark.read.text(path).select(
        F.col("value").alias("raw_line"), parsed.alias("doc")
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): parsed rows with the corrupt marker
    dropped, and the verbatim text of every unparseable line for
    replay/audit.

    Quarantine condition is ``doc IS NULL OR corrupt marker set``:
    from_json returns a NULL STRUCT — not a populated corrupt column
    — for blank/whitespace-only lines (routine in real JSONL dumps
    as separators or trailing newlines), and the earlier
    marker-only check let those through as all-NULL document rows,
    breaking the "malformed lines quarantined, nothing silent"
    contract downstream."""
    bad_mark = F.col("doc")[CORRUPT_COL]
    is_bad = F.col("doc").isNull() | bad_mark.isNotNull()
    good = df.filter(~is_bad).select("doc.*").drop(CORRUPT_COL)
    bad = df.filter(is_bad).select("raw_line")
    return good, bad
