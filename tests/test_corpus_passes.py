"""Crafted-corpus tests for the round-4 corpus passes: C4-style
line dedup, PII redaction, and target-mixture rebalancing — the
behaviors the sf-level oracle run can't isolate (chunking edges,
actual replacement spans, waterfilling's binding stratum)."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_data_pipeline_spark.operators.dedup import (
    BOILER_DF,
    LINE_WORDS,
    doc_lines,
    line_dedup,
)
from football_data_pipeline_spark.operators.mixing import (
    TARGET_PM,
    mixture_rates,
    target_mixture_sample,
)
from football_data_pipeline_spark.operators.redact import redact_pii
from football_data_pipeline_spark.operators.sampling import RESOLUTION

DOC_SCHEMA = "doc_id long, lang string, source string, text string"
DOC_SCHEMA_NOLANG = "doc_id long, source string, text string"


def test_doc_lines_chunking_edges(spark):
    rows = [
        (1, "en", "w", "a b c d e f g"),  # 7 words → 3 lines, last short
        (2, "en", "w", "a b c"),  # exactly one line
        (3, "en", "w", "  a   b  "),  # repeated spaces collapse
    ]
    out = doc_lines(spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.idx, r.line))
    assert sorted(by_doc[1]) == [(0, "a b c"), (1, "d e f"), (2, "g")]
    assert by_doc[2] == [(0, "a b c")]
    assert by_doc[3] == [(0, "a b")]


def test_line_dedup_removes_boilerplate_preserving_order(spark):
    assert LINE_WORDS == 3
    boiler = "subscribe to our newsletter"  # 4 words → lines 'subscribe to our' + 'newsletter'
    rows = [
        (i, "en", "w", f"{boiler} unique{i} payload{i} tail{i}")
        for i in range(BOILER_DF)
    ] + [(99, "en", "w", "entirely fresh words nobody repeats here")]
    out = {r.doc_id: r for r in line_dedup(spark.createDataFrame(rows, DOC_SCHEMA)).collect()}
    # 'subscribe to our' hits BOILER_DF docs → removed everywhere;
    # the second chunk starts with 'newsletter' but continues into
    # each doc's unique words, so it differs per doc and survives
    r0 = out[0]
    assert r0.n_boiler == 1
    assert r0.clean_text == "newsletter unique0 payload0 tail0"
    assert out[99].n_boiler == 0
    assert out[99].clean_text == "entirely fresh words nobody repeats here"
    # every document appears in the report exactly once
    assert len(out) == BOILER_DF + 1


def test_redact_replaces_both_kinds(spark):
    rows = [
        (1, "en", "w", "mail me at a.person@example.org or call 555-123-4567 now"),
        (2, "en", "w", "no pii at all"),
    ]
    out = {r.doc_id: r for r in redact_pii(spark.createDataFrame(rows, DOC_SCHEMA)).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert out[1].redacted_text == "mail me at <EMAIL> or call <PHONE> now"
    assert out[2].n_emails == 0 and out[2].n_phones == 0
    assert out[2].redacted_text == "no pii at all"


def test_mixture_waterfilling_binding_stratum(spark):
    # en is 10x over-represented vs its target; zh is the binding
    # stratum (least data relative to target) and must keep 100%
    rows = [(i, "en" if i < 200 else "zh", "w", "x") for i in range(220)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    rates = {r.lang: r for r in mixture_rates(docs).collect()}
    assert rates["zh"].rate_bp == RESOLUTION  # binding → kept whole
    assert rates["en"].rate_bp < RESOLUTION
    # achieved mixture ≈ target ratio en:zh = 350:250 → n_en ≈ 28
    t_total = min(
        (r.n_docs * 1000) // TARGET_PM[lang] for lang, r in rates.items()
    )
    expect_en = TARGET_PM["en"] * t_total // 1000
    sampled = target_mixture_sample(docs, rates=None)
    n = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert n["zh"] == 20
    # hash sampling is binomial around the rate; allow wide slack
    assert abs(n.get("en", 0) - expect_en) <= 15


def test_mixture_rates_properties(spark):
    """Spec invariants of the waterfilled rates, over several corpus
    shapes in ONE DataFrame pass each: no rate exceeds RESOLUTION,
    rates reproduce the integer formula from the returned counts, and
    T is maximal (T+1 would need some rate above RESOLUTION)."""
    shapes = [
        {"en": 1, "zh": 1},                   # tiny, floor-heavy
        {"en": 200, "zh": 20},                # the unit test's shape
        {"en": 218, "zh": 75, "es": 73, "fr": 64, "de": 70},  # sf0.01
        {"en": 7, "zh": 13, "es": 997},       # primes
    ]
    for counts in shapes:
        rows, i = [], 0
        for lang, n in counts.items():
            for _ in range(n):
                rows.append((i, lang, "w", "x"))
                i += 1
        docs = spark.createDataFrame(rows, DOC_SCHEMA)
        got = {r.lang: r for r in mixture_rates(docs).collect()}
        t = min((r.n_docs * 1000) // r.target_pm for r in got.values())
        for r in got.values():
            assert r.rate_bp <= RESOLUTION
            expect = min(
                RESOLUTION, (r.target_pm * t * RESOLUTION) // (1000 * r.n_docs)
            )
            assert r.rate_bp == expect, (r.lang, r.rate_bp, expect)
        # maximality: at T+1 some stratum would need rate > 1
        assert any(
            r.target_pm * (t + 1) > 1000 * r.n_docs for r in got.values()
        )


def test_round4_ops_plan_shapes(spark):
    """Scale-guard plan asserts for the round-4 corpus passes:
    line_dedup broadcasts the boilerplate set back onto the exploded
    stream (never a sort-merge join of it); pii_redact is a single
    scan-stage projection (no exchange at all); target_mixture's
    per-stratum rates reach the corpus via broadcast."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from .conftest import SF_DIR

    ld = QUERIES["q_line_dedup"].fn(spark, SF_DIR)
    plan = ld._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    rd = QUERIES["q_pii_redact"].fn(spark, SF_DIR)
    plan2 = rd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2 and "Join" not in plan2

    tm = QUERIES["q_target_mixture"].fn(spark, SF_DIR)
    plan3 = tm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan3 or "BroadcastNestedLoopJoin" in plan3
    assert "SortMergeJoin" not in plan3


def test_lsh_recall_found_is_subset_of_truth(spark):
    """q_lsh_recall invariant: found pairs verify at the same
    threshold as truth pairs, so n_found <= n_truth and recall <= 1
    — on the real table at the test SF."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from .conftest import SF_DIR

    row = QUERIES["q_lsh_recall"].fn(spark, SF_DIR).collect()[0]
    assert row.n_reps <= row.n_sample_docs
    assert row.n_found <= row.n_truth
    assert 0.0 <= row.recall <= 1.0


# --- DSIR importance weights (selection.py) ---


def test_dsir_separates_target_like_from_pool_like(spark):
    from football_data_pipeline_spark.operators.selection import dsir_weights

    # target stratum (src0) speaks football; the pool has two
    # football-vocabulary docs (target-like) and three cooking docs
    # (the pool majority). DSIR must score the football pool docs
    # positive (selected) and strictly above the cooking docs.
    rows = [
        (i, "en", "src0", "goal match pitch striker keeper") for i in range(5)
    ] + [
        (10, "en", "web", "goal match pitch striker keeper"),
        (11, "en", "web", "match goal keeper pitch striker"),
        (12, "en", "web", "recipe oven butter flour sugar"),
        (13, "en", "web", "butter sugar flour oven recipe"),
        (14, "en", "web", "oven recipe sugar butter flour"),
    ]
    out = {
        r.doc_id: r
        for r in dsir_weights(spark.createDataFrame(rows, DOC_SCHEMA)).collect()
    }
    # the target stratum itself is never scored
    assert set(out) == {10, 11, 12, 13, 14}
    assert out[10].selected and out[11].selected
    assert not out[12].selected and not out[13].selected and not out[14].selected
    assert out[10].dsir_logratio > 0 > out[12].dsir_logratio
    # word-order permutations of the same bag score identically
    assert out[10].dsir_logratio == out[11].dsir_logratio
    assert out[12].dsir_logratio == out[13].dsir_logratio == out[14].dsir_logratio


# --- semantic decontamination flag path (embedsearch.py) ---


def test_eval_max_similarity_flags_planted_copy(spark):
    from football_data_pipeline_spark.operators.embedsearch import (
        SEMDECON_TAU,
        eval_max_similarity,
    )

    emb_schema = "vec_id long, label int, embedding array<float>"
    train = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0, 0.0]),  # planted copy of the eval vector
            (2, 0, [0.8, 0.6, 0.0, 0.0]),  # cos 0.8 vs eval → flagged
            (3, 1, [0.0, 0.0, 1.0, 0.0]),  # orthogonal → clean
        ],
        emb_schema,
    )
    ev = spark.createDataFrame([(100, 9, [2.0, 0.0, 0.0, 0.0])], emb_schema).select(
        "embedding"
    )
    out = {r.vec_id: r for r in eval_max_similarity(train, ev).collect()}
    # embeddings are float32 columns: 0.8/0.6 carry representation
    # error, so compare at single precision
    assert abs(out[1].max_sim - 1.0) < 1e-6
    assert abs(out[2].max_sim - 0.8) < 1e-6
    assert abs(out[3].max_sim) < 1e-6
    flagged = {v for v, r in out.items() if r.max_sim >= SEMDECON_TAU}
    assert flagged == {1, 2}


# --- gap sessionization (sessions.py) ---


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from football_data_pipeline_spark.operators.sessions import (
        SESSION_GAP_S,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    ev_schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        # user 1: two events 1h apart, then a 4h1s gap → 2 sessions
        (1, t0, 1, "click", 1.0),
        (2, t0 + h, 1, "view", 1.0),
        (3, t0 + 5 * h + dt.timedelta(seconds=1), 1, "click", 1.0),
        # user 2: gap EXACTLY the threshold → strict > keeps ONE session
        (4, t0, 2, "click", 1.0),
        (5, t0 + dt.timedelta(seconds=SESSION_GAP_S), 2, "click", 1.0),
        # user 3: a single event → singleton session, zero duration
        (6, t0, 3, "view", 1.0),
    ]
    out = sessionize(spark.createDataFrame(rows, ev_schema)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    first = min(by_user[1], key=lambda r: r.session_idx)
    assert first.n_events == 2 and first.duration_us == 3600 * 1_000_000
    assert len(by_user[2]) == 1 and by_user[2][0].n_events == 2
    assert by_user[2][0].duration_us == SESSION_GAP_S * 1_000_000
    assert len(by_user[3]) == 1 and by_user[3][0].duration_us == 0


def test_eval_max_similarity_zero_norm_is_null(spark):
    """A cosine against a zero vector is undefined: a zero TRAIN
    vector gets a NULL max_sim (not NaN), a zero EVAL vector
    contributes nothing, and an all-zero eval set leaves every train
    row NULL."""
    from football_data_pipeline_spark.operators.embedsearch import (
        eval_max_similarity,
    )

    emb_schema = "vec_id long, label int, embedding array<float>"
    ztrain = spark.createDataFrame(
        [(1, 0, [0.0, 0.0]), (2, 0, [1.0, 0.0])], emb_schema
    )
    zev = spark.createDataFrame(
        [(9, 9, [0.0, 0.0]), (8, 9, [0.0, 2.0])], emb_schema
    ).select("embedding")
    zf = {r.vec_id: r.max_sim for r in eval_max_similarity(ztrain, zev).collect()}
    assert zf[1] is None
    assert abs(zf[2]) < 1e-9
    all_zero_ev = spark.createDataFrame([(7, 9, [0.0, 0.0])], emb_schema).select(
        "embedding"
    )
    zf2 = {
        r.vec_id: r.max_sim
        for r in eval_max_similarity(ztrain, all_zero_ev).collect()
    }
    assert zf2 == {1: None, 2: None}


def test_event_ops_plan_shapes(spark):
    """Scale-guard plan asserts for the event-analytics family:
    sessionize runs BOTH windows and both aggregations off ONE
    exchange; retention and funnel never produce a cartesian product
    or a global (unpartitioned) window."""
    import football_data_pipeline_spark.all_queries  # noqa: F401
    from football_data_pipeline_spark.registry import QUERIES

    from .conftest import SF_DIR

    sess = QUERIES["q_sessionize"].fn(spark, SF_DIR)
    plan = sess._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan

    for name in ("q_retention_cohorts", "q_funnel", "q_scd2_history"):
        p = QUERIES[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, name
        # a Window with an empty partition spec moves everything to
        # one task; none of these operators may contain one. WindowExec
        # prints `Window [exprs], [partitionCols], [orderSpec]` —
        # a GLOBAL window drops the partition bracket, leaving one
        # `], [` separator instead of two (verified empirically).
        for line in p.split("\n"):
            if "Window [" in line:
                assert line.count("], [") == 2, (name, line.strip()[:200])


def test_scd2_drops_null_instant_rows(spark):
    """A changelog row with no effective instant cannot define an
    interval — it is dropped, and the remaining chain stays intact
    (the NULL would otherwise sort differently in Spark vs DuckDB)."""
    from football_data_pipeline_spark.operators.windows import scd2_history

    rows = [
        (1, "2024-01-01 00:00:00", 10.0, 1),
        (2, "2024-01-02 00:00:00", 11.0, 1),
        (3, None, 12.0, 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, value double, user_id long"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = {r.event_id: r for r in scd2_history(df, ["user_id"], "ts", "event_id", carry=("value",)).collect()}
    assert set(out) == {1, 2}
    assert out[1].is_current is False and str(out[1].valid_to).startswith("2024-01-02")
    assert out[2].is_current is True and out[2].valid_to is None


def test_snapshot_diff_null_text_is_presence_not_absence(spark):
    """A document whose text is NULL is still PRESENT in its
    snapshot: it must classify changed/unchanged, never
    added/removed (presence rides literal flags, content compares
    NULL-safely)."""
    from football_data_pipeline_spark.operators.versioning import snapshot_diff

    cur = spark.createDataFrame(
        [(1, "w", None), (2, "w", None), (3, "w", "hello there")],
        "doc_id long, source string, text string",
    )
    prev = spark.createDataFrame(
        [(1, "w", "hello there"), (2, "w", None), (3, "w", "hello there")],
        "doc_id long, source string, text string",
    )
    row = snapshot_diff(cur, prev).collect()[0]
    assert row.n_added == 0 and row.n_removed == 0
    # doc 1: content went text→NULL = changed; doc 2: NULL→NULL =
    # unchanged under NULL-safe compare; doc 3: identical
    assert row.n_changed == 1 and row.n_unchanged == 2


def test_funnel_strict_ordering(spark):
    """A later step counts only when its first qualifying event is
    STRICTLY after the user's first prior-step event — doing steps
    out of order (purchase before click) or stopping mid-funnel must
    not advance the user."""
    import datetime as dt

    from football_data_pipeline_spark.operators.sessions import funnel_counts

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    ev_schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        # user 1: view → click → purchase in order → completes
        (1, t0, 1, "view", 1.0),
        (2, t0 + m, 1, "click", 1.0),
        (3, t0 + 2 * m, 1, "purchase", 1.0),
        # user 2: purchase BEFORE the click → reaches click only
        (4, t0, 2, "view", 1.0),
        (5, t0 + 2 * m, 2, "click", 1.0),
        (6, t0 + m, 2, "purchase", 1.0),
        # user 3: click with no prior view → reaches nothing
        (7, t0, 3, "click", 1.0),
        (8, t0 + m, 3, "purchase", 1.0),
        # user 4: view only
        (9, t0, 4, "view", 1.0),
        # user 5: click at the SAME instant as the view → strict >
        # excludes it
        (10, t0, 5, "view", 1.0),
        (11, t0, 5, "click", 1.0),
    ]
    row = funnel_counts(spark.createDataFrame(rows, ev_schema)).collect()[0]
    assert row.n_view == 4  # users 1, 2, 4, 5
    assert row.n_click == 2  # users 1, 2
    assert row.n_purchase == 1  # user 1 only
    assert abs(row.rate_click - 0.5) < 1e-9
    assert abs(row.rate_purchase - 0.5) < 1e-9
    assert abs(row.rate_overall - 0.25) < 1e-9


def test_retention_cohort_offsets(spark):
    """Cohort = first active ISO week; week offsets are exact
    integer weeks, a user active twice in one week counts once, and
    retention_rate = active/cohort_size per offset."""
    import datetime as dt

    from football_data_pipeline_spark.operators.sessions import retention_cohorts

    mon = dt.datetime(2024, 1, 1)  # a Monday
    wk = dt.timedelta(days=7)
    ev_schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        # cohort 2024-01-01: users 1 and 2
        (1, mon, 1, "view", 1.0),
        (2, mon + dt.timedelta(days=2), 1, "view", 1.0),  # same week, counts once
        (3, mon + 2 * wk, 1, "view", 1.0),  # returns at offset 2
        (4, mon + dt.timedelta(days=6), 2, "view", 1.0),  # Sunday, still week 0
        # cohort 2024-01-08: user 3
        (5, mon + wk, 3, "view", 1.0),
        (6, mon + 3 * wk, 3, "view", 1.0),  # offset 2
    ]
    out = {
        (r.cohort_week, r.week_offset): r
        for r in retention_cohorts(spark.createDataFrame(rows, ev_schema)).collect()
    }
    r00 = out[("2024-01-01", 0)]
    assert r00.n_active == 2 and r00.cohort_size == 2 and r00.retention_rate == 1.0
    r02 = out[("2024-01-01", 2)]
    assert r02.n_active == 1 and abs(r02.retention_rate - 0.5) < 1e-9
    assert ("2024-01-01", 1) not in out  # nobody returned at offset 1
    assert out[("2024-01-08", 0)].cohort_size == 1
    assert out[("2024-01-08", 2)].n_active == 1
    assert len(out) == 4


def test_anomaly_spike_flagged_and_excluded_from_own_baseline(spark):
    """A flat series with one spike: the spike is flagged against
    the PRECEDING baseline (its own value must not inflate σ), rows
    before ANOMALY_MIN_N have no verdict, and a zero-σ baseline
    never divides."""
    import datetime as dt

    from football_data_pipeline_spark.operators.timeseries import q_anomaly

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    ev_schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # values 10,11,10,11,10,11 then a 100.0 spike — preceding
    # baseline mean≈10.5, σ≈0.5 → z ≈ 179 ≫ 2.5
    rows = [
        (i, t0 + i * h, 1, "purchase", 10.0 + (i % 2)) for i in range(6)
    ] + [(6, t0 + 6 * h, 1, "purchase", 100.0)]
    # constant-value user: σ=0 exactly → no flag, no div-by-zero
    rows += [(10 + i, t0 + i * h, 2, "purchase", 5.0) for i in range(7)]
    df = spark.createDataFrame(rows, ev_schema)

    # drive the REGISTERED query against crafted data: catalog.load
    # reads {sf_dir}/events.parquet, so a temp dir with one parquet
    # directory under that name is a complete synthetic sf_dir
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="anomaly-test-")
    df.write.parquet(os.path.join(d, "events.parquet"))
    out = q_anomaly(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.event_id == 6 and r.user_id == 1
    assert r.n_win == 6 and r.zscore > 100


def test_moving_avg_frame_boundary_inclusive(spark):
    """The trailing frame is [ts − 24 h, ts] by event time: an event
    EXACTLY 24 h earlier is inside the frame, one microsecond older
    is out."""
    import datetime as dt
    import os
    import tempfile

    from football_data_pipeline_spark.operators.timeseries import (
        MOVAVG_WINDOW_S,
        q_moving_avg,
    )

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    ev_schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        (1, t0 - dt.timedelta(seconds=MOVAVG_WINDOW_S, microseconds=1), 1, "purchase", 100.0),
        (2, t0 - dt.timedelta(seconds=MOVAVG_WINDOW_S), 1, "purchase", 30.0),
        (3, t0, 1, "purchase", 10.0),
    ]
    d = tempfile.mkdtemp(prefix="movavg-test-")
    spark.createDataFrame(rows, ev_schema).write.parquet(
        os.path.join(d, "events.parquet")
    )
    out = {r.event_id: r for r in q_moving_avg(spark, d).collect()}
    # event 3's frame holds events 2 and 3 (event 1 is 1 µs too old)
    assert out[3].n_in_window == 2
    assert abs(out[3].moving_avg - 20.0) < 1e-9
    # events 1 and 2 are only 1 µs apart, so event 2's own frame
    # holds both of them; event 1 (the oldest) only holds itself
    assert out[1].n_in_window == 1 and out[2].n_in_window == 2
    assert abs(out[2].moving_avg - 65.0) < 1e-9


def test_scd2_intervals_equal_asof_join(spark):
    """The equivalence scd2_history's docstring claims: joining each
    probe instant to the SCD2 interval that CONTAINS it
    (valid_from <= t < valid_to, open-ended for the current row)
    selects exactly the row the as-of join picks — proven on the
    real event streams at the test SF."""
    from football_data_pipeline_spark.catalog import load
    from football_data_pipeline_spark.operators.timeseries import asof_join
    from football_data_pipeline_spark.operators.windows import scd2_history

    from .conftest import SF_DIR

    events = load(spark, SF_DIR, "events")
    right = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
        # asof contract: unique per (key, ts)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    left = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )

    via_asof = {
        (r.event_id): (r.asof_ts, r.asof_value)
        for r in asof_join(left, right, on="user_id").collect()
    }

    iv = scd2_history(
        right.withColumn("event_id", F.monotonically_increasing_id()),
        ["user_id"],
        "ts",
        "event_id",
        carry=("value",),
    )
    joined = left.alias("l").join(
        iv.alias("i"),
        (F.col("l.user_id") == F.col("i.user_id"))
        & (F.col("i.valid_from") <= F.col("l.ts"))
        & (F.col("i.valid_to").isNull() | (F.col("l.ts") < F.col("i.valid_to"))),
        "left",
    )
    via_scd2 = {
        r.event_id: (r.valid_from, r.value)
        for r in joined.select(
            "l.event_id", "i.valid_from", "i.value"
        ).collect()
    }
    assert set(via_asof) == set(via_scd2)
    mismatches = [
        k for k in via_asof
        if (via_asof[k][0], via_asof[k][1]) != (via_scd2[k][0], via_scd2[k][1])
    ]
    assert not mismatches, mismatches[:5]
    # the equivalence is non-vacuous: most clicks have a match
    n_matched = sum(1 for v in via_asof.values() if v[0] is not None)
    assert n_matched > len(via_asof) // 2


def test_snapshot_diff_identity_properties(spark):
    """Algebraic anchors for the diff: diff(X, X) is all-unchanged,
    diff(X, empty) is all-added, diff(empty, X) is all-removed —
    and counts always partition the union of doc ids."""
    from football_data_pipeline_spark.operators.versioning import snapshot_diff

    docs = spark.createDataFrame(
        [(i, "w", f"text number {i} body") for i in range(8)], DOC_SCHEMA_NOLANG
    )
    empty = docs.filter(F.lit(False))

    same = snapshot_diff(docs, docs).collect()[0]
    assert (same.n_added, same.n_removed, same.n_changed, same.n_unchanged) == (
        0, 0, 0, 8,
    )
    added = snapshot_diff(docs, empty).collect()[0]
    assert (added.n_added, added.n_removed, added.n_changed, added.n_unchanged) == (
        8, 0, 0, 0,
    )
    removed = snapshot_diff(empty, docs).collect()[0]
    assert (
        removed.n_added, removed.n_removed, removed.n_changed, removed.n_unchanged
    ) == (0, 8, 0, 0)


# --- round-5 additions: EWMA, epoch mixture, temperature sampling --


def test_ewma_matches_pandas_and_truncates(spark):
    """Short series: exact pandas ewm(alpha=0.25, adjust=False)
    parity. Long series: the 64-row frame truncation stays below the
    6-dp output resolution vs the full recursion."""
    import datetime as dt
    import os
    import tempfile

    import pandas as pd

    from football_data_pipeline_spark.operators.timeseries import (
        EWMA_ALPHA,
        EWMA_WINDOW,
        q_ewma,
    )

    t0 = dt.datetime(2024, 6, 1)
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    short = [10.0, 20.0, 5.0, 40.0, 2.5]
    long = [float((i * 37) % 100) for i in range(EWMA_WINDOW + 40)]
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, "view", v)
        for i, v in enumerate(short)
    ] + [
        (1000 + i, t0 + dt.timedelta(minutes=i), 2, "view", v)
        for i, v in enumerate(long)
    ]
    d = tempfile.mkdtemp(prefix="ewma-test-")
    spark.createDataFrame(rows, ev_schema).write.parquet(
        os.path.join(d, "events.parquet")
    )
    out = {r.event_id: r.ewma for r in q_ewma(spark, d).collect()}
    want_short = pd.Series(short).ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    for i, w in enumerate(want_short):
        assert abs(out[i + 1] - w) < 1e-6, (i, out[i + 1], w)
    want_long = pd.Series(long).ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    tail = len(long) - 1
    # truncated-frame deviation bound is (1-a)^63 * |y-x| at the
    # frame edge (~1.3e-6 for this 0..99 series) — assert an order
    # of magnitude of headroom, not false 6-dp equality
    assert abs(out[1000 + tail] - want_long.iloc[tail]) < 1e-5


def test_epoch_mixture_plan_and_emit(spark):
    """Scarce stratum is repeated up to MAX_EPOCHS whole copies;
    abundant stratum only contributes a sampled remainder; the
    emitted stream carries 1-based epoch tags and drops nothing it
    shouldn't."""
    from football_data_pipeline_spark.operators.mixing import (
        MAX_EPOCHS,
        epoch_mixture_emit,
        epoch_mixture_plan,
    )

    # en 200 docs (target 350 pm), zh 20 docs (target 250 pm):
    # T = min(200*4000/350, 20*4000/250) = min(2285, 320) = 320
    # need_en = 112 -> 0 full epochs + 112/200 sampled remainder
    # need_zh = 80  -> exactly 4 whole epochs, no remainder
    rows = [(i, "en" if i < 200 else "zh", "w", "x") for i in range(220)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    plan = {r.lang: r for r in epoch_mixture_plan(docs).collect()}
    assert plan["zh"].need_docs == 80
    assert plan["zh"].full_epochs == MAX_EPOCHS and plan["zh"].rem_rate_bp == 0
    assert plan["en"].need_docs == 112
    assert plan["en"].full_epochs == 0
    assert plan["en"].rem_rate_bp == 112 * RESOLUTION // 200
    emitted = epoch_mixture_emit(docs).collect()
    by_doc: dict[int, list[int]] = {}
    for r in emitted:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    # every zh doc appears exactly MAX_EPOCHS times, epochs 1..4
    for i in range(200, 220):
        assert sorted(by_doc[i]) == list(range(1, MAX_EPOCHS + 1))
    # en docs appear 0 or 1 times; the total is binomial around 112
    n_en = sum(len(v) for d, v in by_doc.items() if d < 200)
    assert all(len(v) <= 1 for d, v in by_doc.items() if d < 200)
    assert abs(n_en - 112) <= 20


def test_temperature_rates_damping(spark):
    """The smallest stratum keeps everything; larger strata are
    damped by exactly floor(R*sqrt(n_min/n)); sampled shares are
    flatter than raw shares (that is the point of temperature)."""
    import math

    from football_data_pipeline_spark.operators.mixing import (
        temperature_rates,
        temperature_sample,
    )

    rows = [(i, "en" if i < 400 else ("de" if i < 500 else "fr"), "w", "x")
            for i in range(525)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    rates = {r.lang: r for r in temperature_rates(docs).collect()}
    assert rates["fr"].rate_bp == RESOLUTION  # n_min stratum kept whole
    for lang, n in (("en", 400), ("de", 100)):
        assert rates[lang].rate_bp == math.floor(
            RESOLUTION * math.sqrt(25 / n)
        )
    n = {
        r.lang: r.n
        for r in temperature_sample(docs)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # raw en:fr is 16:1; sqrt-damped target is 4:1 — allow binomial
    # slack but require the flattening to be unmistakable
    assert n["fr"] == 25
    assert 2.0 <= n["en"] / n["fr"] <= 7.0
