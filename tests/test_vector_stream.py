"""Streaming embedding ingest: cross-batch and within-batch vector
near-dup screening, surviving-only signature indexing (a snapshot
log), crash-replay idempotence, and the rejected-row audit."""

from __future__ import annotations

from football_data_pipeline_spark.sources.snapshots import (
    read_snapshot,
    snapshot_versions,
)
from football_data_pipeline_spark.streaming.vectors import (
    VECTOR_DUP_TAU,
    vector_ingest_snapshot_writer,
)

import pytest as _pytest_r14

# r14 slow tier: multi-minute e2e file — excluded from the default
# (driver-window) run by pytest.ini; the full suite (-m "") runs it.
pytestmark = _pytest_r14.mark.slow

SCHEMA = "vec_id long, embedding array<float>"
DIMS = 64


def _block(start: int, scale: float = 1.0) -> list[float]:
    """Unit block vector: `scale` in dims [start, start+8), zero
    elsewhere — mutually orthogonal across distinct blocks (cosine
    0), exactly cosine 1.0 across scalings of one block (every
    hyperplane sign bit identical, so LSH banding is deterministic
    in the test, no jiggle-flips-a-bit flakiness)."""
    v = [0.0] * DIMS
    for i in range(start, start + 8):
        v[i] = scale
    return v


def _accepted(spark, root, batch_id):
    return {
        r.vec_id
        for r in spark.read.parquet(
            f"{root}/accepted/batch_id={batch_id}"
        ).collect()
    }


def _rejected(spark, root, batch_id):
    return {
        r.vec_id: r
        for r in spark.read.parquet(
            f"{root}/rejected/batch_id={batch_id}"
        ).collect()
    }


def test_rejected_vectors_never_index(spark, tmp_path):
    """A rejected near-copy must not evict future arrivals: the
    owner recorded for a later copy is the ACCEPTED original, and a
    vector whose only match was itself rejected is judged against
    the accepted corpus only."""
    root = str(tmp_path / "vecs")
    write = vector_ingest_snapshot_writer(root)
    write(spark.createDataFrame([(1, _block(0))], SCHEMA), 0)
    write(spark.createDataFrame([(3, _block(0, 2.0))], SCHEMA), 1)
    write(spark.createDataFrame([(7, _block(0, 3.0))], SCHEMA), 2)
    rej = _rejected(spark, root, 2)
    assert set(rej) == {7}
    # owner is the accepted vec 1 — vec 3 was rejected, never indexed
    assert rej[7].dup_of == 1 and rej[7].scope == "history"


def test_replay_idempotent_and_duplicate_ids_collapse(spark, tmp_path):
    """A replayed batch never sees its own sig commit as history and
    the log's replay guard skips the re-commit; same-id
    re-collections collapse to one row."""
    root = str(tmp_path / "vecs")
    write = vector_ingest_snapshot_writer(root)
    write(spark.createDataFrame([(1, _block(0))], SCHEMA), 0)
    b1 = spark.createDataFrame(
        [(2, _block(8)), (2, _block(8)), (3, _block(0, 0.5))], SCHEMA
    )
    write(b1, 1)
    first_acc = _accepted(spark, root, 1)
    first_rej = {k: (v.dup_of, v.scope) for k, v in _rejected(spark, root, 1).items()}
    assert first_acc == {2}  # duplicate id collapsed, one row
    assert (
        len(spark.read.parquet(f"{root}/accepted/batch_id=1").collect()) == 1
    )
    assert first_rej == {3: (1, "history")}
    n_versions = len(snapshot_versions(spark, f"{root}/sig_log"))
    write(b1, 1)  # crash-replay of the same batch
    assert _accepted(spark, root, 1) == first_acc
    assert {
        k: (v.dup_of, v.scope) for k, v in _rejected(spark, root, 1).items()
    } == first_rej
    assert len(snapshot_versions(spark, f"{root}/sig_log")) == n_versions


def test_snapshot_vector_writer_decisions(spark, tmp_path):
    """The screening decisions over a fixed 3-batch workout (two fresh
    accepts; an exact scaling of an accepted vector, cosine 1.0 →
    history reject, plus a fresh orthogonal block; two copies of one
    new block — the smaller id owns)
    — the rows below are what the writer decided when it still had a
    partition-backed twin, and both agreed — and the sig log holds
    exactly the accepted vectors' band signatures."""
    root = str(tmp_path / "snapshot")
    w = vector_ingest_snapshot_writer(root)
    w(spark.createDataFrame([(1, _block(0)), (2, _block(8))], SCHEMA), 0)
    w(spark.createDataFrame([(3, _block(0, 2.0)), (4, _block(16))], SCHEMA), 1)
    w(spark.createDataFrame([(5, _block(24)), (6, _block(24, 0.5))], SCHEMA), 2)
    assert [_accepted(spark, root, b) for b in range(3)] == [{1, 2}, {4}, {5}]
    rej = [
        {
            k: (v.dup_of, v.scope, round(v.cosine_sim, 6))
            for k, v in _rejected(spark, root, b).items()
        }
        for b in range(3)
    ]
    assert rej == [{}, {3: (1, "history", 1.0)}, {6: (5, "batch", 1.0)}]
    sigs = {
        (r.vec_id, sig)
        for r in read_snapshot(spark, f"{root}/sig_log").collect()
        for sig in r.bands
    }
    assert sigs == {
        (1, "0|11001010"), (1, "1|10010010"), (1, "2|11111111"), (1, "3|10111001"),
        (2, "0|00110101"), (2, "1|01110011"), (2, "2|01000011"), (2, "3|01011111"),
        (4, "0|00000011"), (4, "1|00110010"), (4, "2|01001100"), (4, "3|10111100"),
        (5, "0|11001100"), (5, "1|11000110"), (5, "2|11001001"), (5, "3|10010110"),
    }


def test_within_batch_chain_owner_is_canonical(spark, tmp_path):
    """Cosine is not transitive: with A~B and B~C but A!~C, the
    cluster canonical (min id) owns every non-canonical, and no
    audit row ever names an owner that dangles outside
    accepted ∪ same-batch-rejected."""
    import math

    root = str(tmp_path / "vecs")
    write = vector_ingest_snapshot_writer(root)
    # three vectors on a plane at 0°, 15°, 30° within dims (0, 8):
    # cos(15°)=0.966 >= tau for adjacent pairs, cos(30°)=0.866 < tau.
    # 15° is chosen against the ACTUAL md5 hyperplanes: both adjacent
    # pairs share >= 2 LSH bands (checked offline), so candidacy is
    # deterministic, not banding luck
    def planar(theta):
        v = [0.0] * DIMS
        v[0] = math.cos(theta)
        v[8] = math.sin(theta)
        return v

    step = math.radians(15)
    b0 = spark.createDataFrame(
        [(5, planar(0.0)), (6, planar(step)), (7, planar(2 * step))],
        SCHEMA,
    )
    write(b0, 0)
    assert _accepted(spark, root, 0) == {5}
    rej = _rejected(spark, root, 0)
    assert set(rej) == {6, 7}
    # both owners point at the ACCEPTED canonical 5, even though 7's
    # only direct >= tau match is the rejected 6
    assert rej[6].dup_of == 5 and rej[7].dup_of == 5
    assert rej[6].scope == "batch" and rej[7].scope == "batch"
    # audit cosine is the strongest DIRECT match (6~7 at ~0.94, not
    # the sub-tau 5~7 similarity)
    assert rej[7].cosine_sim >= VECTOR_DUP_TAU


def test_zero_norm_vector_rejected_not_crashing(spark, tmp_path):
    """A zero-norm embedding has no cosine: it must land in the
    audit as 'degenerate' instead of DIVIDE_BY_ZERO-poisoning the
    batch under ANSI mode."""
    root = str(tmp_path / "vecs")
    write = vector_ingest_snapshot_writer(root)
    b0 = spark.createDataFrame(
        [(1, _block(0)), (2, [0.0] * DIMS)], SCHEMA
    )
    write(b0, 0)
    assert _accepted(spark, root, 0) == {1}
    rej = _rejected(spark, root, 0)
    assert set(rej) == {2}
    assert rej[2].scope == "degenerate"
    assert rej[2].dup_of is None and rej[2].cosine_sim is None


def test_geometry_mismatch_raises(spark, tmp_path):
    """A writer over a corpus whose index was built under a different
    band geometry must fail loudly — new signatures would silently
    match nothing against history."""
    import pytest

    root = str(tmp_path / "vecs")
    spark.createDataFrame([(4, 16)], "n_bands int, bits_per_band int").write.parquet(
        f"{root}/geometry"
    )
    write = vector_ingest_snapshot_writer(root)
    with pytest.raises(ValueError, match="geometry|bands"):
        write(spark.createDataFrame([(2, _block(8))], SCHEMA), 0)


def test_old_index_layout_raises(spark, tmp_path):
    """An index written one row per (vector, band) under the same
    band constants — a geometry record without a layout — must fail
    the geometry check with the rebuild error, not later inside the
    history probe."""
    import pytest

    from football_data_pipeline_spark.operators.embedsearch import (
        BITS_PER_BAND,
        N_BANDS,
    )

    root = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(N_BANDS, BITS_PER_BAND)], "n_bands int, bits_per_band int"
    ).write.parquet(f"{root}/geometry")
    write = vector_ingest_snapshot_writer(root)
    with pytest.raises(ValueError, match="rebuild the index"):
        write(spark.createDataFrame([(2, _block(8))], SCHEMA), 0)


def test_band_signatures_match_batch_dedup_pass(spark):
    """q_dedup_embed's pair report equals a hand-written band
    self-join over the band builder the streaming screen also uses
    (embedsearch.band_signatures): the functions/lsh.band_pairs plan
    and the id join-back for the cosine verify change no pair."""
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.catalog import load
    from football_data_pipeline_spark.operators.embedsearch import (
        COSINE_VERIFY,
        q_dedup_embed,
    )
    from football_data_pipeline_spark.operators.embedsearch import band_signatures

    sf = "/root/testdata/sf0.001"
    sigs = band_signatures(load(spark, sf, "embeddings")).select(
        "vec_id", "embedding", "nrm", F.explode("bands").alias("sig")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    mine = {
        (r.vec_a, r.vec_b)
        for r in (
            a.join(
                b,
                (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                (
                    F.aggregate(
                        F.zip_with(
                            "a.embedding",
                            "b.embedding",
                            lambda x, y: x.cast("double") * y.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / (F.col("a.nrm") * F.col("b.nrm"))
                ).alias("sim"),
            )
            .distinct()
            .filter(F.col("sim") >= COSINE_VERIFY)
            .collect()
        )
    }
    theirs = {
        (r.vec_a, r.vec_b) for r in q_dedup_embed(spark, sf).collect()
    }
    assert mine == theirs and len(theirs) > 0


def test_stream_screen_recall_at_sf001(spark, tmp_path):
    """Measured recall yardstick for the STREAMING screen (VERDICT r6
    item 8 — q_lsh_recall's methodology applied to the ingest
    writer's accept/reject decisions at the driver's sf0.01 scale).

    sf0.01's embeddings hold no natural pairs at tau (max cosine
    < 0.7, verified), so ground truth is constructed exactly the way
    tools/scale_probe.py builds LSH-density corpora: every fifth
    vector gets one deterministic perturbed near-copy (cosine
    computed exactly, all >= tau) arriving in a LATER batch. Truth =
    the copies; the screen's recall = rejected copies / truth. The
    4x8-bit hyperplane geometry predicts ~0.89-0.97 for cosines in
    [0.95, 0.98] (1-(1-p^8)^4, p = 1 - theta/pi); the measured
    number lives in streaming/vectors.py's docstring and must stay
    >= 0.8. Original vectors are mutually far (< 0.7), so every
    original must be ACCEPTED — false rejects are a hard failure,
    not a score."""
    import math

    import duckdb

    con = duckdb.connect()
    d = con.sql(
        "SELECT vec_id, embedding FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet') "
        "ORDER BY vec_id"
    ).df()
    con.close()
    originals = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in d.itertuples()]

    def perturb(vec_id, v):
        # deterministic, RNG-free: small modular pattern, then exact
        # cosine vs the original computed below
        u = [((7 * i + vec_id) % 11 - 5) / 5.0 for i in range(len(v))]
        nv = math.sqrt(sum(x * x for x in v))
        # tuned so copy cosines land at 0.967-0.97 — inside the
        # probabilistic banding regime (predicted recall ~0.94),
        # not the trivial ~1.0 neighborhood
        w = [x + 0.4 * nv * y / 8.0 for x, y in zip(v, u)]
        return w

    def cosine(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    copies = []
    for vec_id, v in originals:
        if vec_id % 5 == 0:
            w = perturb(vec_id, v)
            assert cosine(v, w) >= VECTOR_DUP_TAU  # truth by construction
            copies.append((10000 + vec_id, w))
    root = str(tmp_path / "corpus")
    w = vector_ingest_snapshot_writer(root)
    half = len(originals) // 2
    batches = [originals[:half], originals[half:], copies]
    for i, rows in enumerate(batches):
        w(spark.createDataFrame(rows, SCHEMA), i)

    accepted = set()
    rejected = {}
    for i in range(len(batches)):
        accepted |= _accepted(spark, root, i)
        rejected.update(_rejected(spark, root, i))
    # no original may be screened out (max original-pair cosine < 0.7)
    orig_ids = {vid for vid, _ in originals}
    assert orig_ids <= accepted and not (orig_ids & set(rejected))
    truth = {vid for vid, _ in copies}
    found = truth & set(rejected)
    recall = len(found) / len(truth)
    # measured: see streaming/vectors.py docstring; geometry predicts
    # ~0.9 at these cosines and the floor pins regressions
    assert recall >= 0.8, recall
    # every rejected copy carries the honest audit row: its original
    # as owner (or a same-batch canonical) and the verified cosine
    for vid, row in rejected.items():
        if vid in truth:
            assert row.cosine_sim >= VECTOR_DUP_TAU
            assert row.dup_of in accepted
    print(f"STREAM_SCREEN_RECALL={recall:.4f} n_truth={len(truth)}")
