"""Behavioral + engine-determinism guards for the round-11 wave12
operators (DSIR weights, unigram logloss, truncation loss, graph
eccentricity, cluster-outlier audit).  Oracle hash-equality itself is
covered by test_oracle_pack; these tests pin the properties the hash
check can't express."""

from __future__ import annotations

import datetime
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, text, wave12


@pytest.fixture(autouse=True)
def _release():
    yield
    release_tracked()


# --------------------------------------------------------------------------
# Rounding-margin guards (the BM25 ln-ulp absorption precondition)
# --------------------------------------------------------------------------
@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_medium"])
def test_dsir_lambda_rounding_margin(spark, sf_fixture, request):
    """DSIR's oracle pairing rests on per-bucket round(λ·10⁶) absorbing
    ln()'s last-ulp engine disagreement; that requires no raw λ·10⁶ near
    a half-integer boundary.  The engines' raw values differ by a few
    ulp (~1e-9 at these magnitudes); pin the margin 100× above that."""
    sf_dir = request.getfixturevalue(sf_fixture)
    lam, _ = wave12.dsir_bucket_lambdas(spark, sf_dir)
    scaled = F.col("raw_lam") * 1e6
    min_dist = (
        lam.select(F.abs(scaled - F.floor(scaled) - 0.5).alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert min_dist > 1e-7, min_dist


@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_medium"])
def test_unigram_lnp_rounding_margin(spark, sf_fixture, request):
    sf_dir = request.getfixturevalue(sf_fixture)
    lnp, _ = text.unigram_lnp_terms(spark, sf_dir)
    scaled = F.col("raw_lnp") * 1e6
    min_dist = (
        lnp.select(F.abs(scaled - F.floor(scaled) - 0.5).alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert min_dist > 1e-7, min_dist


# --------------------------------------------------------------------------
# DSIR separates the target domain
# --------------------------------------------------------------------------
def test_dsir_separates_target_language(spark, sf_small):
    """The whole point of the importance weight: documents from the
    target domain (lang='en') must score higher on average than the
    rest.  Probed margin at sf0.001: ≈ +107k micro (en mean −101k vs
    non-en −208k) — assert the sign, not the magnitude."""
    lam, tb = wave12.dsir_bucket_lambdas(spark, sf_small)
    dc = tb.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    sc = (
        dc.join(F.broadcast(lam.drop("raw_lam")), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("lam_micro")).alias("llr"))
    )
    rows = sc.groupBy(
        (F.col("lang") == wave12.DSIR_TARGET_LANG).alias("is_tgt")
    ).agg(F.avg("llr").alias("m")).collect()
    means = {r.is_tgt: r.m for r in rows}
    assert means[True] > means[False], means


def test_dsir_topk_shape(spark, sf_small):
    got = wave12.pipeline_dsir_weights(spark, sf_small).collect()
    assert len(got) == wave12.DSIR_TOP_K
    ranks = sorted(r.rank for r in got)
    assert ranks == list(range(1, wave12.DSIR_TOP_K + 1))
    by_rank = sorted(got, key=lambda r: r.rank)
    scores = [r.llr_micro for r in by_rank]
    assert scores == sorted(scores, reverse=True)


# --------------------------------------------------------------------------
# Truncation-loss curve properties
# --------------------------------------------------------------------------
def test_truncation_loss_monotone(spark, sf_small):
    rows = sorted(
        wave12.pipeline_truncation_loss(spark, sf_small).collect(),
        key=lambda r: r.ctx_len,
    )
    lost = [r.tokens_lost for r in rows]
    assert lost == sorted(lost, reverse=True), lost
    trunc = [r.docs_truncated for r in rows]
    assert trunc == sorted(trunc, reverse=True), trunc
    # every row sees the same corpus
    assert len({(r.n_docs, r.tokens_total) for r in rows}) == 1
    for r in rows:
        assert 0 <= r.loss_ppm <= 1_000_000
        assert r.loss_ppm == (r.tokens_lost * 1_000_000) // r.tokens_total


# --------------------------------------------------------------------------
# Eccentricity on a planted graph
# --------------------------------------------------------------------------
def test_eccentricity_on_planted_path(spark):
    """Path graph 1-2-3-4 via one user's navigation: ends have ecc 3,
    middles ecc 2, diameter 3, radius 2, centers = {2, 3}."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(minutes=i), i + 1, '{"k": %d}' % k)
        for i, k in enumerate([1, 2, 3, 4])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, props string"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        got = {
            r.node: r
            for r in wave12.events_graph_eccentricity(spark, td).collect()
        }
    assert {n: r.ecc for n, r in got.items()} == {1: 3, 2: 2, 3: 2, 4: 3}
    assert all(r.diameter == 3 and r.radius == 2 for r in got.values())
    assert {n for n, r in got.items() if r.is_center} == {2, 3}
    assert {n for n, r in got.items() if r.is_periphery} == {1, 4}
    assert all(r.n_reached == 3 for r in got.values())


def test_eccentricity_isolated_node(spark):
    """A node with no edges: n_reached 0, ecc 0, never center/periphery."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, '{"k": 1}'),
        (1, base + datetime.timedelta(minutes=1), 2, '{"k": 2}'),
        # user 2 emits a single lonely event type 9 (no transition)
        (2, base, 3, '{"k": 9}'),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, props string"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        got = {
            r.node: r
            for r in wave12.events_graph_eccentricity(spark, td).collect()
        }
    assert got[9].n_reached == 0 and got[9].ecc == 0
    assert got[9].is_center == 0 and got[9].is_periphery == 0
    assert got[1].ecc == 1 and got[2].ecc == 1
    # 1-2 edge: both are centers AND periphery (diameter == radius == 1)
    assert all(r.diameter == 1 and r.radius == 1 for r in got.values())


# --------------------------------------------------------------------------
# Cluster-outlier audit consistency with the shared member relation
# --------------------------------------------------------------------------
def test_outlier_audit_consistent_with_members(spark, sf_small):
    from iceberg_table_generator_spark.operators.wave11 import (
        semdedup_relation,
    )

    audit = {
        r.cid: r
        for r in similarity.similarity_cluster_outlier_audit(
            spark, sf_small
        ).collect()
    }
    m = semdedup_relation(spark, sf_small).collect()
    by_cid: dict[int, list] = {}
    for r in m:
        by_cid.setdefault(r.cid, []).append(r)
    assert set(audit) == set(by_cid)
    total_outliers = 0
    for cid, members in by_cid.items():
        a = audit[cid]
        assert a.n_members == len(members)
        expect_out = sum(1 for r in members if r.ccos < similarity.OUTLIER_TAU)
        assert a.n_outliers == expect_out
        total_outliers += expect_out
        far = min(members, key=lambda r: (r.ccos, r.vec_id))
        assert a.farthest_vec_id == far.vec_id
        import math

        assert a.min_ccos_micro == math.floor(far.ccos * 1_000_000)
        assert 0 <= a.outlier_ppm <= 1_000_000
    # the τ constant must flag a real, nonzero tail on this testdata
    assert total_outliers > 0


# --------------------------------------------------------------------------
# Batch 2: readability / PII incidence / Hellinger / keyness
# --------------------------------------------------------------------------
@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_medium"])
def test_keyness_rounding_margin(spark, sf_fixture, request):
    """G² keyness ranks identically-rounded micro integers; the ln-ulp
    absorption needs every raw G²·10⁶ clear of its rounding boundary."""
    sf_dir = request.getfixturevalue(sf_fixture)
    scored = text.keyness_scored_terms(spark, sf_dir)
    scaled = F.col("raw_g2") * 1e6
    min_dist = (
        scored.select(F.abs(scaled - F.floor(scaled) - 0.5).alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert min_dist > 1e-7, min_dist


def test_readability_bounds_and_consistency(spark, sf_small):
    rows = text.text_readability_profile(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.min_flesch_micro <= r.avg_flesch_micro <= r.max_flesch_micro
        assert r.words_per_sentence_milli > 0
        # vowel-group syllables: at least ~1 per word on word-soup text
        assert r.syllables_per_word_milli > 500
        assert r.n_docs > 0


def test_pii_incidence_matches_plant_rates(spark, sf_small):
    """The modular plant puts emails on ~3/7 of docs, phones ~2/5,
    IPs ~1/3; the regex detections must land near those rates and the
    ppm columns must be exact integer ratios of the counts."""
    rows = wave12.pipeline_pii_incidence(spark, sf_small).collect()
    tot = sum(r.n_docs for r in rows)
    em = sum(r.docs_with_email for r in rows)
    ph = sum(r.docs_with_phone for r in rows)
    ip = sum(r.docs_with_ip for r in rows)
    assert abs(em / tot - 3 / 7) < 0.1, em / tot
    assert abs(ph / tot - 2 / 5) < 0.1, ph / tot
    assert abs(ip / tot - 1 / 3) < 0.1, ip / tot
    for r in rows:
        assert r.email_ppm == (r.docs_with_email * 1_000_000) // r.n_docs
        assert r.docs_with_any <= r.n_docs
        assert r.docs_with_any >= max(
            r.docs_with_email, r.docs_with_phone, r.docs_with_ip
        )


def test_hellinger_properties(spark, sf_small):
    """Metric sanity: distances in [0,1]; identical-source distance isn't
    produced (grid is strict upper triangle); pairs across languages are
    farther apart on average than the matrix minimum."""
    rows = text.text_source_hellinger(spark, sf_small).collect()
    n_sources = len({r.src_a for r in rows} | {r.src_b for r in rows})
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.src_a < r.src_b
        assert 0.0 <= r.hellinger <= 1.0
        assert 0 <= r.bc_nano <= 1_000_100_000  # rounding slack


def test_distinctive_terms_shape(spark, sf_small):
    rows = text.text_distinctive_terms(spark, sf_small).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        assert len(rs) <= text.KEYNESS_TOP_K
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        scores = [r.g2_micro for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            # over-representation filter: the term must be positively keyed
            assert r.src_count >= 1 and r.corpus_count >= r.src_count


# --------------------------------------------------------------------------
# Batch 3: drawdown / char entropy / bigram logloss
# --------------------------------------------------------------------------
def test_drawdown_invariants(spark, sf_small):
    rows = sorted(
        wave12.orders_revenue_drawdown(spark, sf_small).collect(),
        key=lambda r: r.day,
    )
    peak = 0
    max_dd = 0
    for r in rows:
        peak = max(peak, r.rev_cents)
        assert r.peak_cents == peak
        assert r.dd_cents == peak - r.rev_cents
        assert r.dd_cents >= 0
        assert r.dd_bp == (r.dd_cents * 10_000) // r.peak_cents
        max_dd = max(max_dd, r.dd_cents)
    flagged = [r for r in rows if r.is_max_drawdown]
    if max_dd > 0:
        assert flagged and all(r.dd_cents == max_dd for r in flagged)
    else:
        assert not flagged


def test_char_entropy_bounds(spark, sf_small):
    import math

    rows = text.text_char_entropy_profile(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_distinct_chars >= 2
        assert 0 <= r.entropy_micro
        # H <= ln(alphabet size) (plus micro-rounding slack)
        assert r.entropy_micro <= math.log(r.n_distinct_chars) * 1e6 + 1000
        assert r.n_chars > r.n_distinct_chars


def test_bigram_beats_unigram_on_structure(spark, sf_small):
    """A bigram LM conditioned on real histories must fit the corpus at
    least as well per token as the unigram model fits it — on word-soup
    testdata the margin is small but the SIGN is structural (conditioning
    can't hurt add-one-smoothed fit here; both are micro-integers)."""
    uni = {
        r.source: r.avg_logloss_micro
        for r in text.text_unigram_logloss(spark, sf_small).collect()
    }
    release_tracked()
    bi = {
        r.source: r.avg_logloss_micro
        for r in text.text_bigram_logloss(spark, sf_small).collect()
    }
    assert set(uni) == set(bi)
    # corpus-level: mean over sources
    assert sum(bi.values()) / len(bi) < sum(uni.values()) / len(uni) * 1.2
    for v in bi.values():
        assert v > 0


# --------------------------------------------------------------------------
# Batch 4: SQ8 recall / incremental SemDeDup
# --------------------------------------------------------------------------
def test_sq8_recall_bounds_and_quality(spark, sf_small):
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    rows = similarity.similarity_sq8_recall(spark, sf_small).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r.k == TOP_K
        assert 0 <= r.n_hits <= TOP_K
        assert r.recall_ppm == (r.n_hits * 1_000_000) // TOP_K
    # int8 on 64-dim vectors loses very little: mean recall@5 must be high
    mean_recall = sum(r.n_hits for r in rows) / (len(rows) * TOP_K)
    assert mean_recall >= 0.8, mean_recall


def test_semdedup_incremental_consistency(spark, sf_small):
    """Every 'drop' verdict must cite a kept old exemplar in the same
    cluster above tau; every 'keep' must have none (recomputed in
    python over the collected member relation)."""
    from iceberg_table_generator_spark.operators.wave11 import (
        SEMDEDUP_TAU,
        _semdedup_dropped,
        semdedup_relation,
    )

    got = {
        r.vec_id: r
        for r in wave12.dedup_semdedup_incremental(spark, sf_small).collect()
    }
    m = semdedup_relation(spark, sf_small)
    old = m.filter(F.col("vec_id") % 10 != 0)
    dropped_old = {
        (r.cid, r.vec_id) for r in _semdedup_dropped(old).collect()
    }
    members = m.collect()
    kept = [
        r
        for r in members
        if r.vec_id % 10 != 0 and (r.cid, r.vec_id) not in dropped_old
    ]
    new = [r for r in members if r.vec_id % 10 == 0]
    assert set(got) == {r.vec_id for r in new}

    def cos(u, v):
        return sum(a * b for a, b in zip(u.vec, v.vec)) / (u.nrm * v.nrm)

    n_drops = 0
    for v in new:
        shadows = [
            u.vec_id
            for u in kept
            if u.cid == v.cid and cos(u, v) >= SEMDEDUP_TAU
        ]
        r = got[v.vec_id]
        if shadows:
            n_drops += 1
            assert r.verdict == "drop"
            assert r.n_hits == len(shadows)
            assert r.shadow_exemplar == min(shadows)
        else:
            assert r.verdict == "keep"
            assert r.n_hits == 0 and r.shadow_exemplar is None
    # the fixture's planted near-dups must produce at least one drop
    assert n_drops >= 1


# --------------------------------------------------------------------------
# Batch 5: Markov removal-effect attribution
# --------------------------------------------------------------------------
def test_markov_attribution_monotone(spark, sf_small):
    """Killing a channel can never create conversions: conv_micro <=
    base_micro and removal_effect_ppm in [0, 1e6]; every row shares one
    baseline; channels are distinct non-target pages."""
    rows = wave12.events_markov_attribution(spark, sf_small).collect()
    assert len(rows) == wave12.ATTR_CHANNELS
    bases = {r.base_micro for r in rows}
    assert len(bases) == 1
    channels = [r.channel for r in rows]
    assert len(set(channels)) == len(channels)
    assert wave12.ATTR_TARGET not in channels
    for r in rows:
        assert 0 <= r.conv_micro <= r.base_micro
        assert 0 <= r.removal_effect_ppm <= 1_000_000
        assert r.out_visits > 0
