"""Round-8 wave 40: the dedup verify-join broadcast gate.

VERDICT r7 item 2 / ADVICE r7 item 1: the dedup verify joins used to
FORCE-broadcast per-doc tables that are O(corpus) rows (ppjoin's shingle
arrays, band tuning's signature + hashed-shingle tables). The gate
(`session.fits_broadcast` against `session.BROADCAST_MAX_BYTES`) keeps the
broadcast plan at bounded sizes and switches to a shuffle-side plan above
it; the tests patch the budget to 0 to force the above-budget plan. These
tests pin BOTH paths to identical results and prove the large-side plan
carries no broadcast HINT of the corpus-sized table (AQE may still broadcast at runtime when a
side is measurably small — that is the point of dropping the forced hint).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

from etl_cotrip_signs_spark import session
from etl_cotrip_signs_spark.operators import dedup


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_maybe_broadcast_gates_on_measured_rows(spark):
    budget = session.BROADCAST_MAX_BYTES
    assert session.fits_broadcast(budget // 40, 40)
    assert not session.fits_broadcast(budget // 40 + 1, 40)
    assert session.fits_broadcast(1, budget)
    assert not session.fits_broadcast(1, budget + 1)
    df = spark.range(3)
    hinted = session.broadcast_if_fits(df, budget // 8, 8)
    unhinted = session.broadcast_if_fits(df, budget // 8 + 1, 8)
    assert "ResolvedHint" in _analyzed(hinted)
    assert "ResolvedHint" not in _analyzed(unhinted)


def test_ppjoin_posting_verify_matches_broadcast_verify(spark, monkeypatch):
    base = _rows(dedup.dedup_ppjoin_prefix(spark, SF_SMALL))
    assert base, "fixture should contain near-duplicate pairs"
    monkeypatch.setattr(session, "BROADCAST_MAX_BYTES", 0)
    fallback_df = dedup.dedup_ppjoin_prefix(spark, SF_SMALL)
    # the 100 TB path must not hint-broadcast the shingle-array table
    assert "ResolvedHint" not in _analyzed(fallback_df)
    assert _rows(fallback_df) == base


def test_band_tuning_unhinted_matches_broadcast(spark, monkeypatch):
    base = _rows(dedup.dedup_minhash_band_tuning(spark, SF_SMALL))
    assert len(base) == 3
    monkeypatch.setattr(session, "BROADCAST_MAX_BYTES", 0)
    fallback_df = dedup.dedup_minhash_band_tuning(spark, SF_SMALL)
    assert "ResolvedHint" not in _analyzed(fallback_df)
    assert _rows(fallback_df) == base


def test_similarity_histogram_unhinted_matches_broadcast(spark, monkeypatch):
    base = _rows(dedup.dedup_similarity_histogram(spark, SF_SMALL))
    monkeypatch.setattr(session, "BROADCAST_MAX_BYTES", 0)
    fallback_df = dedup.dedup_similarity_histogram(spark, SF_SMALL)
    assert "ResolvedHint" not in _analyzed(fallback_df)
    assert _rows(fallback_df) == base


def test_minhash_recall_oracle_registered():
    """Round-8 graduation: dedup_minhash_recall now carries a hash oracle
    (rows-only 23 -> 22)."""
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    assert "dedup_minhash_recall" in registry.ORACLES
    sql = registry.ORACLES["dedup_minhash_recall"]
    # composed from the two proven pair oracles
    assert "recall" in sql and "xxh64" in sql.lower()


# --- round 10: the text-family vocab broadcast gate (VERDICT r9 item 4) ---


def test_pmi_unhinted_matches_broadcast(spark, monkeypatch):
    from etl_cotrip_signs_spark.operators import text

    base = _rows(text.text_pmi_cooccurrence(spark, SF_SMALL))
    assert base, "fixture should contain frequent co-occurring pairs"
    monkeypatch.setattr(session, "BROADCAST_MAX_BYTES", 0)
    fallback_df = text.text_pmi_cooccurrence(spark, SF_SMALL)
    # the 100 TB path must not hint-broadcast the vocabulary table
    assert "ResolvedHint" not in _analyzed(fallback_df)
    assert _rows(fallback_df) == base


def test_count_vectorizer_unhinted_matches_broadcast(spark, monkeypatch):
    from etl_cotrip_signs_spark.operators import features

    base = _rows(features.feature_count_vectorizer_df(spark, SF_SMALL))
    assert base, "fixture should produce vectorized docs"
    monkeypatch.setattr(session, "BROADCAST_MAX_BYTES", 0)
    fallback_df = features.feature_count_vectorizer_df(spark, SF_SMALL)
    assert "ResolvedHint" not in _analyzed(fallback_df)
    assert _rows(fallback_df) == base
