"""Golden-fixture test for the reference-fidelity pipeline (FIXTURES.md §A):
pins the E1-E4 semantic decisions on a hand-computable input.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def fixture_dirs(tmp_path):
    impressions = [
        # (u1, a1): 4 impressions, 2 clicked (one of them twice) → ctr 0.5
        '{"impressionId": "i1", "referrer": "u1", "adId": "a1"}',
        'junk\t{"impressionId": "i2", "referrer": "u1", "adId": "a1"}',  # junk prefix
        '{"impressionId": "i3", "referrer": "u1", "adId": "a1"}',
        '{"impressionId": "i4", "referrer": "u1", "adId": "a1"}',
        # E3: duplicate impressionId — must yield ONE impression row
        '{"impressionId": "i4", "referrer": "u1", "adId": "a1"}',
        # (u2, a1): 1 impression, unclicked → ctr 0.0
        '{"impressionId": "i5", "referrer": "u2", "adId": "a1"}',
        # E1: malformed JSON line — must be quarantined, not duplicated
        "this is not json at all",
        # E1: an impression with no adId has no (referrer, adId) key — dropped,
        # not grouped under a null adId
        '{"impressionId": "i6", "referrer": "u2"}',
    ]
    clicks = [
        '{"impressionId": "i1"}',
        '{"impressionId": "i2"}',
        # E2: second click on i2 — must still count once
        '{"impressionId": "i2"}',
        # E4: orphan click (no matching impression) — reference crashes; we drop
        '{"impressionId": "i999"}',
    ]
    imp_dir = tmp_path / "impressions"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    (imp_dir / "part-0000").write_text("\n".join(impressions) + "\n")
    (clk_dir / "part-0000").write_text("\n".join(clicks) + "\n")
    return str(imp_dir), str(clk_dir)


def test_golden_ctr(spark, fixture_dirs):
    from hadoopmapreduce_spark.operators.clickthru import run_clickthru

    imp_dir, clk_dir = fixture_dirs
    result = {
        (r["referrer"], r["ad_id"]): r["ctr"]
        for r in run_clickthru(spark, imp_dir, clk_dir).collect()
    }
    assert result == {("u1", "a1"): 0.5, ("u2", "a1"): 0.0}


def test_corrupt_line_quarantined(spark, fixture_dirs):
    from hadoopmapreduce_spark.operators.clickthru import IMPRESSION_SCHEMA
    from hadoopmapreduce_spark.sources.jsonlines import read_jsonlines_tolerant

    imp_dir, _ = fixture_dirs
    df = read_jsonlines_tolerant(spark, imp_dir, IMPRESSION_SCHEMA)
    corrupt = df.filter(df._corrupt.isNotNull()).collect()
    assert len(corrupt) == 1
    assert "not json" in corrupt[0]["_corrupt"]
    # E1: the malformed row must NOT inherit the previous record's fields
    assert corrupt[0]["impressionId"] is None


def test_junk_prefix_parsed(spark, fixture_dirs):
    from hadoopmapreduce_spark.operators.clickthru import IMPRESSION_SCHEMA
    from hadoopmapreduce_spark.sources.jsonlines import read_jsonlines_tolerant

    imp_dir, _ = fixture_dirs
    df = read_jsonlines_tolerant(spark, imp_dir, IMPRESSION_SCHEMA)
    i2 = df.filter(df.impressionId == "i2").collect()
    assert len(i2) == 1 and i2[0]["referrer"] == "u1"


def test_observed_corruption_metrics(spark, fixture_dirs):
    from hadoopmapreduce_spark.operators.clickthru import IMPRESSION_SCHEMA
    from hadoopmapreduce_spark.sources.jsonlines import read_jsonlines_observed

    imp_dir, _ = fixture_dirs
    df, obs = read_jsonlines_observed(spark, imp_dir, IMPRESSION_SCHEMA)
    n_valid = df.filter(df._corrupt.isNull()).count()  # the action
    assert obs.get == {"n_rows": 8, "n_corrupt": 1}
    assert n_valid == 7
