"""Inter-rater agreement (Cohen's kappa) and cross-modal consistency.

Oracles are independent pure-Python replays (itertools/collections
arithmetic — no Spark, no shared kernel), plus hand-computable cases
where kappa's textbook values are known exactly.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from ds2_spark.operators.agreement import pairwise_rater_agreement
from ds2_spark.operators.crossmodal import crossmodal_consistency


def _py_kappa(pairs):
    """(label_a, label_b) list -> (n, agree, pe_num, po, kappa)."""
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    row = Counter(a for a, _ in pairs)
    col = Counter(b for _, b in pairs)
    pe_num = sum(row[l] * col.get(l, 0) for l in row)
    po = agree / n
    denom = n * n - pe_num
    kappa = (agree * n - pe_num) / denom if denom else None
    return n, agree, pe_num, po, kappa


def _scores_df(spark, rows):
    return spark.createDataFrame(rows, "clip_id long, rater string, label int")


def test_kappa_matches_python_replay(spark):
    rows = []
    for i in range(500):
        base = i % 5 + 1
        rows.append((i, "a", base))
        rows.append((i, "b", base % 5 + 1 if i % 7 == 0 else base))
        rows.append((i, "c", (base + 1) % 5 + 1 if i % 3 == 0 else base))
    out = {
        (r["rater_a"], r["rater_b"]): r
        for r in pairwise_rater_agreement(_scores_df(spark, rows)).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    by_rater = {}
    for i, rt, lab in rows:
        by_rater.setdefault(rt, {})[i] = lab
    for ra, rb in out:
        pairs = [
            (by_rater[ra][i], by_rater[rb][i])
            for i in sorted(by_rater[ra])
            if i in by_rater[rb]
        ]
        n, agree, pe_num, po, kappa = _py_kappa(pairs)
        r = out[(ra, rb)]
        assert (r["n_items"], r["n_agree"], r["pe_num"]) == (n, agree, pe_num)
        assert r["po"] == po and r["kappa"] == kappa


def test_kappa_textbook_values(spark):
    # perfect agreement -> kappa 1; full systematic disagreement with
    # balanced marginals -> kappa < 0; chance-level -> kappa == 0
    perfect = [(i, r, i % 3) for i in range(60) for r in ("x", "y")]
    out = pairwise_rater_agreement(_scores_df(spark, perfect)).collect()[0]
    assert out["kappa"] == 1.0 and out["po"] == 1.0

    swapped = [(i, "x", i % 2) for i in range(40)] + [
        (i, "y", 1 - i % 2) for i in range(40)
    ]
    out = pairwise_rater_agreement(_scores_df(spark, swapped)).collect()[0]
    assert out["po"] == 0.0 and out["kappa"] == pytest.approx(-1.0)

    # rater y constant while x is balanced: po == pe -> kappa exactly 0
    chance = [(i, "x", i % 2) for i in range(40)] + [
        (i, "y", 0) for i in range(40)
    ]
    out = pairwise_rater_agreement(_scores_df(spark, chance)).collect()[0]
    assert out["kappa"] == 0.0

    # both raters constant and equal: pe == 1, kappa undefined -> NULL
    const = [(i, r, 2) for i in range(10) for r in ("x", "y")]
    out = pairwise_rater_agreement(_scores_df(spark, const)).collect()[0]
    assert out["kappa"] is None and out["po"] == 1.0


def test_kappa_disjoint_label_sets_pair_survives(spark):
    """Raters with DISJOINT label sets (one rater stuck on labels the
    other never uses) must still produce a row — pe_num 0, po 0,
    kappa 0 — not silently vanish from the diagnostic; this is
    exactly the disagrees-with-every-peer rater the report exists to
    expose."""
    rows = [(i, "x", 1) for i in range(20)] + [
        (i, "y", 2) for i in range(20)
    ]
    out = pairwise_rater_agreement(_scores_df(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_items"], r["n_agree"], r["pe_num"]) == (20, 0, 0)
    assert r["po"] == 0.0 and r["kappa"] == 0.0


def test_kappa_partial_overlap_counts_shared_items_only(spark):
    rows = [(i, "x", 1) for i in range(10)] + [
        (i, "y", 1) for i in range(5, 20)
    ]
    out = pairwise_rater_agreement(_scores_df(spark, rows)).collect()[0]
    assert out["n_items"] == 5  # items 5..9 only


def _pcm(vals):
    import struct

    return struct.pack(f"<{len(vals)}h", *vals)


def test_crossmodal_flags(spark):
    # three clips share audio A; two transcripts among them -> conflict.
    # two clips share transcript T over two different payloads -> variant.
    A = _pcm([100, 100, 100, 100, 100, 100, 100, 100] * 4)
    B = _pcm([10, 20, 900, 5, 7, 9, 11, 13] * 4)
    C = _pcm([500, 1, 2, 3, 800, 1, 2, 3] * 4)
    rows = [
        ("c1", A, "hello"),
        ("c2", A, "hello"),
        ("c3", A, "hallo"),  # same audio, different transcript
        ("c4", B, "world"),
        ("c5", C, "world"),  # same transcript, different audio
        ("c6", None, "solo"),  # NULL payload: no audio group
        ("c7", B, None),  # NULL transcript: no text group
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    out = {
        r["clip_id"]: r
        for r in crossmodal_consistency(df, frame_samples=4).collect()
    }
    for cid in ("c1", "c2", "c3"):
        assert out[cid]["audio_dup_count"] == 3
        assert out[cid]["n_transcripts"] == 2
        assert out[cid]["transcript_conflict"] == 1
    for cid in ("c4", "c5"):
        assert out[cid]["text_dup_count"] == 2
        assert out[cid]["n_audio"] == 2
        assert out[cid]["audio_variant"] == 1
    assert out["c6"]["fp"] is None
    assert out["c6"]["audio_dup_count"] == 0
    assert out["c6"]["transcript_conflict"] == 0
    # c7 shares B's audio group with c4; its NULL transcript is not a
    # "variant" (count distinct ignores NULLs) so no conflict fires
    assert out["c7"]["audio_dup_count"] == 2
    assert out["c7"]["n_transcripts"] == 1
    assert out["c7"]["transcript_conflict"] == 0
    assert out["c7"]["text_dup_count"] == 0
    # c1/c2 same (audio, transcript): dup in both modalities, no flags
    assert out["c1"]["text_dup_count"] == 2
    assert out["c1"]["audio_variant"] == 0


def test_crossmodal_no_groups_all_zero_flags(spark):
    rows = [
        ("a", _pcm([i * 7 % 201 for i in range(32)]), "ta"),
        ("b", _pcm([(i * i) % 199 for i in range(32)]), "tb"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, transcript string"
    )
    out = crossmodal_consistency(df, frame_samples=4)
    assert (
        out.agg(
            F.sum("transcript_conflict").alias("tc"),
            F.sum("audio_variant").alias("av"),
        ).collect()[0]["tc"]
        == 0
    )
    assert out.where(F.col("audio_dup_count") != 1).count() == 0


def test_crossmodal_contract_query_flags_not_vacuous(spark):
    """Both consistency flags must be LIVE in the contract synthesis
    (NOTES.md #45: a green oracle row over all-zero flag columns
    proves nothing about the flag arithmetic) — transcripts span
    multiple audio groups (g mod 97 collisions) and multi-take groups
    carry ' alt' variants."""
    from pyspark.sql import functions as F

    from ds2_spark.queries_catalog.multimodal import q_crossmodal_dup

    out = q_crossmodal_dup(spark, "/root/testdata/sf0.001")
    r = out.agg(
        F.sum("audio_variant").alias("av"),
        F.sum("transcript_conflict").alias("tc"),
    ).collect()[0]
    assert r["av"] > 0 and r["tc"] > 0, (r["av"], r["tc"])
