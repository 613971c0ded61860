"""Straight-line NumPy oracle for the DS2-style calibration chain.

Independent re-implementation of consensus counting, vote epochs,
majority aggregation, curation, long-tail scoring and dual-sort
selection — sharing with the engine ONLY the low-level float kernels
in ds2_spark.operators.knn_kernels (so float equality is meaningful)
and the seed-derivation helpers (the determinism contract itself).

Engine output must match this oracle exactly (keep/drop F1 = 1.0).
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from ds2_spark.config import NUM_CLASSES, PipelineConfig
from ds2_spark.functions import textkernels as tk
from ds2_spark.operators.hoc import round_seed
from ds2_spark.operators.knn_kernels import (
    cosine_knn,
    l2_normalize_rows,
    weighted_label_distribution,
)
from ds2_spark.operators.votes import epoch_seed

from .rules_oracle import rule_reasons


def consensus_counts_oracle(emb, labels, cfg) -> np.ndarray:
    """[6,6,6] averaged consensus counts over rounds."""
    emb = l2_normalize_rows(np.asarray(emb, dtype=np.float32))
    c3 = np.zeros((NUM_CLASSES,) * 3)
    n = emb.shape[0]
    m = min(cfg.sample_size, n)
    for rnd in range(cfg.rounds):
        rng = np.random.default_rng(round_seed(cfg.seed, rnd))
        idx = rng.choice(n, size=m, replace=False)
        sub, sl = emb[idx], labels[idx]
        _, nn = cosine_knn(sub, sub, k=2, exclude_self_offset=0)
        for a, b, c in zip(sl, sl[nn[:, 0]], sl[nn[:, 1]]):
            c3[a, b, c] += 1
    return c3 / cfg.rounds


def votes_oracle(emb, labels, ids, noise_rates, cfg):
    """All epochs' votes: list of (epoch, clip_id, flagged, suggested)."""
    emb = l2_normalize_rows(np.asarray(emb, dtype=np.float32))
    out = []
    n = emb.shape[0]
    m = min(cfg.sample_size, n)
    for ep in range(cfg.epochs):
        rng = np.random.default_rng(epoch_seed(cfg.seed, ep))
        idx = np.sort(rng.choice(n, size=m, replace=False))
        sub, sl = emb[idx], labels[idx]
        d, nn = cosine_knn(sub, sub, k=cfg.k, exclude_self_offset=0)
        probs = weighted_label_distribution(nn, d, sl, sl, NUM_CLASSES)
        nll = -np.log(probs[np.arange(m), sl] + 1e-8)
        flagged = np.zeros(m, dtype=bool)
        for c in range(NUM_CLASSES):
            mask = sl == c
            if not mask.any():
                continue
            noise = float(np.clip(noise_rates[c], 0.05, 0.95))
            thre = np.percentile(nll[mask], 100.0 * (1.0 - noise))
            flagged[mask] = nll[mask] >= thre
        masked = probs.copy()
        masked[np.arange(m), sl] = -1.0
        sugg = masked.argmax(axis=1)
        for j in range(m):
            out.append((ep, ids[idx[j]], int(flagged[j]), int(sugg[j])))
    return out


def aggregate_votes_oracle(votes, raw_scores: dict):
    """clip_id -> (times, n_flagged, noisy_avg, suggested, confidence)."""
    from collections import defaultdict

    per = defaultdict(lambda: {"times": 0, "flagged": 0, "cnt": np.zeros(NUM_CLASSES)})
    for _, cid, fl, sg in votes:
        d = per[cid]
        d["times"] += 1
        d["flagged"] += fl
        if sg is not None and 0 <= sg < NUM_CLASSES:  # else: a vote for no class
            d["cnt"][sg] += 1
    out = {}
    for cid, d in per.items():
        total = d["cnt"].sum()
        smoothed = (d["cnt"] + 1.0) / (total + NUM_CLASSES)
        masked = smoothed.copy()
        masked[raw_scores[cid]] = -1.0
        sugg = int(masked.argmax())
        out[cid] = (
            d["times"],
            d["flagged"],
            (d["flagged"] + 1.0) / (d["times"] + 2.0),
            sugg,
            float(smoothed[sugg]),
        )
    return out


def lt_oracle(emb, ids, k=10, pool_emb=None, pool_ids=None):
    """Long-tail score of every row of `emb` against the pool
    (default: the rows themselves — the uncapped small-fixture case)."""
    emb = l2_normalize_rows(np.asarray(emb, dtype=np.float32))
    if pool_emb is None:
        pool_emb, pool_ids = emb, ids
    else:
        pool_emb = l2_normalize_rows(np.asarray(pool_emb, dtype=np.float32))
    d, nn = cosine_knn(emb, pool_emb, k=k + 1)
    out = {}
    for i in range(emb.shape[0]):
        sel = [j for j, c in enumerate(nn[i]) if c >= 0 and pool_ids[c] != ids[i]][:k]
        md = d[i][sel].mean() if sel else 0.0
        out[ids[i]] = round(2.0 / (1.0 + np.exp(-md)) - 1.0, 4)
    return out


def pool_oracle(cand_ids, max_rows: int, seed: int) -> list:
    """Independent hashlib replay of plans.curation.collect_pool's
    deterministic membership: md5('<seed>|<clip_id>') 48-bit-prefix
    gate at ~1.15*max_rows/n of the space, then the max_rows smallest
    full md5 keys. Returns the members in clip_id-sorted order (the
    engine's canonical pool order). Only the integer threshold formula
    is imported from the engine — the hash itself is hashlib."""
    import hashlib

    from ds2_spark.plans.curation import pool_gate_threshold

    n = len(cand_ids)
    if n <= max_rows:
        return sorted(cand_ids)
    thresh = pool_gate_threshold(max_rows, n)
    hexes = {
        cid: hashlib.md5(f"{seed}|{cid}".encode()).hexdigest()
        for cid in cand_ids
    }
    gated = [cid for cid in cand_ids if int(hexes[cid][:12], 16) < thresh]
    members = set(sorted(gated, key=hexes.__getitem__)[:max_rows])
    return sorted(members)


def selection_oracle(rows, budget):
    """rows: list of (clip_id, final_score, lt_score). Returns the
    selected clip_id set via greedy bucket fill 5→0, lt desc within
    a partially-taken bucket, ties by clip_id asc."""
    selected = set()
    remaining = budget
    by_score = {}
    for cid, sc, lt in rows:
        by_score.setdefault(sc, []).append((cid, lt))
    for sc in range(NUM_CLASSES - 1, -1, -1):
        bucket = by_score.get(sc, [])
        if remaining <= 0:
            break
        if len(bucket) <= remaining:
            selected.update(cid for cid, _ in bucket)
            remaining -= len(bucket)
        else:
            ordered = sorted(bucket, key=lambda x: (-x[1], x[0]))
            selected.update(cid for cid, _ in ordered[:remaining])
            remaining = 0
    return selected


def curation_oracle(
    clips_parquet: str,
    scores_parquet: str,
    noise_rates: np.ndarray,
    cfg: PipelineConfig | None = None,
    rater: str = "rater_a",
):
    """Full-chain oracle (given the per-class noise rates, which come
    from the HOC stage — validated separately). Returns
    {clip_id: (keep, reason, final_score)} plus artifacts."""
    cfg = cfg or PipelineConfig()
    reasons = rule_reasons(clips_parquet, cfg)
    tbl = pq.read_table(clips_parquet, columns=["clip_id", "transcript"])
    all_ids = tbl.column("clip_id").to_pylist()
    texts = {i: (t or "") for i, t in zip(all_ids, tbl.column("transcript").to_pylist())}

    cand_ids = sorted(i for i in all_ids if reasons[i] == "candidate")
    emb = tk.embed_texts([texts[i] for i in cand_ids], dim=cfg.embed_dim)
    ids = np.array(cand_ids)

    sc = pq.read_table(scores_parquet).to_pandas()
    sc = sc[sc.rater == rater].set_index("clip_id")["raw_score"]
    # raw_scores covers only clips the rater actually scored — the
    # engine LEFT-joins scores (score_candidates) and coalesces a
    # missing raw_score to 0, so the oracle must not assume coverage
    cand_set = set(cand_ids)
    raw_scores = {cid: int(v) for cid, v in sc.items() if cid in cand_set}

    # pool-capped replay: votes/curation run on the deterministic
    # bounded pool; non-pool candidates keep their raw score and are
    # lt-scored AGAINST the pool, exactly like the engine
    pool_ids_l = pool_oracle(cand_ids, cfg.knn_pool_max, cfg.seed)
    if len(pool_ids_l) == len(cand_ids):
        pool_emb, pool_ids = emb, ids
    else:
        pos = {cid: i for i, cid in enumerate(cand_ids)}
        ppos = np.array([pos[cid] for cid in pool_ids_l])
        pool_emb, pool_ids = emb[ppos], np.array(pool_ids_l)

    # score-availability mask, exactly like calibrate_rater: pool
    # members the rater never scored are excluded from HOC/votes (the
    # engine's np.isin mask) but REMAIN in the lt reference pool below
    vmask = np.array([cid in raw_scores for cid in pool_ids], dtype=bool)
    v_emb, v_ids = pool_emb[vmask], pool_ids[vmask]
    v_labels = np.array([raw_scores[cid] for cid in v_ids], dtype=np.int64)

    votes = votes_oracle(v_emb, v_labels, v_ids, noise_rates, cfg.vote)
    agg = aggregate_votes_oracle(votes, raw_scores)

    final_score = {}
    for cid in cand_ids:
        raw = raw_scores.get(cid, 0)  # engine: coalesce(raw_score, 0)
        if cid in agg:
            times, fl, noisy_avg, sugg, conf = agg[cid]
            if noisy_avg > 0.5 and conf >= cfg.selection.confidence_min:
                final_score[cid] = sugg
                continue
        final_score[cid] = int(raw)

    lt = lt_oracle(emb, ids, k=cfg.vote.k, pool_emb=pool_emb, pool_ids=pool_ids)
    budget = max(int(round(cfg.selection.budget_frac * len(cand_ids))), 1)
    sel = selection_oracle(
        [(cid, final_score[cid], lt[cid]) for cid in cand_ids], budget
    )

    out = {}
    for cid in all_ids:
        if reasons[cid] != "candidate":
            out[cid] = (False, reasons[cid], None)
        elif cid in sel:
            out[cid] = (True, "selected", final_score[cid])
        else:
            out[cid] = (False, "low_score", final_score[cid])
    return {"decisions": out, "agg": agg, "lt": lt, "budget": budget, "votes": votes}
