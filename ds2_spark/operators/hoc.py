"""HOC noise-transition-matrix estimator (operator K3, SURVEY.md §2.9).

Re-expression of the reference's HOC stage
(score_curation/docta/core/hoc.py:15-281) for Spark:

  - the data-parallel part — R rounds of (sample ≤ m rows, find each
    sampled row's 2 nearest neighbors, count consensus patterns
    (y, y_nn1, y_nn2)) — fans out as one Spark task per round over a
    broadcast embedding pool (X5 subsampling contract: O(N²) kernels
    only ever run against a bounded sample);
  - the optimization — fitting a row-stochastic 6×6 T and prior p to
    the averaged consensus statistics — is a driver-side NumPy Adam
    loop (the problem size is 6×6 regardless of data scale, so
    distributing it would be pure overhead).

Analytical consensus equations (HOC / Zhu et al. 2021, public paper):
  c1[i]     = Σ_j p_j T[j,i]
  c2[i,k]   = Σ_j p_j T[j,i] T[j,k]
  c3[i,k,l] = Σ_j p_j T[j,i] T[j,k] T[j,l]
under the clusterability assumption (2-NN share the clean label).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import NUM_CLASSES, HocConfig
from .knn_kernels import cosine_knn, l2_normalize_rows


def round_seed(base_seed: int, rnd: int) -> int:
    """Pinned per-round RNG (FIXTURES.md determinism contract;
    the reference leaves this unseeded, hoc.py:257)."""
    return (base_seed ^ (1000 + rnd)) & 0x7FFFFFFF


def _round_patterns(
    emb: np.ndarray, labels: np.ndarray, rnd: int, cfg: HocConfig
) -> np.ndarray:
    """One HOC round: sample, 2-NN, return [m,3] consensus patterns."""
    rng = np.random.default_rng(round_seed(cfg.seed, rnd))
    n = emb.shape[0]
    m = min(cfg.sample_size, n)
    idx = rng.choice(n, size=m, replace=False)
    sub = emb[idx]
    sub_labels = labels[idx]
    _, nn = cosine_knn(sub, sub, k=2, exclude_self_offset=0)
    return np.stack(
        [sub_labels, sub_labels[nn[:, 0]], sub_labels[nn[:, 1]]], axis=1
    )


def consensus_counts(
    spark: SparkSession,
    emb: np.ndarray,
    labels: np.ndarray,
    cfg: HocConfig | None = None,
) -> DataFrame:
    """Distributed consensus counting: one task per round, counts
    aggregated relationally (A2/A3). Returns DataFrame
    (y0, y1, y2, cnt) where cnt is averaged over rounds."""
    cfg = cfg or HocConfig()
    emb = l2_normalize_rows(np.asarray(emb, dtype=np.float32))
    labels = np.asarray(labels, dtype=np.int64)
    b_emb = spark.sparkContext.broadcast(emb)
    b_lab = spark.sparkContext.broadcast(labels)
    rounds = cfg.rounds

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for rnd in pdf["id"].tolist():
                pats = _round_patterns(b_emb.value, b_lab.value, int(rnd), cfg)
                flat = (
                    pats[:, 0] * NUM_CLASSES * NUM_CLASSES
                    + pats[:, 1] * NUM_CLASSES
                    + pats[:, 2]
                )
                cnt = np.bincount(flat, minlength=NUM_CLASSES**3)
                nz = np.nonzero(cnt)[0]
                yield pd.DataFrame(
                    {
                        "y0": nz // (NUM_CLASSES * NUM_CLASSES),
                        "y1": (nz // NUM_CLASSES) % NUM_CLASSES,
                        "y2": nz % NUM_CLASSES,
                        "cnt": cnt[nz].astype(np.float64),
                    }
                )

    from pyspark.sql import functions as F

    from .votes import _fanout_partitions

    n_parts = _fanout_partitions(spark, rounds)
    per_round = spark.range(0, rounds, 1, numPartitions=n_parts).mapInPandas(
        _op, schema="y0 int, y1 int, y2 int, cnt double"
    )
    return per_round.groupBy("y0", "y1", "y2").agg(
        (F.sum("cnt") / F.lit(float(rounds))).alias("cnt")
    )


def counts_to_tensors(counts_rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(y0,y1,y2,cnt) rows -> normalized (c1[6], c2[6,6], c3[6,6,6])."""
    c3 = np.zeros((NUM_CLASSES,) * 3, dtype=np.float64)
    for r in counts_rows:
        c3[int(r["y0"]), int(r["y1"]), int(r["y2"])] = float(r["cnt"])
    total = c3.sum()
    if total > 0:
        c3 = c3 / total
    c2 = c3.sum(axis=2)
    c1 = c2.sum(axis=1)
    return c1, c2, c3


@dataclass
class HocResult:
    T: np.ndarray          # [6,6] row-stochastic P(noisy=j | clean=i)
    p_clean: np.ndarray    # [6] clean prior
    p_noisy: np.ndarray    # [6] observed noisy marginal
    loss: float


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    e = np.exp(x - x.max(axis=axis, keepdims=True))
    return e / e.sum(axis=axis, keepdims=True)


def _forward_loss(a: np.ndarray, b: np.ndarray, c1, c2, c3) -> float:
    t = _softmax(a, axis=1)
    p = _softmax(b)
    pt = p[:, None] * t                      # [j,i] = p_j T[j,i]
    c1_ana = pt.sum(axis=0)
    c2_ana = np.einsum("ji,jk->ik", pt, t)
    c3_ana = np.einsum("ji,jk,jl->ikl", pt, t, t)
    return (
        float(((c1 - c1_ana) ** 2).sum())
        + float(((c2 - c2_ana) ** 2).sum())
        + float(((c3 - c3_ana) ** 2).sum())
    )


def _loss_and_grads(
    a: np.ndarray, b: np.ndarray, c1, c2, c3
) -> tuple[float, np.ndarray, np.ndarray]:
    """Closed-form gradient of the squared-residual consensus loss
    w.r.t. the softmax logits (a for T rows, b for the prior p).

    With T=softmax(a,rows), p=softmax(b) and the analytic moments
      ĉ1_i = Σ_j p_j T[j,i], ĉ2_ik = Σ_j p_j T[j,i]T[j,k],
      ĉ3_ikl = Σ_j p_j T[j,i]T[j,k]T[j,l],
    the residual chain gives (r• = 2(ĉ•−c•)):
      ∂L/∂T[j,m] = p_j [ r1_m + ((r2+r2ᵀ)·T[j])_m + three c3 contractions ]
      ∂L/∂p_j    = (T·r1)_j + r2:T[j]⊗T[j] + r3:T[j]⊗T[j]⊗T[j]
    then the standard softmax Jacobian maps dT→da and dp→db. Verified
    against central differences in tests (test_hoc analytic-vs-FD)."""
    t = _softmax(a, axis=1)
    p = _softmax(b)
    pt = p[:, None] * t
    c1_ana = pt.sum(axis=0)
    c2_ana = np.einsum("ji,jk->ik", pt, t)
    c3_ana = np.einsum("ji,jk,jl->ikl", pt, t, t)
    r1 = 2.0 * (c1_ana - c1)
    r2 = 2.0 * (c2_ana - c2)
    r3 = 2.0 * (c3_ana - c3)
    loss = float(
        ((c1 - c1_ana) ** 2).sum()
        + ((c2 - c2_ana) ** 2).sum()
        + ((c3 - c3_ana) ** 2).sum()
    )
    # dL/dT — one [j,m] array across all rows j at once
    r2s = r2 + r2.T
    g_t = p[:, None] * (
        r1[None, :]
        + t @ r2s
        + np.einsum("mkl,jk,jl->jm", r3, t, t)
        + np.einsum("iml,ji,jl->jm", r3, t, t)
        + np.einsum("ikm,ji,jk->jm", r3, t, t)
    )
    # dL/dp
    g_p = (
        t @ r1
        + np.einsum("ik,ji,jk->j", r2, t, t)
        + np.einsum("ikl,ji,jk,jl->j", r3, t, t, t)
    )
    # softmax Jacobian: dL/dz = s * (g - <g, s>) per softmax group
    g_a = t * (g_t - (g_t * t).sum(axis=1, keepdims=True))
    g_b = p * (g_p - float(g_p @ p))
    return loss, g_a, g_b


def solve_t(
    c1: np.ndarray,
    c2: np.ndarray,
    c3: np.ndarray,
    cfg: HocConfig | None = None,
) -> HocResult:
    """Driver-side Adam on softmax-parameterized (T, p) with analytic
    gradients (_loss_and_grads — one backprop per step vs the 84
    central-difference forwards of earlier rounds; this sits in the
    fixed driver-cost term of every pipeline run, so it is a scaling
    lever, not just a math nicety).
    Reference analog: hoc.py:93-148 (Adam lr 0.1, ~1500 steps,
    init T = strong diagonal)."""
    cfg = cfg or HocConfig()
    k = NUM_CLASSES
    a = np.eye(k) * 4.0                       # diagonal-dominant init
    b = np.log(np.maximum(c1, 1e-6))          # noisy marginal as prior init
    params = [a, b]
    m_t = [np.zeros_like(a), np.zeros_like(b)]
    v_t = [np.zeros_like(a), np.zeros_like(b)]
    beta1, beta2, eps = 0.9, 0.999, 1e-8
    for step in range(1, cfg.adam_steps + 1):
        _, g_a, g_b = _loss_and_grads(params[0], params[1], c1, c2, c3)
        grads = [g_a, g_b]
        for pi in range(2):
            m_t[pi] = beta1 * m_t[pi] + (1 - beta1) * grads[pi]
            v_t[pi] = beta2 * v_t[pi] + (1 - beta2) * grads[pi] ** 2
            mhat = m_t[pi] / (1 - beta1**step)
            vhat = v_t[pi] / (1 - beta2**step)
            params[pi] -= cfg.adam_lr * mhat / (np.sqrt(vhat) + eps)
    t = _softmax(params[0], axis=1)
    p = _softmax(params[1])
    return HocResult(
        T=t, p_clean=p, p_noisy=c1.copy(),
        loss=_forward_loss(params[0], params[1], c1, c2, c3),
    )


def t_given_noisy(res: HocResult) -> np.ndarray:
    """Posterior P(clean=j | noisy=i) ∝ T[j,i]·p_clean[j] — the
    reference's `T_given_noisy` (docta/apis/detect.py:51). Row i sums
    to 1; diag gives per-observed-class purity (1 − noise rate)."""
    post = res.T.T * res.p_clean[None, :]
    s = post.sum(axis=1, keepdims=True)
    return post / np.maximum(s, 1e-12)


def estimate_t(
    spark: SparkSession,
    emb: np.ndarray,
    labels: np.ndarray,
    cfg: HocConfig | None = None,
) -> HocResult:
    """End-to-end: distributed consensus counts -> driver solve."""
    cfg = cfg or HocConfig()
    rows = consensus_counts(spark, emb, labels, cfg).collect()
    c1, c2, c3 = counts_to_tensors(rows)
    return solve_t(c1, c2, c3, cfg)
