"""Scorers: reference-compat TF-IDF and standard BM25 (SURVEY §2.5, §7.2.3).

Reference formula (compat mode), exactly:
    idf(t)   = ln((N + 1) / (df(t) + 1))          (SearchServiceImpl.java:133)
    score(p) = Σ_{t∈q ∧ t∈p} tf(p,t) · idf(t)     (OR semantics, :139-160)
    final score cast to float32 once per page      (:146)

Engine-default BM25 (k1=1.2, b=0.75):
    idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    tfnorm   = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    score(p) = Σ idf(t) · tfnorm

Both are pure column expressions — whole-stage-codegen'd, no Python.
Compat mode is BM25's k1→∞, b=0 limit with the reference idf.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def idf_compat(df_col: Column, n_docs: int) -> Column:
    """ln((N+1)/(df+1)) — 0-df terms get ln(N+1), never negative/NaN."""
    return F.log((F.lit(float(n_docs + 1))) / (df_col + F.lit(1.0)))


def idf_bm25(df_col: Column, n_docs: int) -> Column:
    """ln(1 + (N−df+0.5)/(df+0.5)) — Lucene-style, always positive."""
    n = F.lit(float(n_docs))
    return F.log(F.lit(1.0) + (n - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def idf_compat_py(df: int, n_docs: int) -> float:
    return math.log((n_docs + 1) / (df + 1))


def idf_bm25_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_weight_compat(tf_col: Column) -> Column:
    """Compat mode: raw tf (reference multiplies tf directly)."""
    return tf_col.cast("double")


def tf_weight_bm25(tf_col: Column, dl_col: Column, avgdl: float,
                   k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> Column:
    denom = tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col / F.lit(avgdl))
    return tf_col * F.lit(k1 + 1.0) / denom


def upper_bound_compat(max_tf: float, idf: float) -> float:
    """Block score upper bound for WAND pruning (compat): max_tf·idf."""
    return max_tf * idf


def upper_bound_bm25(max_tf: float, idf: float,
                     k1: float = K1_DEFAULT) -> float:
    """BM25 tfnorm is monotone in tf and ≤ (k1+1); with dl→minimal norm the
    bound max_tf·(k1+1)/(max_tf + k1·(1−b)) is safe for any dl ≥ 0 when we
    drop the dl term entirely (conservative)."""
    return idf * (max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - B_DEFAULT)))


# ---- the MaxScore/block-max top-k plan ----------------------------------
# One definition of the per-query plan that both top-k executors run:
# wand.wand_topk turns it into Column predicates, serving.serve_topk
# into numpy masks over block metadata.

EXHAUSTIVE_POSTINGS_BUDGET = 200_000  # Σ df at or below → one full decode
LOOKUP_MIN_DF = 100_000    # only stopword-scale terms are demoted to lookups
LOOKUP_CAND_CAP = 100_000  # collected-candidate bound; above → exhaustive


class BlockCut(NamedTuple):
    """Which blocks of one essential term pass 2 decodes: those whose
    per-block bound `column` is ≥ `min_bound`, plus NULL bounds when
    `keep_null` (a block with no stored bound is never pruned), minus
    the hot tier (tier 0) when `skip_hot` (t*'s seeds, already
    decoded)."""
    column: str
    min_bound: float
    keep_null: bool
    skip_hot: bool


class MaxScorePlan:
    """idf and UBmax per present term, t* = argmax UBmax, the
    demotion of stopword-scale terms to lookups, and each essential
    term's block threshold.

    stats: {term: (df, max_tf)} of the present query terms, in query
    order; meta: the store's meta.json (n_docs, avgdl, min_imp_basis).

    A block b of term t may be skipped iff UB(b) + Σ_{t'≠t} UBmax(t')
    < θ: for any doc e with true(e) ≥ θ and any block b ∋ e of term t,
    true(e) ≤ UB(b) + Σ_{t'≠t} UBmax(t'), so b survives."""

    def __init__(self, mode: str, stats: dict[str, tuple[int, int]],
                 meta: dict):
        n_docs = meta["n_docs"]
        self.mode = mode
        self.terms = list(stats)
        self.df = {t: int(df) for t, (df, _) in stats.items()}
        self.max_tf = {t: int(m) for t, (_, m) in stats.items()}
        if mode == "compat":
            self.idf = {t: idf_compat_py(self.df[t], n_docs)
                        for t in self.terms}
            self.ubmax = {t: upper_bound_compat(self.max_tf[t], self.idf[t])
                          for t in self.terms}
        else:
            self.idf = {t: idf_bm25_py(self.df[t], n_docs)
                        for t in self.terms}
            self.ubmax = {t: upper_bound_bm25(self.max_tf[t], self.idf[t])
                          for t in self.terms}
        self.t_star = max(self.terms, key=lambda t: self.ubmax[t])
        self.sum_df = sum(self.df.values())
        self.sum_ub = sum(self.ubmax.values())
        # every score is 0: pruning has nothing to prune on
        self.zero_bound = max(self.ubmax.values()) <= 0
        # bm25 prunes on the stored per-block impact bound max_imp (max
        # tf-norm over the block's (tf, dl) pairs — max_tf alone cannot
        # prune bm25 when tf correlates with dl). If avgdl drifted UP
        # since encode, stored bounds are scaled sound via min_imp_basis
        # (see codec).
        self.basis_corr = 1.0
        if mode != "compat":
            now = float(meta.get("avgdl", 0.0) or 0.0)
            mb = float(meta.get("min_imp_basis", now) or 0.0)
            if mb > 0 and now > mb:
                self.basis_corr = mb / now

    def demote(self, theta: float, lookup_min_df: int):
        """MaxScore demotion → (essential, non_essential, Σ UBmax of the
        non-essential). Stopword-scale terms (df > lookup_min_df) whose
        SUMMED upper bounds stay below θ never generate candidates — a
        doc containing only them cannot reach θ; their tf is looked up
        later for the candidates that can still win. t* is never
        demoted (θ is a seed partial ≤ UBmax(t*))."""
        non_ess: list[str] = []
        ne_sum = 0.0
        for t in sorted(self.terms, key=lambda x: self.ubmax[x]):
            if self.df[t] > lookup_min_df and ne_sum + self.ubmax[t] < theta:
                non_ess.append(t)
                ne_sum += self.ubmax[t]
        ess = [t for t in self.terms if t not in non_ess]
        return ess, non_ess, ne_sum

    def block_cut(self, t: str, theta: float) -> BlockCut:
        """Essential term t's pass-2 block filter at threshold θ."""
        lo = theta - (self.sum_ub - self.ubmax[t])
        if lo <= 0:
            thr = 0.0
        elif self.mode == "compat":
            # UB(b) = max_tf · idf_t; a zero-idf term contributes nothing
            thr = (lo / self.idf[t] if self.idf[t] > 0
                   else float(self.max_tf[t] + 1))
        else:
            # block survives iff idf·max_imp·(1/basis_corr) ≥ lo
            thr = (lo / self.idf[t]) * self.basis_corr
        compat = self.mode == "compat"
        return BlockCut("max_tf" if compat else "max_imp", float(thr),
                        not compat, t == self.t_star)
