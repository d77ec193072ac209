"""Correctness checks on the engine's outputs against exact answers.

Each check returns ``(ratio, ok)``: the observed error divided by the
bound it must stay under, and whether it does.  A failed check is a
failed operation of the run; no check is loosened to absorb a mismatch.

Bounds follow the engine's own tests:
- HLL: the standard error 1.04/sqrt(m) is a one-sigma figure, and a
  maximum over several groups exceeds one sigma by construction; the
  per-group checks of ``tests/test_spark_pipeline.py`` allow
  ``HLL_SIGMAS`` sigmas, and so does this benchmark.
- CMS: a point estimate never undercounts and overcounts by at most
  ``eps * N`` (``CMSConfig.eps``), the sketch's own guarantee.
- KLL: the rank error of each quantile stays within
  ``KLLConfig.rank_error``.
"""

from __future__ import annotations

import numpy as np

HLL_SIGMAS = 4.0


def hll_err_over_bound(est: dict, exact: dict, error_bound: float) -> tuple[float, bool]:
    """Max over groups of ``|est - exact| / exact``, divided by
    ``HLL_SIGMAS * error_bound``.  A group missing from ``est`` fails."""
    if set(est) != set(exact):
        return float("inf"), False
    worst = max(abs(est[g] - exact[g]) / exact[g] for g in exact)
    ratio = worst / (HLL_SIGMAS * error_bound)
    return ratio, ratio <= 1.0


def cms_err_over_bound(est: np.ndarray, exact: np.ndarray, eps: float,
                       n_total: int) -> tuple[float, bool]:
    """Max overcount of ``est`` over ``exact`` divided by ``eps * n_total``;
    any undercount fails the check."""
    est = np.asarray(est, dtype=np.int64)
    exact = np.asarray(exact, dtype=np.int64)
    over = est - exact
    ratio = float(over.max()) / (eps * n_total)
    return ratio, bool((over >= 0).all()) and ratio <= 1.0


def rank_error(sorted_exact: np.ndarray, qs: np.ndarray, est: np.ndarray) -> float:
    """Max over ``qs`` of the distance from ``q`` to the rank interval of
    its estimate.  With ties a value covers the ranks from the share of
    values below it to the share at or below it."""
    n = len(sorted_exact)
    lo = np.searchsorted(sorted_exact, est, side="left") / n
    hi = np.searchsorted(sorted_exact, est, side="right") / n
    dist = np.where(qs < lo, lo - qs, np.where(qs > hi, qs - hi, 0.0))
    return float(dist.max())


def kll_err_over_bound(sorted_exact: np.ndarray, qs: np.ndarray, est: np.ndarray,
                       bound: float) -> tuple[float, bool]:
    ratio = rank_error(sorted_exact, qs, est) / bound
    return ratio, ratio <= 1.0


def dedup_outcome(survivors: set, keep: set, exact_copies: set,
                  near_copies: set) -> dict:
    """Judge a dedup result: every doc in ``keep`` (unduplicated docs and
    the representatives of duplicate clusters) must survive, and no exact
    copy may.  Near copies are counted, not required: their removal is the
    recall of the LSH threshold."""
    return {
        "kept_ok": keep <= survivors,
        "exact_removed_ok": not (exact_copies & survivors),
        "near_removed": len(near_copies - survivors),
        "near_total": len(near_copies),
    }
