"""Proximal operator of the sorted-L1 (SLOPE / OWL) norm.

Semantics follow the reference implementation (``src/prox.h:8-56`` in
jolars/prague): given a non-increasing, non-negative ``lam`` the prox of
``J(x) = sum_j lam_j * |x|_(j)`` is computed by sorting ``|v|`` in
decreasing order, subtracting ``lam``, running a pool-adjacent-violators
(isotonic) pass to enforce a non-increasing solution, clamping at zero,
and restoring the original order and signs. This is the FastProxSL1
algorithm of Bogdan et al. (2015), "SLOPE — adaptive variable selection
via convex optimization".

The isotonic pass is vectorized: each round finds every adjacent pair of
blocks whose means violate the order and pools each maximal violating run
into one block at once (block sums via ``np.add.reduceat``). Pooling
adjacent violators reaches the same fit in whatever order the violators
merge, so this equals the reference's one-element-at-a-time stack pass up
to summation order. Typical inputs settle in a handful of rounds; crafted
staircases can need O(p) rounds, so after ``_MAX_ROUNDS`` the remaining
blocks finish with the stack pass (``_pava_stack``), which is also the
test reference.

This is deliberately a driver-side NumPy routine: the input is only ever
a p-vector (p coefficients), never an n-sized object, so at 100 TB scale
it stays O(p log p) on the driver while the data-sized work happens in
Spark aggregations.
"""

from __future__ import annotations

import numpy as np

# vectorized pooling rounds before the stack pass takes over; captured
# solver inputs need at most ~10, a staircase needs up to p
_MAX_ROUNDS = 64


def _pava_stack(sums: np.ndarray, counts: np.ndarray):
    """Stack-based PAVA for a non-increasing fit over weighted blocks
    (``sums[k]`` over ``counts[k]`` elements, in order). Returns the
    pooled ``(sums, counts)``."""
    nb = sums.size
    s_out = np.empty(nb, dtype=np.float64)
    c_out = np.empty(nb, dtype=np.float64)
    means = np.empty(nb, dtype=np.float64)
    k = 0
    for i in range(nb):
        s_out[k] = sums[i]
        c_out[k] = counts[i]
        means[k] = sums[i] / counts[i]
        while k > 0 and means[k - 1] <= means[k]:
            k -= 1
            s_out[k] += s_out[k + 1]
            c_out[k] += c_out[k + 1]
            means[k] = s_out[k] / c_out[k]
        k += 1
    return s_out[:k], c_out[:k]


def _nonincreasing_fit(z: np.ndarray) -> np.ndarray:
    """Least-squares non-increasing fit to ``z`` (isotonic regression)."""
    sums = z
    counts = np.ones(z.size)
    for _ in range(_MAX_ROUNDS):
        means = sums / counts
        viol = means[:-1] <= means[1:]
        if not viol.any():
            break
        # a block survives as a head unless it pools into its left
        # neighbour; a violating run has non-decreasing means, so pooling
        # it left to right keeps every step a violator merge
        heads = np.flatnonzero(np.concatenate(([True], ~viol)))
        sums = np.add.reduceat(sums, heads)
        counts = np.add.reduceat(counts, heads)
    else:
        sums, counts = _pava_stack(sums, counts)
    return np.repeat(sums / counts, counts.astype(np.intp))


def sorted_l1_prox(v: np.ndarray, lam: np.ndarray) -> np.ndarray:
    """Prox of the sorted-L1 norm evaluated at ``v`` with weights ``lam``.

    Parameters
    ----------
    v : array (will be flattened). The point at which to evaluate the prox.
    lam : non-increasing, non-negative array of the same flattened length.

    Returns
    -------
    Array with the same shape as ``v``.
    """
    v = np.asarray(v, dtype=np.float64)
    shape = v.shape
    x = v.ravel()
    lam = np.asarray(lam, dtype=np.float64).ravel()
    p = x.size
    if lam.size != p:
        raise ValueError(f"lam has length {lam.size}, expected {p}")
    if p == 0:
        return v.copy()

    ax = np.abs(x)
    order = np.argsort(-ax, kind="stable")
    out = np.empty(p, dtype=np.float64)
    out[order] = np.maximum(_nonincreasing_fit(ax[order] - lam), 0.0)
    return (out * np.sign(x)).reshape(shape)


def sorted_l1_norm(v: np.ndarray, lam: np.ndarray) -> float:
    """J(v) = sum_j lam_j |v|_(j) with |v| sorted in decreasing order."""
    av = np.sort(np.abs(np.ravel(v)))[::-1]
    return float(np.dot(av, np.ravel(lam)))
