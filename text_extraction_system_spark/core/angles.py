"""Rotation / deskew angle math (SURVEY.md A2-A6, C1).

Re-derived from the reference's behavioral contract (not a code port):

* ``norm_angle``          — map to [-180, 180) (``ocr/rotation_detection.py:129-134``)
* ``normalize_angle_90``  — inscribe into [-45, 45] preserving sign semantics
                            (``data_extract/data_extract.py:365-374``; goldens
                            ``test_data_extract.py:154-161``)
* ``snap_rotation``       — zero the angle when too far from a right angle
                            (``determine_rotation``, ``rotation_detection.py:150-162``)
* ``weighted_trimmed_mean`` — weighted average with q-share trimmed from each
  tail. The reference walks cumulative weight shares and clips partial
  overlaps (``WeightedAverage.get_weighted_avg``, ``rotation_detection.py:165-230``);
  here the same result comes from a closed-form interval intersection:
  each value's share interval [cum_prev, cum] is clipped to [q, 1-q] and the
  clipped mass renormalized by (1-2q). Goldens: 9.9 / 5.5 / 5.991
  (``ocr/tests/test_rotation_detection.py:11-47``).

Everything is numpy-vectorizable and is reused inside the deskew kernel
and the SQL oracle twins.
"""

from __future__ import annotations

import math

import numpy as np


def half_up_right_angles(a: float) -> float:
    """Number of right angles nearest to ``a/90``, ties toward +inf
    (``floor(x + 0.5)``). Python's ``round`` is banker's rounding, which
    diverges from the SQL twins at exact odd multiples of 45 — all three
    implementations (python core, Spark columns, DuckDB oracle) share this
    half-up convention instead."""
    return math.floor(a / 90.0 + 0.5)


def norm_angle(angle_degrees: float) -> float:
    """Normalize to [-180, 180)."""
    a = angle_degrees % 360.0
    return a if a < 180.0 else a - 360.0


def normalize_angle_90(angle: float) -> float:
    """Inscribe into [-45, 45]: |a| > 45 folds across the nearest right angle,
    keeping the original sign convention of the reference."""
    sign = -1.0 if angle < 0 else 1.0
    a = abs(angle)
    if a > 45.0:
        a = a - 90.0
    return sign * a


def snap_rotation(angle: float, max_diff_from_closest_90: float = 10.0) -> float:
    """Reject a detected angle that is further than the threshold from every
    multiple of 90 (the detector 'went crazy'); otherwise keep it."""
    a = norm_angle(angle)
    if abs(a - 90.0 * half_up_right_angles(a)) > max_diff_from_closest_90:
        return 0.0
    return a


def weighted_trimmed_mean(
    values: "np.ndarray | list[float]",
    weights: "np.ndarray | list[float]",
    tails_skip_quantile: float = 0.0,
) -> float:
    """Weighted mean of ``values`` with ``tails_skip_quantile`` of total
    weight share removed from each end of the value-sorted distribution."""
    v = np.asarray(values, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    if v.size == 0:
        return 0.0
    tot = w.sum()
    if tot == 0:
        return 0.0
    shares = w / tot
    q = tails_skip_quantile
    if not q or v.size < 3:
        return float((v * shares).sum())
    order = np.argsort(v, kind="stable")
    v, shares = v[order], shares[order]
    cum = np.cumsum(shares)
    lo = np.concatenate(([0.0], cum[:-1]))
    clipped = np.clip(np.minimum(cum, 1.0 - q) - np.maximum(lo, q), 0.0, None)
    return float((v * clipped).sum() / (1.0 - 2.0 * q))


def cluster_angles(
    angle_counts: dict[float, int], merge_within: float = 3.0
) -> list[tuple[float, int]]:
    """Merge angle histogram bins closer than ``merge_within`` degrees into
    clusters (weighted-mean representative), largest count first.

    Reference analog: the per-page char-angle histogram cleanup
    (``PDFToTextWithCoordinates.java:300-335`` ``cleanupAngles``)."""
    if not angle_counts:
        return []
    items = sorted(angle_counts.items())
    clusters: list[list[float]] = []  # [sum_w*v, sum_w, last_angle]
    for a, c in items:
        if clusters and a - clusters[-1][2] < merge_within:
            clusters[-1][0] += a * c
            clusters[-1][1] += c
            clusters[-1][2] = a
        else:
            clusters.append([a * c, c, a])
    out = [(s / w, int(w)) for s, w, _ in clusters]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out
