"""Mergeable per-chunk quantile grids for table-level quantiles.

The reference's statistics carry min/max only
(reference/src/statistics/mod.rs:20-26); planning a 10^12-document
encode needs more: ``repartitionByRange`` split points, skew detection,
and salting thresholds all want table-level quantiles of the key column
WITHOUT a sampling scan. Each chunk stores a K-cell quantile grid —
K+1 order statistics of the chunk's non-null values, in zone-map units
(micros/days for temporal) — ~1 KB of metadata per chunk. Grids merge
by weighted rank interpolation: grid point ``i`` of a chunk with ``n``
values is credited with ``i*n/K`` values at or below it. The point is
stored at sorted index ``round(i*(n-1)/K)``, so at least ``i*n/K - ½``
values lie at or below it and at most ``i*n/K + ½`` lie below it: each
chunk adds at most one cell (``n/K``) plus ½ value of rank error, i.e.
≤ ``N/K + m/2`` values over ``m`` chunks (≤0.8% + ½ value per chunk at
the default K=128).

Merging is associative and deterministic (pure order statistics, no
random bits), so the same two-stage Spark shape as the HLL NDV merge
applies: per-batch partial summaries bounded to ``PARTIAL_POINTS``
points, then one grouped final — a million-chunk column never ships a
million grids to one task.
"""

from __future__ import annotations

import base64

import numpy as np

K = 128  # cells per chunk grid (K+1 stored points)
PARTIAL_POINTS = 1025  # bound on intermediate summary size
# string/binary grid points are order statistics over byte PREFIXES of
# this length — the reference's ByteIndex stores truncated min/max the
# same way (reference/src/indexes/index.rs): truncation keeps the
# metadata bounded (~24 B × 129 points per chunk) while preserving
# lexicographic order, so truncated prefixes merge exactly like numeric
# points. A split point that is a truncated prefix is still a valid
# comparison bound; only its rank blurs by the mass of values sharing
# the full prefix.
BYTES_PREFIX = 24


def grid_from_values(v: np.ndarray, k: int = K) -> dict | None:
    """``{"n": count, "g": [K+1 order statistics]}`` at ranks
    ``round(i*(n-1)/k)`` of the sorted non-null, non-NaN values (numeric
    dtype, zone-map units). The eligible-value count travels WITH the
    grid: a float chunk's NaNs are neither null (so ``n_rows -
    null_count`` over-weights the chunk) nor orderable (``np.sort``
    would put them at the top and poison the upper grid points) — they
    are excluded here and the true weight recorded. A chunk with no
    eligible values (all-null, or all-NaN floats) returns the explicit
    empty grid ``{"n": 0, "g": []}`` — distinct from "no grid stored",
    so the decode-side coverage guard never misreads it as a gap."""
    if np.issubdtype(v.dtype, np.floating):
        v = v[~np.isnan(v)]
    n = len(v)
    if n == 0:
        return {"n": 0, "g": []}
    v = np.sort(v)
    idx = np.round(np.linspace(0, n - 1, k + 1)).astype(np.int64)
    g = v[idx]
    if np.issubdtype(g.dtype, np.integer):
        return {"n": int(n), "g": [int(x) for x in g]}
    return {"n": int(n), "g": [float(x) for x in g]}


def grid_from_bytes(v: np.ndarray, k: int = K) -> dict:
    """Byte-prefix grid for a string/binary chunk: ``v`` is a numpy
    fixed-width bytes array (``S<=BYTES_PREFIX``, values already
    truncated). numpy's S-dtype sort is true byte-lexicographic
    (verified: matches Python ``bytes`` ordering including embedded
    NULs), and extraction strips trailing NUL padding — a stripped point
    compares ``<=`` its padded form, so ranks stay conservative. Points
    serialize as base64 strings (``"t": "b"`` marks the grid) because
    raw bytes are not JSON."""
    n = len(v)
    if n == 0:
        return {"n": 0, "g": [], "t": "b"}
    v = np.sort(v)
    idx = np.round(np.linspace(0, n - 1, k + 1)).astype(np.int64)
    return {
        "n": int(n),
        "g": [base64.b64encode(x).decode() for x in v[idx]],
        "t": "b",
    }


def _norm(grids: list, weights: list | None) -> list[tuple[list, float]]:
    """Normalize entries to (point-list, weight): dict grids
    (``{"n", "g"}``) carry their own weight; plain lists take it from
    ``weights`` (partial summaries)."""
    out = []
    for i, g in enumerate(grids):
        if g is None:
            continue
        if isinstance(g, dict):
            out.append((g["g"], float(g["n"])))
        else:
            out.append((g, float(weights[i])))
    return out


def _points(grids: list, weights: list | None) -> tuple[np.ndarray, np.ndarray]:
    """Flatten grids into (values, per-point rank weights).

    Point 0 of a grid anchors the minimum with weight 0; each later
    point carries ``n/k`` — the mass of the cell it closes. Values stay
    int64 when EVERY grid is integral: a float64 round-trip would
    corrupt keys beyond 2^53 (hash-like 64-bit ids), silently moving
    split points."""
    entries = _norm(grids, weights)
    # byte grids carry base64-string points (grid_from_bytes / a byte
    # summary round-trip) — decode to fixed-width bytes and sort with
    # the same rank algebra; numeric grids keep the int64/float64 rule
    is_bytes = any(
        isinstance(x, (str, bytes)) for g, _ in entries for x in g[:1]
    )
    if is_bytes:
        vdtype = f"S{BYTES_PREFIX}"
    else:
        all_int = all(
            isinstance(x, (int, np.integer)) for g, _ in entries for x in g[:1]
        )
        vdtype = np.int64 if all_int else np.float64
    vals, wts = [], []
    for g, n in entries:
        if n == 0:
            continue
        if is_bytes:
            g = [
                base64.b64decode(x) if isinstance(x, str) else bytes(x)
                for x in g
            ]
        g = np.asarray(g, dtype=vdtype)
        k = len(g) - 1
        if k <= 0:
            vals.append(g)
            wts.append(np.asarray([float(n)]))
            continue
        w = np.full(len(g), n / k, dtype=np.float64)
        w[0] = 0.0
        vals.append(g)
        wts.append(w)
    if not vals:
        return np.empty(0), np.empty(0)
    v = np.concatenate(vals)
    w = np.concatenate(wts)
    order = np.argsort(v, kind="stable")
    return v[order], w[order]


def merge_to_summary(grids: list, weights: list | None = None, points: int = PARTIAL_POINTS) -> tuple[list, int]:
    """Collapse many grids into ONE bounded summary grid of at most
    ``points`` order statistics plus the total weight — the partial
    step of the distributed merge (output is itself a valid grid)."""
    v, w = _points(grids, weights)
    total = float(w.sum())
    if len(v) == 0 or total == 0:
        return [], 0
    cum = np.cumsum(w)
    # target ranks 0..total over `points` stations; searchsorted picks the
    # first summary value whose cumulative mass reaches the station
    targets = np.linspace(0, total, points)
    pos = np.searchsorted(cum, targets, side="left")
    pos = np.clip(pos, 0, len(v) - 1)
    g = v[pos]
    if g.dtype.kind == "S":
        # byte summary: re-serialize as base64 so the partial stays JSON
        return [base64.b64encode(x).decode() for x in g], int(round(total))
    return [x.item() for x in g], int(round(total))


def cdf(grids: list, weights: list | None, xs: list) -> list[float]:
    """Estimated CDF positions — the fraction of rows with value ≤ x —
    for each x (zone-map units; ``bytes`` for byte grids). The inverse
    of ``estimate``: where estimate maps rank→value, this maps
    value→rank, which is what bucket-weight prediction needs (mass of
    bucket (lo, hi] = cdf(hi) − cdf(lo)). Same rank algebra and error
    bound (≤ n/K + ½ value per grid) as estimate."""
    v, w = _points(grids, weights)
    if len(v) == 0:
        return [float("nan")] * len(xs)
    cum = np.cumsum(w)
    total = cum[-1]
    if total == 0:
        return [float("nan")] * len(xs)
    out = []
    for x in xs:
        if v.dtype.kind == "S":
            x = np.asarray([bytes(x)[:BYTES_PREFIX]], dtype=v.dtype)[0]
        i = int(np.searchsorted(v, x, side="right"))
        out.append(float(cum[i - 1] / total) if i > 0 else 0.0)
    return out


def estimate(grids: list, weights: list | None, qs: list[float]) -> list:
    """Quantile estimates at fractions ``qs``; ``grids`` are dict grids
    (self-weighted) or plain summary lists weighted by ``weights``.
    Numeric grids yield int/float estimates; byte grids (``"t": "b"``)
    yield ``bytes`` prefixes of at most ``BYTES_PREFIX`` bytes."""
    v, w = _points(grids, weights)
    if len(v) == 0:
        return [float("nan")] * len(qs)
    cum = np.cumsum(w)
    total = cum[-1]
    out = []
    for q in qs:
        target = min(max(q, 0.0), 1.0) * total
        i = int(np.searchsorted(cum, target, side="left"))
        i = min(i, len(v) - 1)
        out.append(v[i].item())
    return out
