"""Output checks. Each returns None when the engine's answer is right
and a one-line reason when it is wrong; a wrong answer counts as a
failed operation."""

from __future__ import annotations

REL_TOL = 1e-4


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_exact_topk(got: list[tuple[int, float]], expected: list[tuple[int, float]],
                     truth: dict[int, float]) -> str | None:
    """`got` must be the exact top-k: same length, every score the true
    distance of its id, ascending by (score, id), and every id strictly
    inside the k-th distance present. Ids tied with the k-th distance
    (within tolerance) may stand in for one another."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    if not got:
        return None
    for i, s in got:
        if i not in truth:
            return f"id {i} is not a live doc of the requested users"
        if not _close(s, truth[i]):
            return f"id {i} scored {s}, true distance {truth[i]}"
    for (i0, s0), (i1, s1) in zip(got, got[1:]):
        if s1 < s0 and not _close(s0, s1):
            return f"scores out of order at id {i1}"
    kth = expected[-1][1]
    ids = {i for i, _ in got}
    for i, s in expected:
        if i not in ids and not _close(s, kth):
            return f"missed id {i} at distance {s} (k-th {kth})"
    for i, s in got:
        if s > kth and not _close(s, kth):
            return f"id {i} at distance {s} beyond the k-th {kth}"
    return None


def check_approx(got: list[tuple[int, float]], k: int, truth: dict[int, float],
                 allowed: set[int] | None = None) -> str | None:
    """An approximate top-k may miss neighbours but every row must be a
    live doc of the requested users (and of `allowed`, when given),
    scored with its true distance, ascending, at most k rows."""
    if len(got) > k:
        return f"{len(got)} rows for k={k}"
    for i, s in got:
        if i not in truth:
            return f"id {i} is not a live doc of the requested users"
        if allowed is not None and i not in allowed:
            return f"id {i} is outside the pre-filter"
        if not _close(s, truth[i]):
            return f"id {i} scored {s}, true distance {truth[i]}"
    if len({i for i, _ in got}) != len(got):
        return "duplicate ids"
    for (i0, s0), (i1, s1) in zip(got, got[1:]):
        if s1 < s0 and not _close(s0, s1):
            return f"scores out of order at id {i1}"
    return None


def check_ids(got: list[int], expected: list[int]) -> str | None:
    if got == expected:
        return None
    extra = sorted(set(got) - set(expected))[:3]
    missing = sorted(set(expected) - set(got))[:3]
    return f"{len(got)} ids, expected {len(expected)} (extra {extra}, missing {missing})"


def check_dropped(dropped: set[int], expected: set[int]) -> str | None:
    """Exact dedup must drop exactly the planted copies."""
    if dropped == expected:
        return None
    kept = sorted(expected - dropped)[:3]
    wrong = sorted(dropped - expected)[:3]
    return f"kept planted duplicates {kept}, dropped originals {wrong}"


def recall(got_ids, exact_ids) -> float:
    exact = set(exact_ids)
    return len(exact & set(got_ids)) / len(exact) if exact else 1.0
