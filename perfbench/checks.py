"""Correctness checks, run outside the timed region.

Each check compares an output of the program with an independent model —
the generator's Python model, DuckDB running the catalog's oracle SQL, or
NumPy — and records a failure instead of raising, so that failures count
against the number attempted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Checks:
    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{name}: {error}")

    def equal(self, name: str, got, want) -> None:
        self.record(name, None if got == want else f"got {got!r}, want {want!r}")


def day_sums_error(got: dict[str, float], want: dict[str, float]) -> str | None:
    """Per-day credit sums must match exactly: every generated credit is a
    multiple of 1/8, so any summation order gives the same double."""
    if got == want:
        return None
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{len(bad)} day sums differ, first {bad[0]!r}: got {got.get(bad[0])}, want {want.get(bad[0])}"


def frames_error(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """The repository's oracle comparison (tests/oracle.py): row count,
    column names, then values order-insensitively."""
    from tests.oracle import _canonical

    if len(actual) != len(expected):
        return f"row count: spark={len(actual)} oracle={len(expected)}"
    a_cols = sorted(c.lower() for c in actual.columns)
    e_cols = sorted(c.lower() for c in expected.columns)
    if a_cols != e_cols:
        return f"columns: spark={a_cols} oracle={e_cols}"
    try:
        pd.testing.assert_frame_equal(
            _canonical(actual), _canonical(expected),
            check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9,
        )
    except AssertionError as exc:
        return str(exc).splitlines()[0]
    return None


def planted_recall(pairs: pd.DataFrame, planted: list[tuple[int, int]]) -> float:
    """Share of planted (original, copy) pairs reported as near duplicates."""
    if not planted:
        return 1.0
    found = {(min(a, b), max(a, b)) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
    return sum((min(a, b), max(a, b)) in found for a, b in planted) / len(planted)


def exact_topk(vecs: np.ndarray, query_ids: np.ndarray, k: int) -> dict[int, set[int]]:
    """Exact k nearest neighbours by Euclidean distance (ties by id)."""
    q = vecs[query_ids].astype(np.float64)
    v = vecs.astype(np.float64)
    d = (q * q).sum(1)[:, None] - 2 * q @ v.T + (v * v).sum(1)[None, :]
    order = np.lexsort((np.broadcast_to(np.arange(len(v)), d.shape), d), axis=1)
    return {int(qid): set(order[i, :k].tolist()) for i, qid in enumerate(query_ids)}


def recall_at_k(result: pd.DataFrame, exact: dict[int, set[int]], k: int) -> float:
    """Share of the exact top-k neighbours the approximate query returned."""
    got: dict[int, set[int]] = {}
    for qid, cid in zip(result["query_id"], result["candidate_id"]):
        got.setdefault(int(qid), set()).add(int(cid))
    hits = sum(len(got.get(q, set()) & nn) for q, nn in exact.items())
    return hits / (k * len(exact)) if exact else 1.0
