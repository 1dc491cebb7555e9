"""Summary statistics used by the benchmark and its tests."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return float(xs[_rank(q, len(xs)) - 1])


def _rank(q: float, n: int) -> int:
    return max(1, math.ceil(q * n / 100.0))


def tail_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float:
    """The highest candidate percentile that leaves at least ten samples
    above it in a sample of ``n``; 50 when none does."""
    for q in candidates:
        if n - _rank(q, n) >= 10:
            return q
    return 50.0


def chunk_figures(lat_ms, done_at, elapsed: float, chunks: int = 10) -> list[dict]:
    """Split a closed loop's samples into ``chunks`` equal time windows by
    completion time; per window: rate (1/s), sample count, p50 and the
    tail percentile (``tail_percentile``) of its latencies in ms. The
    host's single-core speed drifts by ~20% over seconds, so the median of
    the windows' figures ignores a slow spell shorter than half the run."""
    edges = [elapsed * i / chunks for i in range(chunks + 1)]
    groups: list[list[float]] = [[] for _ in range(chunks)]
    for ms, t in zip(lat_ms, done_at):
        groups[min(chunks - 1, int(t / elapsed * chunks))].append(ms)
    out = []
    for g, lo, hi in zip(groups, edges, edges[1:]):
        if not g:
            continue
        out.append({
            "n": len(g),
            "rate": len(g) / (hi - lo),
            "p50_ms": percentile(g, 50),
            "tail_ms": percentile(g, tail_percentile(len(g))),
        })
    return out


class Outcomes:
    """Counts operations attempted, raised and answered wrongly."""

    def __init__(self) -> None:
        self.attempted = 0
        self.exceptions = 0
        self.wrong = 0
        self.notes: list[str] = []

    def record(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.wrong += 1
            if note and len(self.notes) < 20:
                self.notes.append(note)

    def raised(self, note: str) -> None:
        self.attempted += 1
        self.exceptions += 1
        if len(self.notes) < 20:
            self.notes.append(note)

    @property
    def failed(self) -> int:
        return self.exceptions + self.wrong

    def merge(self, other: dict) -> None:
        self.attempted += int(other["attempted"])
        self.exceptions += int(other["exceptions"])
        self.wrong += int(other["wrong"])
        self.notes.extend(other.get("notes", [])[: 20 - len(self.notes)])

    def as_dict(self) -> dict:
        return {
            "attempted": self.attempted,
            "exceptions": self.exceptions,
            "wrong": self.wrong,
            "notes": self.notes,
        }
