"""Pure helpers: latency summaries, result checks, storage accounting."""

from __future__ import annotations

import math
import os


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q``-quantile among ``n`` samples."""
    return min(n, max(1, math.ceil(round(q * n, 9))))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``xs``."""
    return sorted(xs)[_rank(len(xs), q) - 1]


def tail_percentile(n: int, candidates=(0.99, 0.95, 0.9)) -> float | None:
    """The highest candidate percentile that leaves at least ten samples
    beyond it among ``n``, or None when even p90 would not."""
    for q in candidates:
        if n - _rank(n, q) >= 10:
            return q
    return None


def kept_passes(steal_shares: list[float], limit: float) -> set[int]:
    """Indices of the passes during which the host took at most ``limit``
    of the CPUs' time; the least disturbed pass when none stayed under it."""
    if not steal_shares:
        return set()
    limit = max(limit, min(steal_shares))
    return {i for i, share in enumerate(steal_shares) if share <= limit}


# ---------------------------------------------------------------------------
# Result checks
# ---------------------------------------------------------------------------

def check_result(got_cols, got_rows, want_cols, want_rows, canon) -> str | None:
    """None when the results match under ``canon`` (the engine's oracle
    comparison: columns by name, rows by value), else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    a, b = canon(got_rows, list(got_cols)), canon(want_rows, list(want_cols))
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad}/{len(a)} rows differ" if bad else None


def count_failed(records, failed_kinds) -> int:
    """Ops that raised, plus every op of a kind whose result did not check."""
    return sum(1 for kind, _, ok, _ in records if not ok or kind in failed_kinds)


# ---------------------------------------------------------------------------
# Storage accounting for versioned tables
# ---------------------------------------------------------------------------

def file_sizes(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed between listings."""
    new = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p] for p in new), len(new)


def snapshot_bytes(sizes: dict[str, int], dirs: list[str]) -> int:
    """Bytes of the data files under the snapshot's directories."""
    prefixes = tuple(d.rstrip("/") + "/" for d in dirs)
    return sum(s for p, s in sizes.items() if p.startswith(prefixes))


def space_amp(sizes: dict[str, int], dirs: list[str]) -> float:
    """Bytes on disk for the whole table over bytes of its current snapshot."""
    return sum(sizes.values()) / max(snapshot_bytes(sizes, dirs), 1)
