"""Operation records and the statistics the benchmark reports over them."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

from tests.oracle import _norm_rows

# A tail percentile is only reported where at least this many samples lie
# beyond it (choosing-metrics rule: "the highest percentile that has at
# least ten samples beyond it").
TAIL_MIN_BEYOND = 10


@dataclass
class Op:
    """One timed operation: a query run, or one word-count pipeline run."""

    op_id: str
    name: str
    start: float
    end: float = 0.0
    input_bytes: int = 0
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


def tail(samples: list[float]) -> tuple[float, float]:
    """Return ``(value, percentile)`` at the highest percentile with at least
    ``TAIL_MIN_BEYOND`` samples above it.  The sample of rank ``k`` (1-based,
    ascending) has ``n - k`` samples above it, so ``k = n - 10`` and the
    percentile is ``100 k / n``.  A tail lies above the median: when that
    percentile would not (20 samples or fewer), the maximum is returned with
    percentile 100.  Every workload runs a fixed number of operations, so a
    workload reports the same percentile on every run."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    if n <= 2 * TAIL_MIN_BEYOND:
        return xs[-1], 100.0
    k = n - TAIL_MIN_BEYOND
    return xs[k - 1], 100.0 * k / n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def summarize(ops: list[Op], wall_s: float) -> dict:
    """End-to-end figures over one timed run of ``wall_s`` seconds.  Failed
    operations count as attempted and stay in the latency sample: a failure
    is never dropped."""
    lat = [op.latency for op in ops]
    tail_v, tail_p = tail(lat)
    failed = [op for op in ops if op.error]
    return {
        "ops": len(ops),
        "failed": len(failed),
        "failed_op_ratio": len(failed) / len(ops),
        "wall_s": wall_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "op_tail_pct": tail_p,
        "ops_per_s": len(ops) / wall_s,
        "input_mb_per_s": sum(op.input_bytes for op in ops) / 1e6 / wall_s,
        "errors": [f"{op.op_id} {op.name}: {op.error}" for op in failed],
    }


def normalize(rows, columns: list[str]) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, floats rounded, rows sorted: the repository's
    oracle comparison (``tests/oracle.py``)."""
    return tuple(sorted(columns)), _norm_rows(rows, columns, 6)


def diff(got: tuple[tuple[str, ...], list[tuple]], want: tuple[tuple[str, ...], list[tuple]]) -> str | None:
    """``None`` when the two normalised results agree, else the first
    difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {list(gc)} != oracle {list(wc)}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a!r} != oracle {b!r}"
    return None
