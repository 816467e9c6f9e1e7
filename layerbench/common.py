"""Result hashing, latency statistics and small filesystem helpers."""

from __future__ import annotations

import math
import os
import statistics

import pandas as pd

# percentiles op_tail_ms may start from, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_SAMPLES = 10


def frame_digest(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash). The
    hash is the repository's oracle-gate hash, ``tools.check_oracle.value_hash``."""
    from tools.check_oracle import value_hash

    return len(df), tuple(sorted(df.columns)), value_hash(df)


def tail_stats(latencies: list[float]) -> tuple[float | None, float | None, int]:
    """(percentile, mean of the samples above it, count above it): the
    highest percentile of TAIL_PERCENTILES with at least TAIL_MIN_SAMPLES
    samples strictly beyond it. (None, None, 0) when no percentile has
    enough samples."""
    xs = sorted(latencies)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n < 2:
            break
        # same interpolation as statistics.quantiles(method="inclusive")
        pos = (n - 1) * p / 100.0
        lo = int(math.floor(pos))
        cut = xs[lo] + (xs[min(lo + 1, n - 1)] - xs[lo]) * (pos - lo)
        beyond = [x for x in xs if x > cut]
        if len(beyond) >= TAIL_MIN_SAMPLES:
            return p, statistics.fmean(beyond), len(beyond)
    return None, None, 0


def scaled_latencies(latencies: list[float], probes: list[float], ref_s: float,
                     window: int = 5) -> list[float]:
    """Each latency at the reference host speed: times ``ref_s`` over the
    median of the ``window`` probe times around it. A probe is a fixed
    CPU-bound call timed just before its op, so the host's speed at that
    moment cancels out of the scaled latency."""
    half = window // 2
    out = []
    for i, latency in enumerate(latencies):
        near = probes[max(0, i - half): i + half + 1]
        out.append(latency * ref_s / statistics.median(near))
    return out


def tree_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for name in names:
                try:
                    total += os.path.getsize(os.path.join(dirpath, name))
                except OSError:
                    pass
    return total
