"""Small helpers of the benchmark: percentiles, precision/recall, an
order-insensitive digest of a Spark result and on-disk sizes."""

from __future__ import annotations

import math
import os


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (nearest rank) of ``values``, or None unless at
    least ten samples lie beyond it — a tail read from fewer samples is noise.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    rank = math.ceil(q / 100 * n)  # 1-based nearest rank
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    """Precision and recall of ``got`` against ``expected``; an empty side
    scores 1.0 only when both are empty."""
    hit = len(got & expected)
    precision = hit / len(got) if got else float(not expected)
    recall = hit / len(expected) if expected else float(not got)
    return precision, recall


def digest(df) -> tuple[int, int]:
    """(row count, sum of per-row xxhash64 mod 2**64) in one Spark action.
    The sum ignores row order, and hashing every column forces every column
    to be computed."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"] or 0) % (1 << 64)


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
