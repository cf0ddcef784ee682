"""Scale-adaptive scan widening for compute-heavy operators.

A small parquet input (one file, one row group) plans as a single scan
partition no matter what the split configs say — a row group is the
finest splittable unit — so a per-row-expensive operator (shingling + K
minhashes, regex token statistics, vector math) runs single-core while
the other N-1 cores idle (guide §2.5 "input skew": one huge unsplittable
file ⇒ repartition immediately after the read).

:func:`spread_input` widens ONLY when the input's planned partition
count is below the session's parallelism — at cluster scale, where the
input already has hundreds of partitions, it is the identity and adds no
exchange. The round-robin repartition moves the raw rows once; for the
operators wired to this (dedup signatures, textstats, brute-force
similarity) per-row compute dominates the row bytes by orders of
magnitude, so the one extra small shuffle buys near-linear speedup of
the scan stage.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def spread_input(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism when it
    plans fewer partitions — identity otherwise. Row values are
    unaffected; only use where downstream results are independent of
    partitioning (every caller here aggregates or projects per row).
    When Spark cannot plan the partition count, ``df`` is returned
    unchanged with a warning."""
    try:
        target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except (Py4JError, PySparkException) as e:
        log.warning("input partition count unknown, scan not widened: %s", e)
        return df
    if n >= target or target <= 1:
        return df
    return df.repartition(target)
