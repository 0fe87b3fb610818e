"""Benchmark inputs.

* ``TABLES``: the tables the query mix reads. They are byte copies of
  the sf0.01 test tables (TPC-H-ish star + ``events`` + ``documents``,
  generated with seed 42), the scale the repository's oracle checker
  uses. ``part`` and ``embeddings`` are left out: no query of the mix
  reads them.
* ``train_frame``: the seeded synthetic (x, y) frame the training jobs
  fit, generated in Spark from ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def train_frame(spark, seed: int, rows: int, partitions: int):
    """Seeded (x, y) frame for the amortized-encoder model, generated in
    Spark: x is an hour of day scaled to [0, 1), y an exponential value
    whose mean follows x. ``rand(seed)`` draws per partition from the seed
    and the partition index, so one seed and one partition count always
    give the same rows."""
    from pyspark.sql import functions as F

    x = F.floor(F.rand(2 * seed) * 24) / 24.0
    u = F.rand(2 * seed + 1)
    y = -F.log1p(-u) * 0.5 * (1.0 + 0.5 * F.sin(2 * np.pi * x))
    return spark.range(0, rows, 1, partitions).select(
        x.alias("x"), F.round(y, 4).alias("y")
    )
