"""The workloads: what one set-up and one op do, and how an op's output
is checked.

An op is one unit a client waits for. A training job is one op: a
full-batch ``fit``, a minibatch ``fit`` at fraction 0.2, then ``predict``
over every row. ``train_distributed`` runs training jobs on 400k rows.
``query_mix`` runs passes of nine ops: eight registry queries, each
collected to the driver, and one training job on 100k rows
(``train_replay``).
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import data

#: steps of the full-batch and of the minibatch fit. Unequal on purpose:
#: when the two kinds of step differ in cost, the median step stays
#: inside the full-batch group instead of between the two groups
FULL_STEPS = 8
MINIBATCH_STEPS = 4
#: steps of each fit of the warm-up's reference job. Under the cap, four
#: is the fewest at which a fit replays on the driver, as the ops' fits
#: do; over it every step is a Spark job, and two steps check the same path
REPLAY_REFERENCE_STEPS = 4
DISTRIBUTED_REFERENCE_STEPS = 2
REPLAY_ROWS = 100_000
DISTRIBUTED_ROWS = 400_000
MINIBATCH_FRACTION = 0.2
LEARNING_RATE = 0.02

#: one pass of the query mix, in order. The LSH dedup goes first and
#: takes the warm-up that is left, so the fit and step latencies do not;
#: the training job goes last, when its fetch finds the Python workers
#: warm. The order is fixed: a run makes one pass, and in a pass
#: permuted by the seed whichever op ran first absorbed the leftover
#: warm-up, which moved the per-op latencies by up to 20% between seeds.
MIX = [
    "dedup_minhash_lsh",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "q18_large_orders",
    "sessionize_events",
    "density_poisson",
    "streaming_asof_purchase",
    "streaming_vi_training",
    "train_replay",
]
#: ops that are one training job; fit and step latencies come from these
TRAINING_OPS = ("train", "train_replay")


def _improves(history) -> bool:
    """The ELBO (the objective fit maximises) rises from the first steps
    to the last ones."""
    k = max(1, len(history) // 2)
    return float(np.mean(history[-k:])) > float(np.mean(history[:k]))


class Train:
    """One training job per op on a seeded (x, y) frame of ``rows`` rows,
    split into one partition per core. The warm-up's reference job fits
    ``reference_steps`` steps per fit."""

    block = 1

    def __init__(self, spark, seed: int, rows: int, partitions: int, reference_steps: int):
        self.spark, self.seed, self.rows, self.parts = spark, seed, rows, partitions
        self.reference_steps = reference_steps
        self.df = None
        self.reference = None

    def setup(self):
        """Build the input frame from the seed and cache it. The frame a
        previous set-up cached is dropped first, and waited for, so that
        no set-up overlaps the clean-up of the one before."""
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = data.train_frame(self.spark, self.seed, self.rows, self.parts).persist()
        self.df.count()

    def _fits(self, steps: tuple) -> tuple:
        """A full-batch fit, then a minibatch fit, with the given step
        counts. Returns (loss histories, fit walls, full-batch model)."""
        import henbun_spark as hb
        from henbun_spark.spark_exec import SparkTrainer

        from perfbench.amortized import AmortizedVI

        histories, walls = [], []
        for fraction, n in zip((None, MINIBATCH_FRACTION), steps):
            tr = SparkTrainer(
                AmortizedVI(), self.df, optimizer=hb.Adam(learning_rate=LEARNING_RATE)
            )
            t0 = time.perf_counter()
            tr.fit(maxiter=n, minibatch_fraction=fraction)
            walls.append(time.perf_counter() - t0)
            histories.append(list(tr.history))
            if fraction is None:
                model = tr.model
        return histories, walls, model

    def warm_up(self):
        """A shorter training job (no predict), which starts the Python
        workers. Its loss histories are the reference every op's fits
        must start with, bit for bit."""
        self.reference, _, _ = self._fits((self.reference_steps,) * 2)

    def op_name(self, k: int) -> str:
        return "train"

    def run(self, name: str) -> dict:
        from henbun_spark.spark_exec import predict

        histories, walls, model = self._fits((FULL_STEPS, MINIBATCH_STEPS))
        out = {"histories": histories, "fit_walls": walls}
        t0 = time.perf_counter()
        row = predict(model, self.df, "posterior", "z_mean double").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.isnan("z_mean") & F.col("z_mean").isNotNull()).cast("long"))
            .alias("n_finite"),
        ).collect()[0]
        out["predict_s"] = time.perf_counter() - t0
        out["predict_rows"] = int(row["n"])
        out["predict_finite"] = int(row["n_finite"] or 0)
        return out

    def check(self, name: str, out: dict) -> list:
        problems = []
        for label, steps, h in zip(
            ("full", "minibatch"), (FULL_STEPS, MINIBATCH_STEPS), out["histories"]
        ):
            if len(h) != steps or not np.all(np.isfinite(h)):
                problems.append(f"{label} fit history {h}")
            elif not _improves(h):
                problems.append(f"{label} fit ELBO did not improve: {h}")
        if out["predict_rows"] != self.rows or out["predict_finite"] != self.rows:
            problems.append(
                f"predict gave {out['predict_rows']} rows, "
                f"{out['predict_finite']} finite, for {self.rows} inputs"
            )
        # same seed, same input, deterministic init: every job must retrace
        # the warm-up's reference job bit for bit over its steps
        for label, h, ref in zip(("full", "minibatch"), out["histories"], self.reference):
            if h[: len(ref)] != ref:
                problems.append(f"{label} fit loss history differs from the reference job")
        return problems


class QueryMix:
    """Eight registry queries over the sf0.01 test tables, checked against
    their DuckDB oracle SQL, plus one driver-replay training job (op
    ``train_replay``) on a seeded 100k-row frame, which is under
    ``LOCAL_ROWS_CAP``."""

    block = len(MIX)

    def __init__(self, spark, seed: int, partitions: int):
        import __spark_entry__ as entry

        self.spark, self.dir = spark, data.TABLES
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.train = Train(spark, seed, REPLAY_ROWS, partitions, REPLAY_REFERENCE_STEPS)
        self._expected = {}

    def setup(self):
        """Build the training frame. The query tables are fixed files that
        each query opens itself."""
        self.train.setup()

    def warm_up(self):
        """One query forced to a no-op sink, which compiles the codegen
        stages and starts the Arrow-UDF Python workers, then the training
        warm-up with its reference job."""
        self.queries["density_poisson"](self.spark, self.dir).write.format(
            "noop"
        ).mode("overwrite").save()
        self.train.warm_up()

    def op_name(self, k: int) -> str:
        return MIX[k % self.block]

    def run(self, name: str):
        from henbun_spark.operators import relational

        if name == "train_replay":
            return self.train.run(name)
        got = self.queries[name](self.spark, self.dir).toPandas()
        # the query's derived frames were just materialised
        relational.release_scaffold_caches()
        return got

    def check(self, name: str, got) -> list:
        if name == "train_replay":
            return self.train.check(name, got)
        if name not in self._expected:
            import duckdb

            con = duckdb.connect()
            for f in sorted(os.listdir(self.dir)):
                path = os.path.join(self.dir, f)
                con.sql(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{path}'")
            self._expected[name] = con.sql(self.oracle_sql[name]).df()
            con.close()
        # the oracle checker puts its own repo path first on import; keep
        # this checkout's modules in front
        saved = list(sys.path)
        from tools.check_oracle import compare

        sys.path[:] = saved
        return compare(name, got, self._expected[name])
