"""The amortized-encoder model both training workloads fit.

Same shape as the registry's ``vi_amortized_encoder`` query: a NeuralNet
encoder emits the per-row LOCAL ``Normal``, and one global ``dec`` shifts
the likelihood mean. It lives in its own module because SparkTrainer
ships model classes from non-library modules to the workers by value.
"""

from __future__ import annotations

import henbun_spark as hb
from henbun_spark import autodiff as ad
from henbun_spark import variationals
from henbun_spark.param import graph_key
from henbun_spark.spark_exec import ColumnData


class AmortizedVI(hb.Model):
    def setUp(self):
        self.xy = ColumnData(["x", "y"])
        self.enc = hb.nn.NeuralNet([2, 8, 2], neuron_types="relu", stddev=0.3)
        self.z = variationals.Normal([1], collections=graph_key.LOCAL)
        self.dec = hb.Variable([1], mean=0.0, stddev=0.1)

    def local_objective(self):
        self.z = self.enc(self.xy)
        y = self.xy[:, 1]
        lik = hb.densities.gaussian(y, self.z.reshape((-1,)) + self.dec, 0.1)
        return ad.sum(lik) - self.KL(graph_key.LOCAL)

    def posterior(self):
        out = self.enc(self.xy)
        return {"z_mean": out[:, 0].data.reshape(-1)}
