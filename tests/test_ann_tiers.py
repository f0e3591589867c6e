"""Equivalence of the ANN quantizer training tiers.

Within ``io.LOCAL_MAX_CELLS`` the k-means and PQ codebook training runs
on the driver from one bounded collect; with the bound at 0 every round
runs as Spark jobs.  Both replay the same quantized
trajectory (means rounded to ``quantize`` decimals after a small tie
shift), so centroids, codes and search results must be equal, not just
close.
"""

import numpy as np
import pytest

from woodwork_spark import io
from woodwork_spark.operators import embedding, similarity

D = 8


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(17)
    centers = rng.normal(scale=3.0, size=(4, D))
    rows = []
    for i in range(160):
        v = centers[i % 4] + rng.normal(size=D)
        rows.append((i, [float(x) for x in np.round(v, 3)]))
    return spark.createDataFrame(rows, "id bigint, v array<double>").cache()


@pytest.fixture
def tier(monkeypatch):
    """Run ``call`` under the default bound and under a bound of 0;
    returns both results and how often the driver-local Lloyd ran."""
    calls = []
    lloyd = similarity._lloyd_local

    def spy(*a, **k):
        calls.append(1)
        return lloyd(*a, **k)

    monkeypatch.setattr(similarity, "_lloyd_local", spy)

    def run(call):
        out = {}
        for name, bound in (("local", 1_000_000), ("spark", 0)):
            calls.clear()
            monkeypatch.setattr(io, "LOCAL_MAX_CELLS", bound)
            out[name] = (call(), len(calls))
        return out

    return run


def test_kmeans_lloyd_tiers_agree(emb_df, tier):
    init = [
        (c, list(r["v"]))
        for c, r in enumerate(emb_df.where("id < 4").orderBy("id").collect())
    ]

    def call():
        asg, cents = similarity.kmeans_lloyd(
            emb_df, "id", "v", init, iterations=3, return_centroids=True,
        )
        rows = sorted(
            (r["id"], r["cluster"], r["dist_sq"]) for r in asg.collect()
        )
        return cents, rows

    out = tier(call)
    assert out["local"][1] == 1 and out["spark"][1] == 0
    assert out["local"][0] == out["spark"][0]


def test_pq_codes_tiers_agree(emb_df, tier):
    def call():
        codes = embedding.pq_codes(
            emb_df, "id", "v", n_subspaces=2, k=4, iterations=3,
        )
        return sorted(tuple(r) for r in codes.collect())

    out = tier(call)
    assert out["local"][1] > 0 and out["spark"][1] == 0
    assert out["local"][0] == out["spark"][0]
    assert len(out["local"][0]) == 160


def test_ivf_pq_search_tiers_agree(emb_df, tier):
    queries = {
        0: [0.5] * D,
        1: [float(x) for x in np.linspace(-2.0, 2.0, D)],
    }

    def call():
        res = embedding.ivf_pq_search(
            emb_df, "id", "v", queries, nlist=4, n_probe=2, n_subspaces=2,
            k=4, coarse_iterations=2, pq_iterations=2, top_k=5,
        )
        return sorted(tuple(r) for r in res.collect())

    out = tier(call)
    assert out["local"][1] > 0 and out["spark"][1] == 0
    assert out["local"][0] == out["spark"][0]
    assert len(out["local"][0]) == 2 * 5
