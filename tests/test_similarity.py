"""IVF correctness property on the deterministic cell quantizer.

(The IVF, exact cosine, PQ and LSH queries are oracle-checked through
the driver gate at nprobe < n_cells; this test pins the full-probe
limit: scanning every cell is exact search.)"""

import pytest

from kelos_on_kafka_spark.operators import similarity

SF = "/root/testdata/sf0.001"
PROBES = [3, 11, 27, 42]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(
        True
    )


def test_ivf_full_probe_equals_exact(spark, emb):
    """nprobe == n_cells scans every cell: the IVF result must equal
    exact brute-force top-k, ranks included."""
    exact = similarity.cosine_topk(emb, PROBES, k=5).collect()
    full = similarity.ivf_topk(emb, PROBES, k=5, n_cells=4, nprobe=4)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact))
    assert len(exact) == 5 * len(PROBES)
