"""ANN tests: multi-table hyperplane LSH vs the exact brute-force baseline.

Recall targets: knn_self_join pair recall ≥ 0.9 vs exact cosine pairs at
threshold 0.9, and ≥ 0.95 at threshold 0.6."""

import numpy as np
import pytest
from pyspark.sql import types as T

from file_deduplicator_spark.operators.ann import (
    bucket_ids_np,
    hyperplanes,
    knn_self_join,
)

DIM = 32
SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def ann_data(spark):
    """20 clusters × 15 members (center + noise): genuinely angularly-close
    neighborhoods, so exact top-k IS an LSH-findable set — plus exact
    all-pairs ≥0.9 truth computed in numpy."""
    rng = np.random.RandomState(11)
    centers = rng.normal(size=(20, DIM)) * 3.0
    rows = []
    nid = 0
    for c in centers:
        for _ in range(15):
            v = c + 0.35 * rng.normal(size=DIM)
            rows.append((nid, [float(x) for x in v]))
            nid += 1
    vecs = np.asarray([r for _, r in rows])
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    ia, ib = np.where(np.triu(cos >= 0.9, k=1))
    truth = set(zip(ia.tolist(), ib.tolist()))
    df = spark.createDataFrame(rows, SCHEMA).persist()
    df.count()
    return {"df": df, "vecs": vecs, "truth": truth, "rows": rows}


def test_knn_self_join_recall(spark, ann_data):
    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in knn_self_join(ann_data["df"], threshold=0.9).collect()
    }
    truth = ann_data["truth"]
    assert truth, "fixture must plant ≥0.9-cosine pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"pair recall {recall:.3f} < 0.9"
    # precision is exact by construction (cosine verify) — no pair below 0.9
    vecs = ann_data["vecs"]
    for a, b in got:
        c = vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        assert round(c, 6) >= 0.9


def test_bucket_ids_deterministic():
    rng = np.random.RandomState(0)
    v = rng.normal(size=(10, DIM))
    p = hyperplanes(DIM, 96, seed=42)
    b1 = bucket_ids_np(v, p, 12)
    b2 = bucket_ids_np(v, p, 12)
    assert (b1 == b2).all()
    assert b1.shape == (10, 8)
    assert (b1 >= 0).all() and (b1 < (1 << 12)).all()


def test_knn_observation_metrics(spark, ann_data):
    from pyspark.sql import Observation

    obs = Observation("ann_buckets")
    out = knn_self_join(ann_data["df"], threshold=0.9, observation=obs)
    out.count()
    m = obs.get
    assert m["buckets"] > 0 and m["max_bucket"] >= 1
    assert "capped_buckets" in m and "capped_dropped_rows" in m


def test_knn_plan_sizing_rule(spark, ann_data):
    """A second threshold: 11 tables of 4 bits each (the Charikar sizing
    T = ceil(ln(1-R) / ln(1-p^b)) with p = 1 - arccos(0.6)/pi, b = 4 and
    R = 0.95) must deliver recall >= 0.95 against the exact all-pairs
    oracle."""
    threshold, target = 0.6, 0.95
    bits, tables = 4, 11
    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in knn_self_join(
            ann_data["df"], threshold=threshold,
            n_tables=tables, bits_per_table=bits,
        ).collect()
    }
    vecs = ann_data["vecs"]
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    ia, ib = np.where(np.triu(cos >= threshold, k=1))
    truth = set(zip(ia.tolist(), ib.tolist()))
    assert truth, "fixture must have >= threshold pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= target, f"planned recall {recall:.3f} < {target}"
