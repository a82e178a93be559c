"""Oracle pins for the ANN operators: the persisted IVF probe against a
numpy re-derivation of its probe choice and exact rank, and against brute
force when every list is probed; the probe's query-batch bound; LSH's
in-bucket ranking against numpy; and the registry IVF query's scratch
index cleanup."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tiff_enrichment_pipeline_spark.operators import ann
from tiff_enrichment_pipeline_spark.operators.ann import (
    brute_force_topk,
    ivf_probe_pruned,
    lsh_topk,
    srp_bucket_df,
    write_ivf_index,
)

SF = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _keyed(df):
    return {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in df.collect()
    }


def _unit(vecs) -> np.ndarray:
    M = np.array(vecs, dtype=np.float64)
    return M / np.linalg.norm(M, axis=1)[:, None]


def _exact_rank(qid, qv, cids, C, k):
    """{(qid, rank): (neighbor_id, cosine)} — exact cosine over the
    candidate rows (cids, normalised C), self excluded, ties → ascending
    id."""
    keep = cids != qid
    cids, cos = cids[keep], C[keep] @ qv
    order = np.lexsort((cids, -cos))[:k]
    return {
        (qid, r + 1): (int(cids[i]), float(cos[i]))
        for r, i in enumerate(order)
    }


def _assert_same(got, want):
    assert got.keys() == want.keys() and len(want) > 0
    for key, (nid, cos) in want.items():
        assert got[key][0] == nid, key
        assert abs(got[key][1] - cos) < 1e-9, key


def test_ivf_probe_pruned_matches_numpy_oracle(spark, tmp_path):
    """nprobe < n_lists: each query ranks exactly the rows of its nprobe
    nearest lists (by Qn·Cᵀ over the centroids read back from the index)."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_lists=8)
    cents = np.array(
        [
            r["centroid"]
            for r in spark.read.parquet(f"{path}/centroids")
            .orderBy("ivf_list")
            .collect()
        ]
    )
    index = spark.read.parquet(f"{path}/index").collect()
    cids = np.array([r["vec_id"] for r in index])
    lists = np.array([r["ivf_list"] for r in index])
    C = _unit([r["embedding"] for r in index])

    q = emb.filter(F.col("vec_id") % 25 == 0)
    want = {}
    for r in q.collect():
        qv = _unit([r["embedding"]])[0]
        probed = np.argsort(-(cents @ qv))[:3]
        cand = np.isin(lists, probed)
        want.update(_exact_rank(r["vec_id"], qv, cids[cand], C[cand], 5))
    _assert_same(_keyed(ivf_probe_pruned(q, path, k=5, nprobe=3)), want)


def test_ivf_probe_pruned_exhaustive_equals_brute_force(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_lists=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    want = _keyed(brute_force_topk(q, emb, k=5))
    _assert_same(_keyed(ivf_probe_pruned(q, path, k=5, nprobe=8)), want)


def test_ivf_probe_pruned_query_bound(spark, tmp_path, monkeypatch):
    """The probe collects the query matrix to the driver, so a batch over
    the row bound is refused; an empty batch returns no rows."""
    rng = np.random.default_rng(17)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(np.float32).tolist())
         for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, n_lists=4)
    monkeypatch.setattr(ann, "_MAX_DRIVER_ROWS", 5)
    with pytest.raises(ValueError, match="query batch"):
        ivf_probe_pruned(df, path, k=2, nprobe=4)
    small = df.filter(F.col("vec_id") < 5)
    assert ivf_probe_pruned(small, path, k=2, nprobe=4).count() == 10
    empty = df.filter(F.col("vec_id") < 0)
    assert ivf_probe_pruned(empty, path, k=2, nprobe=4).count() == 0


def test_lsh_topk_matches_in_bucket_oracle(spark):
    """lsh_topk's values: within each query's own SRP bucket, exact cosine
    top-k (self excluded, ascending-id tie-break)."""
    rng = np.random.default_rng(29)
    vecs = [
        (i, rng.standard_normal(16).astype(np.float32).tolist())
        for i in range(60)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    bucket = {
        r["vec_id"]: r["bucket"]
        for r in srp_bucket_df(df, bits=3).select("vec_id", "bucket").collect()
    }
    ids = np.array([i for i, _ in vecs])
    C = _unit([v for _, v in vecs])
    b = np.array([bucket[i] for i in ids])
    want = {}
    for j, qid in enumerate(ids):
        same = b == b[j]
        want.update(_exact_rank(qid, C[j], ids[same], C[same], 3))
    _assert_same(_keyed(lsh_topk(df, df, k=3, bits=3)), want)


def test_ivf_ann_pruned_removes_its_index_dir(spark):
    from tiff_enrichment_pipeline_spark.queries import q_ivf_ann_pruned

    pattern = os.path.join(tempfile.gettempdir(), "ivf_idx_*")
    before = set(glob.glob(pattern))
    assert q_ivf_ann_pruned(spark, SF_SMALL).count() > 0
    assert set(glob.glob(pattern)) - before == set()
