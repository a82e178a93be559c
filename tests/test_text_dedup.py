"""Text-analysis + dedup + ANN operator unit tests (in-test oracles)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.functions.text import (
    predicted_lang,
    quality_score,
    token_count,
    word_shingles,
)
from tiff_enrichment_pipeline_spark.operators.ann import (
    brute_force_topk,
    lsh_topk,
    srp_bucket_df,
)
from tiff_enrichment_pipeline_spark.operators.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_signature_df,
    simhash_df,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog sat too", "en"),
        (1, "the cat sat on the mat and the dog sat too", "en"),  # exact dup
        (2, "the cat sat on the mat and the dog stood up", "en"),  # near dup
        (3, "el gato que se sienta en la alfombra de los", "es"),
        (4, "completely different words about spark engines here", "en"),
        (5, "xy", "unknown"),  # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    groups = {r["kept"]: r["n_copies"] for r in exact_dup_groups(docs).collect()}
    assert groups[0] == 2  # docs 0 and 1 identical, survivor = min id
    assert groups[2] == 1


def test_minhash_near_dup_similarity(spark, docs):
    sig = {r["doc_id"]: [r[f"sig{j}"] for j in range(8)]
           for r in minhash_signature_df(docs).collect()}
    agree_near = sum(a == b for a, b in zip(sig[0], sig[2]))
    agree_far = sum(a == b for a, b in zip(sig[0], sig[4]))
    assert sig[0] == sig[1]          # identical docs → identical signatures
    assert agree_near > agree_far    # near-dup shares more minhashes
    assert sig[5] == [None] * 8      # <3 tokens → null signature


def test_lsh_pairs_catch_exact_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 4) not in pairs


def test_simhash_hamming(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert sh[0] == sh[1]
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[4])


def test_text_functions(spark, docs):
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count(F.col("text")).alias("tc"),
            predicted_lang(F.col("text")).alias("pl"),
            word_shingles(F.col("text")).alias("sh"),
            quality_score(F.col("text"), F.length("text")).alias("q"),
        ).collect()
    }
    assert out[0]["tc"] == 11
    assert out[0]["pl"] == "en"
    assert out[3]["pl"] == "es"
    assert out[5]["sh"] == []
    assert len(out[0]["sh"]) == 9  # n - 2 trigram shingles
    assert 0.0 <= out[0]["q"] <= 1.0


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(df, df, k=3).collect()
    }
    M = np.array([v for _, v in vecs], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1)[:, None]
    S = Mn @ Mn.T
    for q in range(30):
        sims = [(-S[q, c], c) for c in range(30) if c != q]
        sims.sort()
        for rank in (1, 2, 3):
            assert got[(q, rank)] == sims[rank - 1][1]


def test_star_cc_matches_label_propagation_and_is_faster(spark):
    """Alternating large-star/small-star CC must produce the identical
    (node, comp) labels as min-label propagation on random graphs AND
    converge in fewer rounds on a high-diameter chain (the whole point:
    O(log² n) rounds vs one round per hop)."""
    from tiff_enrichment_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = np.random.default_rng(23)
    for trial in range(3):
        n = 40
        m = int(rng.integers(10, 50))
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, (m, 2))
            if a != b
        ]
        # self-pairs, one of them a node with no other pair
        edges += [(n + trial, n + trial), (edges[0][0], edges[0][0])]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        lab = {
            (r["node"], r["comp"])
            for r in connected_components(df).collect()
        }
        star = {
            (r["node"], r["comp"])
            for r in connected_components_star(df).collect()
        }
        assert star == lab, f"trial {trial}"

    # 17-node chain: label propagation needs ~diameter rounds; star
    # contracts exponentially
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 17)], "doc_a long, doc_b long"
    )
    r_label, r_star = [], []
    lab = {
        r["comp"] for r in connected_components(
            chain, max_iter=30, rounds_out=r_label
        ).collect()
    }
    star = {
        r["comp"] for r in connected_components_star(
            chain, rounds_out=r_star
        ).collect()
    }
    assert lab == star == {1}
    assert r_star[0] < r_label[0], (r_star, r_label)


def test_brute_force_topk_guards_big_corpus(spark):
    """The full-corpus collect is the exactness BASELINE — beyond
    max_corpus it must refuse (driver OOM) and point at the scale paths."""
    import pytest

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ivf_probe_pruned"):
        brute_force_topk(df, df, k=3, max_corpus=10)
    # and still works when the cap is explicitly raised
    assert brute_force_topk(df, df, k=1, max_corpus=20).count() == 20


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16))
    # pairs of near-identical vectors → same bucket with high probability
    vecs = []
    for i in range(40):
        vecs.append((2 * i, base[i].astype(np.float32).tolist()))
        vecs.append(
            (2 * i + 1, (base[i] + 0.01 * rng.standard_normal(16)).astype(np.float32).tolist())
        )
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = lsh_topk(df, df, k=1, bits=4)
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    hits = sum(1 for i in range(40) if got.get(2 * i) == 2 * i + 1)
    assert hits >= 25  # approximate: most twins found in-bucket

    buckets = srp_bucket_df(df, bits=4).select("vec_id", "bucket").collect()
    b = {r["vec_id"]: r["bucket"] for r in buckets}
    same = sum(1 for i in range(40) if b[2 * i] == b[2 * i + 1])
    assert same >= 30


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with nprobe=n_lists must equal brute force exactly; smaller
    nprobe trades recall for pruning."""
    import duckdb  # noqa: F401  (documents independence from Spark)
    from tiff_enrichment_pipeline_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(3)
    vecs = [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    brute = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(df, df, k=3).collect()
    }
    full = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, df, k=3, n_lists=8, nprobe=8).collect()
    }
    assert full == brute  # probing every list == exact

    part = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, df, k=3, n_lists=8, nprobe=3).collect()
    }
    hits = sum(1 for kk, v in brute.items() if part.get(kk) == v)
    assert hits >= 0.6 * len(brute)  # decent recall at nprobe=3/8


def test_ivf_no_full_corpus_collect(spark, monkeypatch):
    """The IVF quantizer must train on a BOUNDED sample: no driver collect
    during plan construction may return more rows than sample_n (the
    100 TB guard — a full-corpus collect would OOM the driver)."""
    from tiff_enrichment_pipeline_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(5)
    vecs = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    SparkDF = type(df)  # the concrete (classic) DataFrame class
    sizes = []
    orig = SparkDF.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(SparkDF, "collect", counting_collect)
    plan = ivf_topk(df, df, k=2, n_lists=4, nprobe=4, sample_n=32)
    assert sizes and max(sizes) <= 32  # only the bounded quantizer sample
    monkeypatch.setattr(SparkDF, "collect", orig)
    assert plan.count() > 0


def test_ivf_pruned_index_matches_inmemory(spark, tmp_path):
    """write_ivf_index + ivf_probe_pruned must (a) agree with ivf_topk at
    nprobe=n_lists, and (b) show PartitionFilters on the index scan when
    probing a subset of lists (the partition-pruning scale path)."""
    from tiff_enrichment_pipeline_spark.operators.ann import (
        ivf_probe_pruned,
        ivf_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(80)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, n_lists=8, sample_n=4096)

    full_mem = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, df, k=2, n_lists=8, nprobe=8).collect()
    }
    full_idx = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_probe_pruned(df, path, k=2, nprobe=8).collect()
    }
    assert full_idx == full_mem

    one_q = df.filter(F.col("vec_id") == 0)
    pruned = ivf_probe_pruned(one_q, path, k=2, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "ivf_list" in scan[0]
    assert pruned.count() > 0


def test_ivf_index_append_uses_persisted_quantizer(spark, tmp_path):
    """append_to_ivf_index: new vectors land in the list the PERSISTED
    centroids assign (the quantizer is immutable on append — retraining
    would orphan existing assignments), the partitioned layout survives,
    and probes over the appended index equal a one-shot assignment of the
    full corpus with the same centroids."""
    from tiff_enrichment_pipeline_spark.operators.ann import (
        append_to_ivf_index,
        ivf_assign_df,
        ivf_probe_pruned,
        write_ivf_index,
    )

    rng = np.random.default_rng(13)
    vecs = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(100)]
    first = spark.createDataFrame(vecs[:60], "vec_id long, embedding array<float>")
    extra = spark.createDataFrame(vecs[60:], "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    cents = write_ivf_index(first, path, n_lists=8)
    append_to_ivf_index(extra, path)

    # layout: still one directory per assigned list, nothing flattened
    import os

    dirs = [d for d in os.listdir(f"{path}/index") if d.startswith("ivf_list=")]
    assert dirs and len(dirs) <= 8

    # appended rows sit exactly where the persisted quantizer puts them
    stored = spark.read.parquet(f"{path}/index")
    want = {
        r["vec_id"]: r["ivf_list"]
        for r in ivf_assign_df(extra, cents).collect()
    }
    got = {
        r["vec_id"]: r["ivf_list"]
        for r in stored.filter(F.col("vec_id") >= 60).collect()
    }
    assert got == want
    assert stored.count() == 100

    # probing every list over the appended index == exact brute force over
    # the full corpus (nprobe=n_lists makes IVF exact regardless of layout)
    full = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = full.filter(F.col("vec_id") < 10)
    brute = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(q, full, k=3).collect()
    }
    idx = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_probe_pruned(q, path, k=3, nprobe=8).collect()
    }
    assert idx == brute


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (diameter 4 — needs multiple
    rounds), a 2-node island, and a self-contained triangle all resolve to
    their component minimum."""
    from tiff_enrichment_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),      # chain, min=1
        (10, 11),                            # island, min=10
        (20, 21), (21, 22), (20, 22),        # triangle, min=20
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_kmeans_refine_converges_to_true_clusters(spark):
    """Distributed spherical-Lloyd refinement (operators/ann.kmeans_refine):
    on 4 well-separated planted clusters, full-corpus refinement must (a)
    recover the true cluster directions, (b) monotonically shrink centroid
    movement, (c) early-stop under tol, (d) improve-or-match the spherical
    objective (mean max-dot) vs the sample-trained quantizer, and (e) keep
    empty lists' previous centroids without producing NaNs."""
    from tiff_enrichment_pipeline_spark.operators.ann import (
        ivf_assign_df,
        kmeans_refine,
        train_centroids,
    )

    rng = np.random.default_rng(5)
    true = np.array(
        [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0], [0, 0, 0, 1.0]]
    )
    rows = []
    for i in range(400):
        c = i % 4
        v = true[c] + 0.15 * rng.standard_normal(4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # start from perturbed truth (one centroid per basin — Lloyd is a
    # local optimizer, so basin coverage is the init's job, convergence
    # within basins is what refinement must deliver)
    pert = true + 0.25 * rng.standard_normal(true.shape)
    pert = pert / np.linalg.norm(pert, axis=1)[:, None]
    cents, shifts = kmeans_refine(df, pert, iters=8, tol=1e-9)
    assert len(shifts) <= 8 and shifts[0] >= shifts[-1]
    # every true direction matched by some centroid (cosine > 0.98)
    for t in true:
        assert (cents @ t).max() > 0.98
    # and refining the (possibly badly-initialized) sample-trained
    # quantizer must never make its objective worse
    cents0 = train_centroids(df, 4, sample_n=12)
    cents_s, _ = kmeans_refine(df, cents0, iters=8, tol=1e-9)

    def objective(C):
        V = np.array([r[1] for r in rows])
        V = V / np.linalg.norm(V, axis=1)[:, None]
        return float((V @ C.T).max(axis=1).mean())

    assert objective(cents_s) >= objective(cents0) - 1e-12

    # assignments agree with the refined quantizer's argmax
    a = ivf_assign_df(df, cents).select("vec_id", "ivf_list").collect()
    V = {r[0]: np.array(r[1]) for r in rows}
    for r in a[:50]:
        v = V[r["vec_id"]] / np.linalg.norm(V[r["vec_id"]])
        assert r["ivf_list"] == int((cents @ v).argmax())

    # empty list: k=6 over 4 clusters — refined set must stay finite/unit
    c6 = train_centroids(df, 6, sample_n=12)
    r6, _ = kmeans_refine(df, c6, iters=3)
    assert np.isfinite(r6).all()
    assert np.allclose(np.linalg.norm(r6, axis=1), 1.0)


def test_minhash_index_incremental_lifecycle(spark, tmp_path):
    """Persisted LSH index (the text analog of the IVF index): new docs
    dedup against the index WITHOUT recomputing corpus signatures, the
    index streams through a broadcast join (never shuffles), appends land
    in compatible buckets (fixed permutation constants = the immutable
    quantizer), and results equal the all-in-one batch chain."""
    from tiff_enrichment_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        band_table,
        dedup_against_index,
        lsh_candidate_pairs,
        minhash_signature_df,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [(i, base + f" variant {i % 3}") for i in range(40)]  # 3 dup groups
    # fully disjoint vocabularies per doc (shared words would be a REAL
    # near-dup signal, not a distinct doc)
    uniq = [
        (100 + i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(10)
    ]
    corpus = spark.createDataFrame(docs[:30] + uniq[:5], "doc_id long, text string")
    newb = spark.createDataFrame(docs[30:] + uniq[5:], "doc_id long, text string")

    path = str(tmp_path / "mh_idx")
    write_minhash_index(corpus, path)
    out = {r["doc_id"]: r for r in dedup_against_index(newb, path).collect()}
    assert len(out) == 15

    # truth from the batch chain over corpus ∪ new
    both = corpus.unionByName(newb)
    pairs = lsh_candidate_pairs(both)
    cross = {
        r["doc_a"]: True
        for r in pairs.filter(
            (F.col("doc_a") < 100) | (F.col("doc_b") < 100)
        ).collect()
    }
    truth = {}
    for r in pairs.collect():
        a, b = r["doc_a"], r["doc_b"]
        for n, c in ((b, a), (a, b)):
            if n in [x[0] for x in docs[30:] + uniq[5:]] and (
                c in [x[0] for x in docs[:30] + uniq[:5]]
            ):
                truth[n] = min(truth.get(n, c), c)
    for did, row in out.items():
        assert row["is_dup"] == (did in truth), did
        if did in truth:
            assert row["dup_of"] == truth[did], did

    # the variant docs collide, the distinct ones don't
    assert all(out[d]["is_dup"] for d, _ in docs[30:])
    assert not any(out[d]["is_dup"] for d, _ in uniq[5:])

    # plan: corpus index is scan-side of a broadcast join (never shuffled)
    plan = (
        dedup_against_index(newb, path)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # append: new docs' buckets land alongside existing ones — a later
    # batch now dedups against BOTH corpus and the appended increment
    append_to_minhash_index(newb, path)
    later = spark.createDataFrame([(200, base + " variant 0")], "doc_id long, text string")
    r200 = dedup_against_index(later, path).collect()[0]
    assert r200["is_dup"] and r200["dup_of"] == 0

    # layout: partitioned by band, keys reproducible from text alone
    bt_now = spark.read.parquet(path)
    bt_re = band_table(minhash_signature_df(corpus.unionByName(newb)))
    assert bt_now.count() == bt_re.count()


def test_incremental_dedup_inverted_ratio(spark, tmp_path):
    """The OTHER real increment shape (VERDICT r4 #6): a large daily
    increment against a small seed index. broadcast_new=False must be
    value-identical to the broadcast path, and its plan must stream the
    big new band table while the small index side broadcasts (Catalyst's
    auto-broadcast — no hint forces the large side into a build)."""
    from tiff_enrichment_pipeline_spark.operators.dedup import (
        dedup_against_index,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(i, base + f" variant {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    # 2000-doc increment: 1000 near-dups of the corpus + 1000 with fully
    # disjoint vocabulary (shared words would be a real near-dup signal)
    newb = spark.createDataFrame(
        [(1000 + i, base + f" variant {i % 3}") for i in range(1000)]
        + [
            (5000 + i, " ".join(f"q{i}z{j}" for j in range(8)))
            for i in range(1000)
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "seed_idx")
    write_minhash_index(corpus, path)

    def rows(bc):
        got = dedup_against_index(newb, path, broadcast_new=bc)
        return {r["doc_id"]: (r["dup_of"], r["is_dup"]) for r in got.collect()}

    a, b = rows(True), rows(False)
    assert a == b
    assert len(b) == 2000
    assert sum(1 for v in b.values() if v[1]) == 1000

    plan = (
        dedup_against_index(newb, path, broadcast_new=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the bucket join builds on the SMALL index side (BuildLeft: corpus
    # is the left/stream-side scan in dedup_against_index), and the
    # result joins back to the large new batch via shuffle — proof the
    # increment was never collected for broadcast
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    assert "SortMergeJoin" in plan


def test_tokens_whitespace_edges_match_sql_twin(spark):
    """r6 review finding: Spark trim() and DuckDB TRIM strip only ASCII
    spaces, so a doc starting with a tab/newline produced a phantom
    empty first token that leaked into shingles. Both engines now strip
    ALL leading/trailing whitespace identically — pin the edge set."""
    import duckdb
    import pandas as pd

    from tiff_enrichment_pipeline_spark.functions.text import (
        tokens,
        tokens_sql,
        word_shingles,
        word_shingles_sql,
    )

    rows = [(0, "\ta b c"), (1, "a b c\n"), (2, "  x\t y\nz  w "),
            (3, "plain one two three"), (4, ""), (5, None), (6, "\t\n"),
            (7, "a b")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (
            list(r["tok"]) if r["tok"] is not None else None,
            list(r["sh"]),
        )
        for r in df.select(
            "id",
            tokens(F.col("text")).alias("tok"),
            word_shingles(F.col("text"), 3).alias("sh"),
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(
            {"id": [r[0] for r in rows], "text": [r[1] for r in rows]}
        ),
    )
    want = {
        i: (list(tok) if tok is not None else None, list(sh))
        for i, tok, sh in con.execute(
            f"SELECT id, {tokens_sql('text')}, {word_shingles_sql('text')} "
            "FROM t"
        ).fetchall()
    }
    assert got == want
    assert got[0] == (["a", "b", "c"], ["a b c"])  # no phantom '' token


def test_pack_observations_empty_payload_and_enrich_arg_guard(spark):
    """r6 review findings: payload_cols=[] must mean 'no payload packed'
    (not 'default to everything') and still be a pack the lookup accepts,
    and enrich() must reject observations= + packed_obs= together like
    nearest_station_dated."""
    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        PACKED_OBS_V2_COLS,
        pack_observations_columnar,
        packed_obs_lookup,
    )
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    sf = "/root/testdata/sf0.001"
    obs = geotables.weather_observations(spark, sf).withColumnRenamed(
        "obs_date", "weather_historical_date"
    )
    packed = pack_observations_columnar(obs, payload_cols=[])
    # date presence only: no _obsv_ payload array packed
    assert tuple(packed.columns) == PACKED_OBS_V2_COLS
    probe = (
        geotables.images_geo(spark, sf)
        .select(
            (F.col("image_id") % 10 + 1).cast("long").alias("station_id"),
            "image_id",
            F.to_date("captured_at").alias("weather_historical_date"),
        )
    )
    out = packed_obs_lookup(probe, packed)
    assert out.columns == probe.columns
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, probe.collect())
    )

    with pytest.raises(ValueError, match="exactly one"):
        enrich(
            geotables.images_geo(spark, sf),
            landcover=geotables.landcover_polygons(spark),
            stations=geotables.stations(spark, sf),
            dem_tiles=dem_tiles_df(spark),
            observations=geotables.weather_observations(spark, sf),
            packed_obs=geotables.weather_observations_packed(spark, sf),
        )
