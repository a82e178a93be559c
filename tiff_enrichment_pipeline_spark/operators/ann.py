"""Similarity search over embedding columns (array<float>).

Two strategies per the training-data-pipeline brief:

- **Brute-force cosine top-k** (the exactness baseline): Arrow-batched GEMM
  — normalize the corpus once (driver-side for a broadcastable corpus),
  ``P @ C.T`` per batch, ``argpartition`` top-k. Exact, a pure map stage
  over the query side.
- **LSH-bucketed variant** (the scale path): sign-random-projection buckets
  (B hyperplanes → B-bit key); queries probe their own bucket (+optionally
  neighbors by Hamming distance 1). Approximate; recall grows with fewer
  bits / more probes. Bucketing is an equi-join on uniformly distributed
  keys — shuffle-friendly, no skew.

The corpus here is the driver's ``embeddings`` table; at 100 TB the corpus
side would be IVF-sharded (cell = coarse centroid id) with the same probe
pattern — bucket id plays the role the quad-cell id plays for the
geospatial joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def _corpus_matrix(corpus: DataFrame, id_col: str, vec_col: str):
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    M = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    return ids, M / norms[:, None]


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_corpus: int = 1_000_000,
    known_corpus_size: int | None = None,
) -> DataFrame:
    """query rows + (rank, neighbor_id, cosine) — exact cosine top-k.

    Output columns: all query columns, rank int, neighbor_id long,
    cosine double.

    This is the declared EXACTNESS BASELINE: it collects + broadcasts the
    corpus, valid only for broadcastable corpora. ``max_corpus`` guards
    against misuse — beyond it the corpus-proportional collect would OOM
    the driver, so we raise and point at the scale paths instead.
    Callers that already counted the corpus (e.g. a loop re-querying the
    same one) pass ``known_corpus_size`` to skip the guard's count() job —
    the declared size still goes through the max_corpus check, so the
    guard cannot be silently disabled (ADVICE r4: the old bare
    ``skip_guard`` flag allowed an unbounded driver collect).
    """
    # limit(max+1).count() bounds the guard's own scan: it never reads
    # past the threshold, instead of paying a full corpus count per call
    n_corpus = (
        known_corpus_size
        if known_corpus_size is not None
        else corpus.limit(max_corpus + 1).count()
    )
    if n_corpus > max_corpus:
        raise ValueError(
            f"brute_force_topk: corpus has > max_corpus="
            f"{max_corpus}; the full-corpus collect+broadcast is the "
            "exactness baseline for broadcastable corpora only — use "
            "ivf_probe_pruned (persisted partition-pruned IVF index) or "
            "lsh_topk for corpora beyond broadcast size, or raise "
            "max_corpus explicitly if the driver can hold it"
        )
    ids, C = _corpus_matrix(corpus, id_col, vec_col)
    sc = queries.sparkSession.sparkContext
    bc_ids, bc_C = sc.broadcast(ids), sc.broadcast(C)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _topk(qid: pd.Series, vec: pd.Series) -> pd.Series:
        Cm, cid = bc_C.value, bc_ids.value
        Q = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        qn = np.linalg.norm(Q, axis=1)
        qn[qn == 0] = 1.0
        Q = Q / qn[:, None]
        sims = Q @ Cm.T  # (B, S)
        if exclude_self:
            qid_np = qid.to_numpy(np.int64)
            mask = cid[None, :] == qid_np[:, None]
            sims = np.where(mask, -np.inf, sims)
        kk = min(k, sims.shape[1] - (1 if exclude_self else 0))
        part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        ps = np.take_along_axis(sims, part, axis=1)
        # exact ordering: descending cosine, ascending id tie-break
        order = np.lexsort(
            (cid[part], -ps), axis=1
        )
        idx = np.take_along_axis(part, order, axis=1)
        ps = np.take_along_axis(ps, order, axis=1)
        flat = np.empty((idx.shape[0], 2 * kk), dtype=np.float64)
        flat[:, 0::2] = cid[idx]
        flat[:, 1::2] = ps
        return pd.Series(list(flat))

    out = queries.withColumn("_nn", _topk(F.col(id_col), F.col(vec_col)))
    ranks = F.explode(
        F.sequence(F.lit(1), (F.size("_nn") / F.lit(2)).cast("int"))
    )
    return (
        out.select(*queries.columns, F.col("_nn"), ranks.alias("rank"))
        .select(
            *queries.columns,
            F.col("rank").cast("int").alias("rank"),
            F.element_at(F.col("_nn"), F.col("rank") * 2 - 1)
            .cast("long")
            .alias("neighbor_id"),
            F.element_at(F.col("_nn"), F.col("rank") * 2).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# LSH (sign random projection) bucketing — the scale path
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def srp_bucket_df(
    vectors: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """vectors + ``bucket`` (int, B-bit sign-random-projection key)."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    H = _hyperplanes(dim, bits)
    sc = vectors.sparkSession.sparkContext
    bc_H = sc.broadcast(H)

    @F.pandas_udf("long")
    def _bucket(vec: pd.Series) -> pd.Series:
        Hm = bc_H.value
        V = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        signs = (V @ Hm.T) > 0  # (B, bits)
        weights = (2 ** np.arange(Hm.shape[0])).astype(np.int64)
        return pd.Series(signs @ weights)

    return vectors.withColumn("bucket", _bucket(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket equi-join then exact cosine rank within
    bucket. Output: query id, rank, neighbor_id, cosine."""
    from pyspark.sql import Window

    qb = srp_bucket_df(queries, bits, id_col, vec_col).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"), "bucket"
    )
    cb = srp_bucket_df(corpus, bits, id_col, vec_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "bucket"
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform("qv", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )
    norm_c = F.sqrt(
        F.aggregate(
            F.transform("cv", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        qb.join(cb, "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cosine", dot / (norm_q * norm_c))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) variant — coarse quantizer + probed-list search
# ---------------------------------------------------------------------------

def _kmeans_np(X: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Deterministic k-means (evenly-strided init, fixed iterations) over a
    driver-collected corpus sample — the coarse quantizer. No RNG state, so
    bucket assignments are reproducible across runs/sessions."""
    idx = np.linspace(0, len(X) - 1, k).astype(int)
    C = X[idx].copy()
    for _ in range(iters):
        # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², and ‖x‖² is constant per row —
        # assignment needs only (‖c‖² − 2X·Cᵀ). The elementwise
        # (X[:,None,:]−C)² formulation materialized an n×k×d cube
        # (16384×64×64 f64 = 0.5 GB per iteration; 13 s of the r7
        # --ann-scale index build was this loop); the GEMM form is
        # O(n×k) memory and BLAS-fast, same deterministic argmin.
        d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0] = 1.0
    return C / norms[:, None]


def ivf_assign_df(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """vectors + ``ivf_list`` (nearest-centroid id) — the IVF partitioning
    column. At 100 TB the corpus would be written partitioned by this
    column so a probe prunes to nprobe partitions (the quad-cell trick,
    applied to embedding space)."""
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast(centroids)

    @F.pandas_udf("int")
    def _assign(vec: pd.Series) -> pd.Series:
        C = bc.value
        V = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        V = V / n[:, None]
        return pd.Series((V @ C.T).argmax(axis=1).astype(np.int32))

    return vectors.withColumn("ivf_list", _assign(F.col(vec_col)))


def train_centroids(
    corpus: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
) -> np.ndarray:
    """Coarse quantizer trained on a BOUNDED deterministic sample.

    The sample is the ``sample_n`` corpus rows with the smallest
    ``xxhash64(id)`` — a distributed top-K (each partition keeps its local
    top-``sample_n``; the driver merges), so driver memory is O(sample_n),
    never O(|corpus|), and the set is reproducible across runs/sessions
    (no RNG, id tie-break). k-means itself is the deterministic
    fixed-iteration variant."""
    sampled = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    M = np.array([r[vec_col] for r in sampled], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    return _kmeans_np(M / norms[:, None], n_lists)


def kmeans_refine(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    tol: float = 1e-6,
) -> tuple[np.ndarray, list[float]]:
    """Distributed spherical-Lloyd refinement of the sample-trained coarse
    quantizer — the iterative-algorithm shape done Spark-style.

    ``train_centroids`` sees only a bounded sample; at 100 TB the sample
    can miss density structure, so this refines against the FULL corpus
    without ever collecting it. Each round is one corpus pass:

      broadcast centroids → Arrow argmax assignment (``ivf_assign_df``) →
      normalize + posexplode inside Catalyst (codegen; partial aggregation
      makes the shuffle k×d-sized) → per-(list, dim) sum/count hash-agg →
      collect k×d rows (independent of |corpus|) → driver renormalizes
      and re-broadcasts.

    Spherical k-means: vectors are unit-normalized before averaging and
    each new centroid is the renormalized mean (assignment is cosine /
    max-dot, matching ``ivf_assign_df``). Empty lists keep their previous
    centroid (standard Lloyd degeneracy handling). Stops early when the
    max centroid L2 movement < ``tol``. Returns (centroids, shifts) with
    one shift entry per executed round.
    """
    k, d = centroids.shape
    C = centroids.copy()
    vec = F.col(vec_col)
    norm2 = F.aggregate(
        vec, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(norm2)
    safe_norm = F.when(norm > 0.0, norm).otherwise(F.lit(1.0))
    shifts: list[float] = []
    for _ in range(iters):
        assigned = ivf_assign_df(corpus, C, id_col, vec_col)
        rows = (
            assigned.select(
                "ivf_list",
                safe_norm.alias("_n"),
                F.posexplode(vec).alias("dim", "x"),
            )
            .groupBy("ivf_list", "dim")
            .agg(
                F.sum(F.col("x").cast("double") / F.col("_n")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        S = np.zeros((k, d))
        counts = np.zeros(k)
        for r in rows:
            S[r["ivf_list"], r["dim"]] = r["s"]
            counts[r["ivf_list"]] = r["n"]
        newC = C.copy()
        nz = counts > 0
        newC[nz] = S[nz] / counts[nz, None]
        norms = np.linalg.norm(newC, axis=1)
        norms[norms == 0] = 1.0
        newC = newC / norms[:, None]
        shift = float(np.sqrt(((newC - C) ** 2).sum(axis=1)).max())
        C = newC
        shifts.append(shift)
        if shift < tol:
            break
    return C, shifts


def _make_probes_udf(cents: np.ndarray, nprobe: int, spark_context):
    """Build the pandas UDF mapping a query vector to its ``nprobe``
    nearest-centroid list ids (renamed from ``_probes_udf``: the old name
    read like the UDF itself rather than its factory)."""
    bc = spark_context.broadcast(cents)

    @F.pandas_udf("array<int>")
    def _probes(vec: pd.Series) -> pd.Series:
        C = bc.value
        V = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        V = V / n[:, None]
        sims = V @ C.T
        order = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    return _probes


def _ivf_rank(qp: DataFrame, corpus_a: DataFrame, k: int, id_col: str) -> DataFrame:
    """Shared tail: equi-join probes<->lists, exact cosine rank within lists.

    No forced broadcast — ``ivf_list`` is a uniform-ish low-cardinality
    key; Catalyst/AQE picks broadcast when the (pruned) corpus side fits
    and a skew-aware shuffle join otherwise.

    Norms are precomputed per ROW before the join (identical float ops:
    sqrt of the same left-to-right sum), not per candidate PAIR — at
    nprobe×|list| pairs per query the per-pair form re-evaluates each
    interpreted HOF norm O(candidates) times."""
    from pyspark.sql import Window

    def _norm(col: str) -> F.Column:
        return F.sqrt(F.aggregate(
            F.transform(col, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))

    qp = qp.withColumn("_nq", _norm("qv"))
    corpus_a = corpus_a.withColumn("_nc", _norm("cv"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        qp.join(corpus_a, "ivf_list")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cosine", dot / (F.col("_nq") * F.col("_nc")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest IVF lists, exact
    cosine rank within them (GEMM per batch). recall->1 as nprobe->n_lists.

    The quantizer trains on a bounded deterministic sample
    (``train_centroids``) — NO full-corpus driver collect — and list
    assignment is distributed (``ivf_assign_df``). For a persisted,
    partition-pruned index, see ``write_ivf_index``/``ivf_probe_pruned``."""
    cents = train_centroids(corpus, n_lists, id_col, vec_col, sample_n)
    corpus_a = ivf_assign_df(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "ivf_list"
    )
    probes = _make_probes_udf(cents, nprobe, queries.sparkSession.sparkContext)
    qp = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("ivf_list", F.explode(probes(F.col("qv"))))
    return _ivf_rank(qp, corpus_a, k, id_col)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
    refine_iters: int = 0,
) -> np.ndarray:
    """Persist the corpus as an IVF index: parquet PARTITIONED BY ivf_list
    (one directory per list -> probes prune to nprobe/n_lists of the data at
    scan time, under ``<path>/index``) + the centroid matrix at
    ``<path>/centroids`` — a SIBLING of the data directory, so index scans
    never touch it. Returns the
    centroids. ``refine_iters > 0`` runs that many distributed
    spherical-Lloyd passes over the FULL corpus after the sample training
    (``kmeans_refine``) — the build-time knob for corpora whose density the
    bounded sample misses."""
    cents = train_centroids(corpus, n_lists, id_col, vec_col, sample_n)
    if refine_iters > 0:
        cents, _ = kmeans_refine(
            corpus, cents, id_col, vec_col, iters=refine_iters
        )
    assigned = ivf_assign_df(corpus, cents, id_col, vec_col)
    # co-locate each list before the partitioned write: without this,
    # every write task holds a file open per list it sees (tasks ×
    # n_lists small files — 4096 at the r7 --ann-scale shapes, ~2.5k
    # rows each); hashing on ivf_list first yields ~one file per list,
    # the layout the probe-side scan wants at any scale
    assigned = assigned.repartition(F.col("ivf_list"))
    assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(
        f"{path}/index"
    )
    # an Arrow table plans as a LocalTableScan (a Python list would be a
    # Python RDD scan, one Python worker for n_lists rows)
    cent_table = pa.table(
        {
            "ivf_list": pa.array(range(len(cents)), pa.int32()),
            "centroid": pa.array(
                np.asarray(cents, np.float64).tolist(), pa.list_(pa.float64())
            ),
        }
    )
    corpus.sparkSession.createDataFrame(
        cent_table, "ivf_list int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cents


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign new vectors with the index's
    PERSISTED quantizer and append them into the partitioned layout.

    The centroid matrix is immutable on append — retraining it would
    silently orphan every existing list assignment (the same invariant a
    bucket modulus has for a bucketed table). Probes prune exactly as
    before; list balance degrades only as far as the data distribution
    drifts from the training sample, at which point a full
    ``write_ivf_index`` rebuild is the (offline) remedy."""
    spark = new_vectors.sparkSession
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["ivf_list"])],
        dtype=np.float64,
    )
    assigned = ivf_assign_df(new_vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("ivf_list").parquet(
        f"{path}/index"
    )


def ivf_probe_pruned(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index with PARTITION PRUNING: the
    probe set of this query batch (<= n_lists ints — a driver action bounded
    by n_lists, never by |corpus|) becomes an ``ivf_list IN (...)`` filter
    that Spark turns into PartitionFilters on the scan, so only the probed
    list directories are read."""
    spark = queries.sparkSession
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["ivf_list"])],
        dtype=np.float64,
    )
    probes = _make_probes_udf(cents, nprobe, spark.sparkContext)
    qp = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("ivf_list", F.explode(probes(F.col("qv"))))
    # materialize the probe assignment once (query batches are bounded by
    # assumption) — otherwise the centroid-GEMM UDF would run twice: once
    # for the pruning list, again inside the ranking join
    qp = qp.localCheckpoint()
    lists = sorted(
        r["ivf_list"] for r in qp.select("ivf_list").distinct().collect()
    )
    corpus_a = (
        spark.read.parquet(f"{path}/index")
        .filter(F.col("ivf_list").isin(lists))
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.col("ivf_list").cast("int").alias("ivf_list"),
        )
    )
    return _ivf_rank(qp, corpus_a, k, id_col)


# ---------------------------------------------------------------------------
# Arrow-GEMM ranking (r7) — the ranking path that survives 10M+ corpora
# ---------------------------------------------------------------------------
#
# _ivf_rank above ranks candidate PAIRS with Catalyst higher-order
# functions: ideal at dim-table scale (pure JVM, no Python), but the
# interpreted zip_with costs ~µs/element, and a scaled probe (1000
# queries × 10M-vector corpus) forms billions of pair·dim elements — the
# r6 memory's "HOF in the hot loop" trap. The Arrow form inverts the
# dataflow: the BOUNDED query batch (≤ a few thousand rows) broadcasts as
# a dense matrix, the UNBOUNDED corpus streams through mapInPandas, and
# each Arrow batch contributes one BLAS GEMM + per-query partial top-k;
# a final k-row-per-(query,batch) shuffle merges partials. Corpus-side
# memory is O(batch), driver memory O(|Q|·dim + |Q|·k·n_batches).


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Bounded query batch → (ids, L2-normalized matrix)."""
    rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[id_col] for r in rows], dtype=np.int64)
    Q = np.array([r[vec_col] for r in rows], dtype=np.float64)
    nq = np.linalg.norm(Q, axis=1)
    nq[nq == 0] = 1.0
    return qids, Q / nq[:, None]


def _partial_topk_emit(
    qids: np.ndarray,
    sub_ids: np.ndarray,
    cos: np.ndarray,
    k: int,
    q_index: np.ndarray | None = None,
) -> pd.DataFrame:
    """Per-query partial top-k of one (queries × batch-slice) cosine
    block → long-form (qid, cid, cosine) rows. ``cos`` is (|Q'|, n)."""
    n = cos.shape[1]
    kk = min(k + 1, n)  # +1: self-match dropped later
    if kk < n:
        part = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
    else:
        part = np.broadcast_to(np.arange(n), cos.shape).copy()
    qcol = np.repeat(
        qids if q_index is None else qids[q_index], part.shape[1]
    )
    return pd.DataFrame(
        {
            "qid": qcol,
            "cid": sub_ids[part].ravel(),
            "cosine": np.take_along_axis(cos, part, axis=1).ravel(),
        }
    )


def _merge_topk(partials: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k per query from per-batch partials (tie-break:
    ascending neighbor id, the brute_force_topk convention)."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        partials.filter(F.col("qid") != F.col("cid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
        )
    )


_PARTIAL_SCHEMA = "qid long, cid long, cosine double"


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine top-k with the corpus distributed (the scale form of
    ``brute_force_topk``, which broadcasts the corpus and is guarded to
    1M rows): query matrix broadcast, one GEMM per corpus Arrow batch,
    partial top-k per batch, global merge. Same output contract as
    ``brute_force_topk`` (rank int, neighbor_id, cosine; self-matches
    excluded; ties → ascending neighbor id)."""
    qids, Qn = _query_matrix(queries, id_col, vec_col)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((qids, Qn))

    def _scan(it):
        bqids, bQ = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            nm = np.linalg.norm(M, axis=1)
            nm[nm == 0] = 1.0
            cos = bQ @ (M / nm[:, None]).T
            yield _partial_topk_emit(
                bqids, pdf[id_col].to_numpy(np.int64), cos, k
            )

    partials = corpus.select(id_col, vec_col).mapInPandas(
        _scan, schema=_PARTIAL_SCHEMA
    )
    return _merge_topk(partials, k, id_col)


def ivf_probe_pruned_arrow(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_probe_pruned`` with Arrow-GEMM ranking: the probe-list
    filter still reaches the partitioned index scan as PartitionFilters
    (only nprobe/n_lists of the data is read), but candidate ranking is
    a GEMM restricted per Arrow batch to the queries that actually probe
    each list (probe map broadcast with the query matrix)."""
    spark = queries.sparkSession
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["ivf_list"])],
        dtype=np.float64,
    )
    qids, Qn = _query_matrix(queries, id_col, vec_col)
    # probe assignment for the bounded batch, driver-side: |Q| × n_lists
    # — the EXACT float ops + tie order of _make_probes_udf, so the two
    # probe paths choose identical list sets
    sims = Qn @ cents.T
    npb = min(nprobe, len(cents))
    probe = np.argsort(-sims, axis=1)[:, :npb]
    probed_lists = sorted({int(x) for x in probe.ravel()})
    # list id → indices of the queries probing it
    by_list: dict[int, np.ndarray] = {
        li: np.flatnonzero((probe == li).any(axis=1)) for li in probed_lists
    }
    sc = spark.sparkContext
    bc = sc.broadcast((qids, Qn, by_list))

    def _scan(it):
        bqids, bQ, bmap = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            nm = np.linalg.norm(M, axis=1)
            nm[nm == 0] = 1.0
            Mn = M / nm[:, None]
            ids = pdf[id_col].to_numpy(np.int64)
            lists = pdf["ivf_list"].to_numpy(np.int64)
            for li in np.unique(lists):
                qi = bmap.get(int(li))
                if qi is None or not len(qi):
                    continue
                sel = lists == li
                cos = bQ[qi] @ Mn[sel].T
                yield _partial_topk_emit(bqids, ids[sel], cos, k, q_index=qi)

    corpus_a = (
        spark.read.parquet(f"{path}/index")
        .filter(F.col("ivf_list").isin(probed_lists))
        .select(id_col, vec_col, F.col("ivf_list").cast("long"))
    )
    partials = corpus_a.mapInPandas(_scan, schema=_PARTIAL_SCHEMA)
    return _merge_topk(partials, k, id_col)
