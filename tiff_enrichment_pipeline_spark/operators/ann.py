"""Cosine top-k similarity search over embedding columns (array<float>).

Four operators, one form each:

- ``brute_force_topk`` — exact, the exactness baseline. The corpus is
  collected (bounded, default 1 M rows), L2-normalised and broadcast; each
  query Arrow batch is one ``Q @ C.T`` GEMM plus an ``argpartition`` top-k.
- ``lsh_topk`` — approximate. Sign-random-projection buckets (B hyperplanes
  → B-bit key); queries and corpus equi-join on the bucket, a uniformly
  distributed key, so the shuffle has no skew.
- ``ivf_topk`` — approximate. A k-means coarse quantizer trained on a
  bounded deterministic sample assigns every corpus row to a list; each
  query probes its ``nprobe`` nearest lists. recall → 1 as nprobe → n_lists.
- ``ivf_probe_pruned`` — the same probe against an index persisted by
  ``write_ivf_index`` (parquet partitioned by list, maintained by
  ``append_to_ivf_index``): the probed lists reach the index scan as
  PartitionFilters, so only nprobe/n_lists of the index is read. Exact at
  nprobe = n_lists.

Two ranking forms remain, because the query sides differ:

- a BOUNDED query side (``ivf_probe_pruned``): the query matrix is collected
  under the same row bound as the brute-force corpus and broadcast. The
  corpus streams through ``mapInPandas``; per Arrow batch and list, one BLAS
  GEMM against only the queries probing that list, a partial top-k, and one
  window merges the partials. A batched kernel beats per-element evaluation
  even at dimension-table scale.
- an UNBOUNDED query side (``lsh_topk``, ``ivf_topk``): nothing query-sized
  may reach the driver, so candidate pairs from the equi-join on bucket or
  list are ranked inside Catalyst with higher-order functions
  (``_rank_in_lists``).

Every operator drops self matches and breaks cosine ties by ascending
neighbour id; all return (query id, rank int, neighbor_id long, cosine
double), ``brute_force_topk`` keeping every query column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

# Row bound of every driver-side collect of a corpus or query matrix.
_MAX_DRIVER_ROWS = 1_000_000


def _as_matrix(vecs) -> np.ndarray:
    """A column of equal-length vectors → float64 rows."""
    return np.array([np.asarray(v, dtype=np.float64) for v in vecs])


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """L2-normalise each row; a zero row stays zero."""
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    return M / norms[:, None]


def _collect_unit_rows(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int, refusal: str
):
    """(ids, L2-normalised matrix) of ``df``, collected to the driver only
    if it has at most ``max_rows`` rows; otherwise raise ``refusal``.

    ``limit(max_rows + 1).count()`` bounds the guard's own scan: it never
    reads past the threshold, instead of paying a full count per call."""
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(refusal)
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    if not rows:
        return ids, np.empty((0, 0))
    return ids, _unit_rows(
        np.array([r[vec_col] for r in rows], dtype=np.float64)
    )


def _top_k(pairs: DataFrame, k: int, id_col: str) -> DataFrame:
    """Top-k per query over (qid, cid, cosine) candidate rows: self matches
    dropped, descending cosine, ties → ascending neighbour id."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        pairs.filter(F.col("qid") != F.col("cid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus: int = _MAX_DRIVER_ROWS,
) -> DataFrame:
    """query rows + (rank, neighbor_id, cosine) — exact cosine top-k.

    Output columns: all query columns, rank int, neighbor_id long,
    cosine double.

    This is the declared EXACTNESS BASELINE: it collects + broadcasts the
    corpus, valid only for broadcastable corpora. ``max_corpus`` guards
    against misuse — beyond it the corpus-proportional collect would OOM
    the driver, so we raise and point at the scale paths instead.
    """
    ids, C = _collect_unit_rows(
        corpus, id_col, vec_col, max_corpus,
        f"brute_force_topk: corpus has > max_corpus={max_corpus}; the "
        "full-corpus collect+broadcast is the exactness baseline for "
        "broadcastable corpora only — use ivf_probe_pruned (persisted "
        "partition-pruned IVF index) or lsh_topk for corpora beyond "
        "broadcast size, or raise max_corpus explicitly if the driver can "
        "hold it",
    )
    sc = queries.sparkSession.sparkContext
    bc_ids, bc_C = sc.broadcast(ids), sc.broadcast(C)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _topk(qid: pd.Series, vec: pd.Series) -> pd.Series:
        Cm, cid = bc_C.value, bc_ids.value
        Q = _unit_rows(_as_matrix(vec))
        sims = Q @ Cm.T  # (B, S)
        qid_np = qid.to_numpy(np.int64)
        sims = np.where(cid[None, :] == qid_np[:, None], -np.inf, sims)
        kk = min(k, sims.shape[1] - 1)
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


def _rank_in_lists(
    qp: DataFrame, corpus_a: DataFrame, key: str, k: int, id_col: str
) -> DataFrame:
    """Ranking tail for an unbounded query side: equi-join query rows
    (qid, qv, key) to corpus rows (cid, cv, key) on ``key`` (LSH bucket or
    IVF list), exact cosine per candidate pair, top-k window.

    No forced broadcast — the key is uniform-ish and low-cardinality;
    Catalyst/AQE picks broadcast when the corpus side fits and a
    skew-aware shuffle join otherwise.

    Norms are computed per ROW before the join (identical float ops:
    sqrt of the same left-to-right sum), not per candidate PAIR, which
    would re-evaluate each interpreted HOF norm once per candidate."""

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
    pairs = qp.join(corpus_a, key).withColumn(
        "cosine", dot / (F.col("_nq") * F.col("_nc"))
    )
    return _top_k(pairs, k, id_col)


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
        signs = (_as_matrix(vec) @ Hm.T) > 0  # (B, bits)
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
    qb = srp_bucket_df(queries, bits, id_col, vec_col).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"), "bucket"
    )
    cb = srp_bucket_df(corpus, bits, id_col, vec_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "bucket"
    )
    return _rank_in_lists(qb, cb, "bucket", k, id_col)


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
    return _unit_rows(C)


def _nearest_lists(Vn: np.ndarray, C: np.ndarray, nprobe: int) -> np.ndarray:
    """Per normalised row of ``Vn``, the ids of its ``nprobe`` nearest
    centroids (max cosine first)."""
    return np.argsort(-(Vn @ C.T), axis=1)[:, :nprobe]


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
        V = _unit_rows(_as_matrix(vec))
        return pd.Series((V @ bc.value.T).argmax(axis=1).astype(np.int32))

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
    return _kmeans_np(_unit_rows(M), n_lists)


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
        newC = _unit_rows(newC)
        shift = float(np.sqrt(((newC - C) ** 2).sum(axis=1)).max())
        C = newC
        shifts.append(shift)
        if shift < tol:
            break
    return C, shifts


def _make_probes_udf(cents: np.ndarray, nprobe: int, spark_context):
    """Build the pandas UDF mapping a query vector to its ``nprobe``
    nearest-centroid list ids."""
    bc = spark_context.broadcast(cents)

    @F.pandas_udf("array<int>")
    def _probes(vec: pd.Series) -> pd.Series:
        order = _nearest_lists(_unit_rows(_as_matrix(vec)), bc.value, nprobe)
        return pd.Series(list(order.astype(np.int32)))

    return _probes


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
    cosine rank within them. recall->1 as nprobe->n_lists.

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
    return _rank_in_lists(qp, corpus_a, "ivf_list", k, id_col)


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


def _read_centroids(spark, path: str) -> np.ndarray:
    """The centroid matrix ``write_ivf_index`` persisted, row i = list i."""
    rows = spark.read.parquet(f"{path}/centroids").collect()
    return np.array(
        [r["centroid"] for r in sorted(rows, key=lambda r: r["ivf_list"])],
        dtype=np.float64,
    )


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
    cents = _read_centroids(new_vectors.sparkSession, path)
    assigned = ivf_assign_df(new_vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("ivf_list").parquet(
        f"{path}/index"
    )


_PARTIAL_SCHEMA = "qid long, cid long, cosine double"


def _partial_topk(
    qids: np.ndarray, cids: np.ndarray, cos: np.ndarray, k: int
) -> pd.DataFrame:
    """Per-query partial top-k of one (queries × corpus-slice) cosine block
    ``cos`` of shape (len(qids), len(cids)) → long-form (qid, cid, cosine)
    rows, k + 1 per query because the self match is dropped later."""
    n = cos.shape[1]
    kk = min(k + 1, n)
    if kk < n:
        part = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
    else:
        part = np.broadcast_to(np.arange(n), cos.shape).copy()
    return pd.DataFrame(
        {
            "qid": np.repeat(qids, part.shape[1]),
            "cid": cids[part].ravel(),
            "cosine": np.take_along_axis(cos, part, axis=1).ravel(),
        }
    )


def ivf_probe_pruned(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index with PARTITION PRUNING.

    The query batch is BOUNDED: its normalised matrix is collected to the
    driver (refused beyond ``_MAX_DRIVER_ROWS`` rows) and each query's
    ``nprobe`` nearest lists are computed there. The union of probed lists
    becomes an ``ivf_list IN (...)`` filter that Spark turns into
    PartitionFilters on the index scan, so only the probed list
    directories are read. The query matrix and the list → probing-queries
    map are broadcast; per Arrow batch of the index scan and per list in
    it, one GEMM of only the queries probing that list against the list's
    rows yields a partial top-k, and one window merges the partials.
    Corpus-side memory is O(batch), driver memory O(|Q|·dim)."""
    spark = queries.sparkSession
    cents = _read_centroids(spark, path)
    qids, Qn = _collect_unit_rows(
        queries, id_col, vec_col, _MAX_DRIVER_ROWS,
        f"ivf_probe_pruned: query batch has > {_MAX_DRIVER_ROWS} rows; the "
        "probe ranks against a driver-collected query matrix — split the "
        "batch, or use ivf_topk, whose query side is never collected",
    )
    probe = (
        _nearest_lists(Qn, cents, nprobe) if len(qids)
        else np.empty((0, 0), np.int64)
    )
    probed_lists = sorted({int(x) for x in probe.ravel()})
    # list id → indices of the queries probing it
    by_list = {
        li: np.flatnonzero((probe == li).any(axis=1)) for li in probed_lists
    }
    bc = spark.sparkContext.broadcast((qids, Qn, by_list))

    def _scan(it):
        bqids, bQ, bmap = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            Mn = _unit_rows(_as_matrix(pdf[vec_col]))
            ids = pdf[id_col].to_numpy(np.int64)
            lists = pdf["ivf_list"].to_numpy(np.int64)
            for li in np.unique(lists):
                qi = bmap.get(int(li))
                if qi is None:
                    continue
                sel = lists == li
                yield _partial_topk(bqids[qi], ids[sel], bQ[qi] @ Mn[sel].T, k)

    corpus_a = (
        spark.read.parquet(f"{path}/index")
        .filter(F.col("ivf_list").isin(probed_lists))
        .select(id_col, vec_col, F.col("ivf_list").cast("long"))
    )
    partials = corpus_a.mapInPandas(_scan, schema=_PARTIAL_SCHEMA)
    return _top_k(partials, k, id_col)
