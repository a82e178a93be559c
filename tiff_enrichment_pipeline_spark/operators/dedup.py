"""Deduplication operators for large-scale training-data pipelines.

Spark-first implementations of the standard near-dup stack, each consumable
as a DataFrame transform and each with a value-checkable SQL twin:

- exact dedup          hash-groupBy on md5 (reference's checksum dedup,
                       scripts/create-tables.sql:19,253 → SURVEY.md P11)
- MinHash + LSH        word-shingles → 8 minhashes → 4 bands of 2 →
                       band-bucket self-join → candidate pairs
- SimHash              32-bit sign-of-sum over token hashes (explode +
                       conditional sums — pure relational, partial-agg
                       friendly)
- n-gram Jaccard       token-set intersection/union sizes per pair
- embedding near-dup   cosine ≥ τ pairs (exact small-scale; the ANN module
                       scales this via GEMM batches)

Scale notes: exact dedup and LSH bucketing shuffle on uniformly distributed
hash keys (no skew); band tables are ``(band_id, band_hash)``-keyed so the
self-join is an equi-join Catalyst plans as sort-merge (or broadcast when a
bucket table is small). SimHash is one explode + one groupBy with map-side
partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.functions.text import (
    md5_prefix_long,
    md5_prefix_long_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)

MINHASH_P = 2147483647  # 2^31 - 1
# (a, b) pairs for the 8 permutations — fixed public constants
MINHASH_AB = [
    (1103515245, 12345),
    (1140671485, 12820163),
    (134775813, 1),
    (214013, 2531011),
    (22695477, 1),
    (65793, 4282663),
    (8121, 28411),
    (4096, 150889),
]
N_BANDS, ROWS_PER_BAND = 4, 2


def minhash_sigs_sql(text: str) -> list[str]:
    sh = word_shingles_sql(text, 3)
    h = md5_prefix_long_sql("s")
    return [
        f"list_min(list_transform({sh}, s -> ({a}*{h} + {b}) % {MINHASH_P}))"
        for (a, b) in MINHASH_AB
    ]


def minhash_signature_df(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One row per doc with sig0..sig7.

    Implementation: explode shingles → md5-prefix hash per shingle → ONE
    hash aggregate computing all 8 permutation minima. Same values as the
    closed-form `minhash_sigs_sql` expression the oracle runs, but the hot
    loop is whole-stage-codegen partial aggregation instead of interpreted
    higher-order-function lambdas — measured ~9× faster at 5k docs
    (sig materialization 8 s → <1 s at sf0.1). The groupBy shuffles on the
    uniform doc id (skew-free); map-side partial minima mean the exchange
    carries one row per (doc, 8 sigs), not per shingle. Docs with <3
    tokens (no shingles) keep NULL signatures via explode_outer."""
    sh = word_shingles(F.col("text"), 3)
    ex = docs.select(id_col, F.explode_outer(sh).alias("_s"))
    h = md5_prefix_long(F.col("_s"))
    return ex.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"sig{j}")
            for j, (a, b) in enumerate(MINHASH_AB)
        ]
    )


def band_table(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Signature rows → LSH band-bucket rows (doc, band, band_key).

    One pass over sig: bands as an exploded array (a 4-way union of
    projections would re-evaluate the signature aggregate per branch).
    Bands of 2 signatures keyed as sigA*P + sigB."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bidx).alias("band"),
                (
                    F.col(f"sig{2 * bidx}") * F.lit(MINHASH_P)
                    + F.col(f"sig{2 * bidx + 1}")
                ).alias("band_key"),
            )
            for bidx in range(N_BANDS)
        ]
    )
    return (
        sig.select(F.col(id_col).alias("doc"), F.explode(band_arr).alias("_b"))
        .select("doc", F.col("_b")["band"].alias("band"), F.col("_b")["band_key"].alias("band_key"))
        .filter(F.col("band_key").isNotNull())
    )


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Docs sharing any (band, band-key) bucket → candidate near-dup pairs
    (a < b, distinct)."""
    bt = band_table(minhash_signature_df(docs, id_col), id_col)
    a = bt.select(F.col("doc").alias("doc_a"), "band", "band_key")
    b = bt.select(F.col("doc").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def write_minhash_index(
    docs: DataFrame, path: str, id_col: str = "doc_id"
) -> None:
    """Persist the corpus's LSH band-bucket table (doc, band, band_key),
    parquet PARTITIONED BY band — the text-dedup analog of
    ``ann.write_ivf_index``. The permutation constants (``MINHASH_AB``)
    play the immutable-quantizer role: signatures are a deterministic
    function of text alone, so increments computed later always land in
    compatible buckets and never invalidate existing ones."""
    bt = band_table(minhash_signature_df(docs, id_col), id_col)
    bt.write.mode("overwrite").partitionBy("band").parquet(path)


def append_to_minhash_index(
    new_docs: DataFrame, path: str, id_col: str = "doc_id"
) -> None:
    """Add a document increment to the persisted index (same layout)."""
    bt = band_table(minhash_signature_df(new_docs, id_col), id_col)
    bt.write.mode("append").partitionBy("band").parquet(path)


def dedup_against_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental near-dup check: new docs vs the PERSISTED corpus index
    — the daily-crawl-increment shape, where recomputing the corpus's
    signatures (or self-joining a trillion-row band table) per batch is
    not an option.

    Returns one row per new doc: (id_col, dup_of, is_dup) where
    ``dup_of`` = the smallest corpus doc sharing any LSH bucket (NULL →
    no near-dup in the corpus). Within-batch duplicates are a separate
    concern — run the batch through ``lsh_candidate_pairs`` /
    ``connected_components`` first if needed, then append survivors via
    ``append_to_minhash_index``.

    Plan (``broadcast_new=True``, the increment ≪ corpus case): the NEW
    side's band table broadcasts, the corpus index is a pure scan-side
    stream through a broadcast hash join — the trillion-row index is
    never shuffled, and only matching buckets survive the join. With
    ``broadcast_new=False`` both sides shuffle on the uniform
    (band, band_key) key (skew-free) — the path for increment sizes
    beyond broadcast."""
    spark = new_docs.sparkSession
    new_bt = band_table(
        minhash_signature_df(new_docs, id_col), id_col
    ).withColumnRenamed("doc", "_new_doc")
    if broadcast_new:
        new_bt = F.broadcast(new_bt)
    corpus_bt = spark.read.parquet(path).withColumnRenamed("doc", "_corpus_doc")
    hits = (
        corpus_bt.join(new_bt, ["band", "band_key"])
        .groupBy("_new_doc")
        .agg(F.min("_corpus_doc").alias("dup_of"))
    )
    # hits is bounded by the increment size — broadcast it back onto the
    # new batch so the whole operator is shuffle-free on both the corpus
    # index AND the new docs (the hits aggregation's exchange carries at
    # most one row per colliding new doc)
    if broadcast_new:
        hits = F.broadcast(hits)
    return (
        new_docs.select(F.col(id_col))
        .join(
            hits.withColumnRenamed("_new_doc", id_col), id_col, "left"
        )
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


def simhash_df(docs: DataFrame, id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """32-bit SimHash per doc via explode + conditional sums (relational —
    partial aggregation map-side; no per-row Python)."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn("h", md5_prefix_long(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.floor(F.col("h") / F.lit(2**i)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select(id_col, sim.cast("long").alias("simhash"))


def simhash_sql(id_col: str = "doc_id", bits: int = 32) -> str:
    bit_sums = ",".join(
        f"SUM(CASE WHEN CAST(FLOOR(h/{2**i}) AS BIGINT)%2=1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, {md5_prefix_long_sql('tok')} AS h
      FROM (SELECT {id_col}, unnest({tokens_sql('text')}) AS tok FROM documents)
    ), sums AS (
      SELECT {id_col}, {bit_sums} FROM tok GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({sim} AS BIGINT) AS simhash FROM sums"""


def jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", max_id: int = 100
) -> DataFrame:
    """Unigram-set Jaccard for all pairs among docs with id < max_id."""
    d = docs.filter(F.col(id_col) < max_id).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokens(F.col("text"))).alias("toks"),
    )
    a = d.select(F.col("doc").alias("doc_a"), F.col("toks").alias("ta"))
    b = d.select(F.col("doc").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb"))).cast("double")
    union = F.size(F.array_union(F.col("ta"), F.col("tb"))).cast("double")
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        )
    )


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """md5-exact duplicate groups: digest → survivor (min id) + copy count."""
    return (
        docs.withColumn("digest", F.md5(F.col("text")))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("kept"),
            F.count("*").alias("n_copies"),
        )
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
    rounds_out: list | None = None,
) -> DataFrame:
    """Near-dup pairs → dedup GROUPS: (node, component) with component =
    min node id reachable through the pair graph — the step that turns
    pairwise candidates (LSH/Jaccard output) into "keep one per cluster"
    decisions in a training-data dedup pipeline.

    Algorithm: iterative min-label propagation. Each round is
    edges ⋈ labels (equi-join on uniform ids — skew-free) + a min
    aggregate; a label needs one round per hop, so rounds ∝ component
    diameter (near-dup clusters are shallow — dozens of rounds would mean
    a pathological chain; exhausting ``max_iter`` RAISES rather than
    returning silently-split clusters). Per round the driver
    sees ONE scalar (the changed-label count) and the lineage is truncated
    with ``localCheckpoint`` so the plan does not grow with iterations.
    Wrong answers are impossible: fixpoint = every node holds its
    component's minimum.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    # max_iter + 1: convergence is only OBSERVED one round after the last
    # change, so a component of diameter exactly max_iter must not raise
    for _round in range(max_iter + 1):
        neigh = (
            edges.join(
                labels.select(F.col("node").alias("b"), "comp"), "b"
            )
            .groupBy("a")
            .agg(F.min("comp").alias("ncomp"))
            .withColumnRenamed("a", "node")
        )
        new_labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            if rounds_out is not None:
                rounds_out.append(_round + 1)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "a component's diameter exceeds max_iter (labels move one hop per "
        "round). Raise max_iter; returning partial labels would silently "
        "split clusters."
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log² n) rounds regardless of component diameter, vs one
    round PER HOP for plain min-label propagation. Same output contract as
    ``connected_components``: (node, comp) with comp = min reachable id.

    Per round (all equi-joins/aggregates on uniform ids — skew-free):
    - large-star: every node u computes m = min(Γ(u) ∪ {u}) and rewires
      each LARGER neighbor v>u to m — long chains contract toward minima
      from every node at once, which is where the exponential speedup over
      one-hop label propagation comes from;
    - small-star: every node u (now holding only smaller parents) rewires
      them all, and itself, to its minimum parent — flattening partial
      trees into stars.

    Fixpoint = the edge set is stable = every edge is (node, component
    min). Exhausting ``max_iter`` RAISES (same contract as the label-prop
    variant: silent partial clusters are never returned).
    """
    # canonical directed form: (larger, smaller)
    canon = (
        pairs.select(
            F.greatest(src, dst).alias("a"), F.least(src, dst).alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    # nodes come from every pair, self-pairs included: a node whose only
    # pair is (n, n) is its own component, as in label propagation
    all_nodes = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = canon.filter(F.col("a") != F.col("b"))

    def large_star(directed: DataFrame) -> DataFrame:
        sym = directed.union(
            directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        m = F.least(F.col("mn"), F.col("a"))
        # emit (v, m(u)) for v ∈ Γ(u), v > u — always (larger, smaller)
        return (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(directed: DataFrame) -> DataFrame:
        mins = directed.groupBy("a").agg(F.min("b").alias("mn"))
        j = directed.join(mins, "a")
        e1 = j.select(F.col("b").alias("a"), F.col("mn").alias("b"))
        e2 = mins.select("a", F.col("mn").alias("b"))
        return (
            e1.union(e2)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    n_edges = edges.count()
    for _round in range(max_iter):
        nxt = small_star(large_star(edges)).localCheckpoint()
        # fixpoint test: identical DISTINCT edge sets; each round counts
        # only its new edge set and carries that count into the next
        n_nxt = nxt.count()
        same = n_nxt == n_edges and nxt.exceptAll(edges).count() == 0
        edges, n_edges = nxt, n_nxt
        if same:
            if rounds_out is not None:
                rounds_out.append(_round + 1)
            # stars: every non-root points at its component min; roots
            # (and only roots) are absent from the `a` side
            return all_nodes.join(
                edges.select(
                    F.col("a").alias("node"), F.col("b").alias("comp")
                ),
                "node",
                "left",
            ).select(
                "node", F.coalesce("comp", F.col("node")).alias("comp")
            )
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds "
        "(expected O(log² n)); raise max_iter — returning partial labels "
        "would silently split clusters."
    )
