"""Similarity search over embedding columns (entity linking's scoring leg).

- ``cosine_topk``    — brute-force exact top-k: the baseline and the verifier
  for approximate variants. The query side is broadcast (it is k·dim floats);
  the corpus side streams, and the top-k is a bounded two-phase aggregation
  (per-partition partial top-k → merge), so no aggregation buffer ever holds
  more than one partition's scores.
- ``lsh_buckets`` / ``ann_topk_lsh`` — random-hyperplane LSH: deterministic
  pseudo-random planes derived from md5 (portable to the SQL oracle), bucket
  join + exact re-rank inside the bucket. At 10^12 scale the bucket join
  replaces the O(n·q) scan with O(candidates).
- ``embedding_near_duplicates`` — cosine near-dup pairs via the LSH buckets
  (capped per bucket) + exact verify; the dedup-pipeline scale path.

Scores are emitted rounded (×10^4, as integers) so Spark and the DuckDB oracle
compare bit-equal despite floating-point summation-order differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rdf2hk_spark.ops.hashing import md5_int_py


def plane_weights(
    planes: int, dim: int, plane_offset: int = 0
) -> list[list[float]]:
    """The deterministic hyperplane weight matrix, computed ONCE in Python at
    plan-build time: w[p][d] = md5_int("p,d")/10^6 - 0.5 (the exact doubles
    the SQL oracle derives — int→double is exact below 2^53 and /1e6, -0.5
    round identically, so buckets match bit-for-bit). Embedding the
    planes×dim literals in the plan replaces the previous per-ROW evaluation
    of planes·dim md5+regexp calls inside nested HOF lambdas — a pure
    constant that was being recomputed 10^12 times at corpus scale."""
    return [
        [md5_int_py(f"{p},{d}") / 1e6 - 0.5 for d in range(dim)]
        for p in range(plane_offset, plane_offset + planes)
    ]


def _bucket_expr(vec: F.Column, weights: list[list[float]]) -> F.Column:
    """The planes-bit '0'/'1' bucket string for one weight table — the ONE
    definition of the sign-of-dot fold (tie rule: s > 0), shared by
    ``lsh_buckets`` and ``embedding_near_duplicates`` so the parity-critical
    float sequence cannot drift between the ANN and near-dup paths."""
    bits = []
    for w in weights:
        wl = F.array(*[F.lit(x) for x in w])
        s = F.aggregate(
            F.zip_with(vec, wl, lambda x, wv: x.cast("double") * wv),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(s > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _dim_guarded(vec: F.Column, dim: int, expr: F.Column) -> F.Column:
    """Fail fast on a vector whose width differs from the literal weight
    table's ``dim``: zip_with would null-pad the mismatch, the fold would go
    null, and every row would silently land in the all-'0' bucket (zero
    recall, no error). A wrong answer must never be silent."""
    return F.when(F.size(vec) == dim, expr).otherwise(
        F.raise_error(
            F.concat(
                F.lit("lsh bucket: vector width "),
                F.size(vec).cast("string"),
                F.lit(f" != weight dim {dim}"),
            )
        )
    )


def _infer_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Vector width from one row (array columns carry no length in the
    schema). One single-row job at plan-build time — pass ``dim`` explicitly
    to skip it."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError("cannot infer embedding dim from an empty frame")
    return row["d"]


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Bounded two-phase top-k over (q_id, cand_id, score_e4) rows.

    Phase 1 groups by (q_id, input partition) and keeps only the per-partition
    top-k, so no aggregation buffer ever holds more rows than one input
    partition and the shuffle carries ≤ k rows per (query, partition) instead
    of the whole corpus's scores. Phase 2 merges the ≤ k·P survivors per
    query. Exact: every global top-k row is in its partition's local top-k.
    Ties break by cand_id (total order), so the result is deterministic
    regardless of partitioning."""
    item = F.struct((-F.col("score_e4")).alias("neg"), "cand_id", "score_e4")
    partial = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("q_id", "_pid")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("top"))
    )
    merged = (
        partial.select("q_id", F.explode("top").alias("t"))
        .groupBy("q_id")
        .agg(F.slice(F.sort_array(F.collect_list("t")), 1, k).alias("top"))
    )
    return merged.select("q_id", F.posexplode("top").alias("r0", "t")).select(
        "q_id",
        (F.col("r0") + 1).cast("int").alias("rank"),
        F.col("t.cand_id").alias("cand_id"),
        F.col("t.score_e4").alias("score_e4"),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine (vectors are unit-norm ⇒ dot). Returns
    (q_id, rank, cand_id, score_e4) with rank 1-based, ties broken by cand_id."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")) * 1e4).cast("long").alias("score_e4"),
        )
    )
    return _topk(scored, k)


def lsh_buckets(
    embeddings: DataFrame,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_offset: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane signature: bit_p = sign(v · w_p) with the
    ``plane_weights`` matrix embedded as LITERAL arrays (no per-row hash
    evaluation — see plane_weights). Returns (id, bucket) with bucket a
    planes-char '0'/'1' string. ``plane_offset`` shifts the global plane
    indices — table t of a multi-table (OR-amplified) scheme uses offset
    t·planes, giving each table an independent deterministic plane set from
    the same formula. ``dim`` is the vector width (inferred from one row
    when omitted)."""
    if dim is None:
        dim = _infer_dim(embeddings, vec_col)
    vec = F.col(vec_col)
    sig = _bucket_expr(vec, plane_weights(planes, dim, plane_offset))
    return embeddings.select(
        F.col(id_col).alias("id"),
        _dim_guarded(vec, dim, sig).alias("bucket"),
    )


def _seed_centroids(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Init codebook: the ``n_cells`` lowest-id vectors — deterministic and
    oracle-portable."""
    return embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("c_vec")
    )


def ivf_cells(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    (max dot, ties to the lowest cell id). Default centroids are the
    ``n_cells`` lowest-id vectors; pass ``centroids`` (e.g. from
    ``ivf_train``) to use a trained codebook — the assignment join is the
    same. Centroids are O(n_cells·dim) ⇒ broadcast. Returns (id, cell)."""
    cents = (
        centroids
        if centroids is not None
        else _seed_centroids(embeddings, n_cells, id_col, vec_col)
    )
    scored = embeddings.crossJoin(F.broadcast(cents)).select(
        F.col(id_col).alias("id"),
        "cell",
        _dot(F.col(vec_col), F.col("c_vec")).alias("cs"),
    )
    return scored.groupBy("id").agg(
        F.max_by("cell", F.struct(F.col("cs"), (-F.col("cell")).alias("nc"))).alias(
            "cell"
        )
    )


def ivf_train(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Seeded k-means codebook, expressed entirely as DataFrame aggregations
    (no driver math): init = the ``n_cells`` lowest-id vectors; per
    iteration every vector joins its max-dot centroid (broadcast) and
    centroids re-form as per-dimension means via posexplode →
    groupBy(cell, dim) avg → sorted re-collect. Means are stored as
    FIXED-POINT integers (round(mean·scale)) so the codebook is
    bit-reproducible across engines and partitionings: double sums differ
    in last-ulp order effects, and float round(x, 4) itself differs across
    engines, but round-to-integer absorbs both. The uniform ×scale factor
    leaves both the per-vector argmax assignment and the per-query probe
    ordering unchanged (every cell scales identically), and centroids never
    enter final scores.

    Plain k-means (no re-normalization); assignment by dot, which orders
    like cosine for the unit-norm corpus. A cell that loses every member
    simply drops out (standard k-means dead cell) — deterministic on both
    engines. The per-iteration shuffle carries n·dim (cell, d, x) rows; at
    10^12 scale you would train on a sample, which changes nothing here but
    the input frame. Returns (cell, c_vec) with c_vec array<bigint>."""
    cents = _seed_centroids(embeddings, n_cells, id_col, vec_col)
    for _ in range(iters):
        asg = ivf_cells(embeddings, n_cells, id_col, vec_col, centroids=cents)
        exploded = (
            embeddings.join(asg, embeddings[id_col] == asg["id"])
            .select("cell", F.posexplode(F.col(vec_col)).alias("d", "x"))
        )
        means = exploded.groupBy("cell", "d").agg(
            F.round(F.avg(F.col("x").cast("double")) * scale)
            .cast("long")
            .alias("m")
        )
        cents = means.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("c_vec")
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` closest cells
    and re-ranks exactly within them (bounded two-phase top-k). At 10^12
    scale the probed cells replace the O(n·q) scan with O(n·n_probe/n_cells)
    — the classic inverted-file trade; rank may be < k when probed cells are
    thin (that is the approximation). Pass ``centroids`` (from ``ivf_train``)
    for a trained codebook; default is the first-``n_cells`` seed. Same
    output shape as cosine_topk."""
    cents = (
        centroids
        if centroids is not None
        else _seed_centroids(embeddings, n_cells, id_col, vec_col)
    )
    cells = ivf_cells(embeddings, n_cells, id_col, vec_col, centroids=cents)
    e = embeddings.join(cells, embeddings[id_col] == cells["id"]).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), "cell"
    )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    qc = q.crossJoin(F.broadcast(cents)).select(
        "q_id", "q_vec", "cell", _dot(F.col("q_vec"), F.col("c_vec")).alias("cs")
    )
    w_rank = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cell"))
    )
    probes = qc.withColumn("_r", w_rank).filter(F.col("_r") <= n_probe).select(
        "q_id", "q_vec", "cell"
    )
    scored = (
        e.join(F.broadcast(probes), "cell")
        .filter(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")) * 1e4)
            .cast("long")
            .alias("score_e4"),
        )
    )
    return _topk(scored, k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold_e4: int = 9500,
    planes: int = 8,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates collide on a
    random-hyperplane LSH bucket (never all-pairs), then exact cosine ≥
    threshold verifies. Returns (a, b, score_e4) with a < b.

    ``tables`` OR-amplifies recall: a single planes-bit table misses a
    near-dup pair whenever ANY plane separates it (at cosine 0.96 one 8-plane
    table catches only ~(1-θ/π)^8 ≈ 47% of pairs); with T independent tables
    (table t = plane indices [t·planes, (t+1)·planes)) a pair is a candidate
    if it collides in ANY table — recall 1-(1-p)^T, cost T bucket joins plus
    a pair-dedup shuffle. Every table keeps its own ``max_bucket`` cap, so
    the O(n²) degenerate-bucket bound holds per table.

    ``max_bucket`` bounds the within-bucket pair blow-up exactly like
    dedup.lsh_candidate_pairs_from_keys — at 10^12 scale a degenerate
    bucket (zero vectors, boilerplate embeddings) would otherwise emit
    O(n²) pairs."""
    if dim is None:
        dim = _infer_dim(embeddings, vec_col)
    e_ids = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    # ALL tables' signatures in one projection over ONE corpus scan —
    # table t's planes are plane_weights(planes, dim, t·planes), and the
    # table index becomes part of the bucket KEY, so the per-table sizing /
    # capping / pairing collapses into three keyed shuffles total instead
    # of three per table
    vec = F.col(vec_col)
    b_all = embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _dim_guarded(
                vec,
                dim,
                F.array(
                    *[
                        _bucket_expr(vec, plane_weights(planes, dim, t * planes))
                        for t in range(tables)
                    ]
                ),
            )
        ).alias("tbl", "bucket"),
    )
    # Materialize the signatures ONCE: b_all feeds the bucket sizing, the
    # bucket join, and BOTH pair sides — without this the tables×planes×dim
    # hyperplane folds (the expensive per-row work) re-ran up to 4×, and
    # AQE's concurrent leaf stages cannot share an unmaterialized frame.
    # The checkpoint holds only (id, tbl, bucket) — 3 narrow columns.
    b_all = b_all.localCheckpoint(eager=True)
    # bucket-keyed member lists with candidate pairs exploding map-side
    # (≤ max_bucket² per bucket — replaces the sized-join + two-sided pair
    # join, r6, pair set identical). The lists come from the SKEW-BOUNDED
    # salted aggregation (dedup.capped_member_lists): a flooded bucket
    # never materializes its full membership in one reducer buffer.
    from rdf2hk_spark.ops.dedup import capped_member_lists

    sized = capped_member_lists(
        b_all, ["tbl", "bucket"], "id", cap=max_bucket, min_n=2
    )
    cand = (
        sized.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if tables > 1:
        # a pair can collide in several tables — dedup BEFORE scoring so each
        # candidate pays the exact-cosine verify exactly once
        cand = cand.dropDuplicates(["a", "b"])
    scored = (
        cand.join(
            e_ids.select(F.col("vid").alias("a"), F.col("vec").alias("a_vec")), "a"
        )
        .join(
            e_ids.select(F.col("vid").alias("b"), F.col("vec").alias("b_vec")), "b"
        )
        .select(
            "a", "b",
            F.round(_dot(F.col("a_vec"), F.col("b_vec")) * 1e4)
            .cast("long")
            .alias("score_e4"),
        )
    )
    return scored.filter(F.col("score_e4") >= threshold_e4)


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    re-rank within. Same output shape as cosine_topk (rank may be < k when a
    bucket is thin — that is the approximation).

    ``probe_bits`` > 0 enables MULTIPROBE: each query also visits the
    buckets obtained by flipping each of its first ``probe_bits`` signature
    bits (Hamming-1 neighbors — the buckets a near-miss hyperplane vote
    lands in). Probing multiplies only the QUERY side (q·(probe_bits+1)
    broadcast rows); each candidate lives in exactly one bucket, so no pair
    is scored twice. Recall rises toward exact as probe_bits → planes while
    the corpus-side scan stays bucket-bounded — the standard multiprobe
    trade (Lv et al., VLDB'07)."""
    b = lsh_buckets(embeddings, planes, id_col, vec_col, dim=dim)
    e = embeddings.join(b, embeddings[id_col] == b["id"]).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), "bucket"
    )
    qb = queries.join(b, queries[id_col] == b["id"]).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    if probe_bits > 0:
        own = F.col("bucket")

        def flip(i: int) -> F.Column:  # flip 1-indexed position i
            bit = F.substring(own, i, 1)
            return F.concat(
                F.substring(own, 1, i - 1),
                F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring(own, i + 1, planes - i),
            )

        probes = F.array(own, *[flip(i) for i in range(1, min(probe_bits, planes) + 1)])
        qb = qb.select(
            "q_id", "q_vec", F.explode(probes).alias("bucket")
        )
    scored = (
        e.join(F.broadcast(qb), "bucket")
        .filter(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")) * 1e4).cast("long").alias("score_e4"),
        )
    )
    return _topk(scored, k)
