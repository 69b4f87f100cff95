"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the classic ANN playbook:

- **brute-force cosine top-k** — the exact baseline. Dot products run
  JVM-side via ``F.zip_with`` + ``F.aggregate`` in double precision
  (deterministic sequential fold → bit-identical to the DuckDB
  oracle's list_cosine_similarity on doubles). Queries are a small
  relation → broadcast join against the corpus: one scan, no shuffle
  of the corpus, per-partition top-k then global top-k merge.
- **LSH-bucketed (random hyperplane)** — the scale path. Each vector
  gets a sign-bit sketch from a fixed seeded hyperplane set; probing
  compares only vectors sharing a bucket (optionally multi-probe by
  also checking 1-bit-flipped buckets). Recall/cost trades via
  ``num_planes``; exactness is restored by brute-force re-ranking of
  the bucket candidates.

An IVF variant (k-means coarse quantizer) would slot into the same
candidate-then-rerank shape; hyperplane LSH is chosen because it
needs no training pass.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a, b):
    """Cosine similarity of two array columns, computed in double."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_per_query(
    scored: DataFrame, *, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Two-stage top-k of (query_id, id, cosine) triples.

    Stage 1 ranks within (input-partition, query) — the exchange keys
    over num_partitions × num_queries values, so each task sees
    |scored| / P rows, never a whole query's corpus. Stage 2 ranks the
    ≤ P×k survivors per query — a tiny shuffle. Both stages order by
    (cosine desc, id asc), so the result is identical to a single
    global sort. Only the narrow triple is ever shuffled.
    """
    triples = scored.select(query_id_col, id_col, "cosine").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid", query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    survivors = (
        triples.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .drop("_pid", "_lr")
    )
    w_global = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    method: str = "blas",
    query_rows: list | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (cosine).

    ``query_rows`` (optional): the query set as ``[(id, vec), ...]``
    when the caller already holds it driver-side (the DSL knn route
    builds ``queries`` FROM such a list) — skips the blas path's
    ``queries.collect()`` round trip, a full scheduled job per call
    for data the driver started with (guide §5.3). Must enumerate
    exactly the rows of ``queries``.

    The corpus is never shuffled under either method; only ≤ k rows
    per (query, batch) reach the final tiny per-query ranking.

    ``method="blas"`` (default): the query matrix rides a broadcast
    variable (``queries.collect()`` — bounded by the same small-query
    contract the broadcast join relies on) and each corpus Arrow
    batch scores ALL queries in one float64 matrix multiply, keeping
    batch-local top-k with the global (cosine desc, id asc) tie-break
    before anything leaves the task. Measured 5-8× over the fold at
    20k×64 — element-wise ``aggregate``/``zip_with`` expressions cost
    per-element codegen; a matmul amortizes to BLAS throughput.
    Cosines are rounded to 6 before ranking on BOTH paths, absorbing
    summation-order ulps exactly as the cross-engine oracle does.

    ``method="fold"``: pure-JVM expression path (no Python workers) —
    broadcast cross join + zip_with/aggregate dot product. Same
    output; keep it where Python worker startup is unavailable.
    """
    if method == "fold":
        joined = corpus.crossJoin(F.broadcast(queries)).withColumn(
            "cosine",
            F.round(
                cosine_similarity(F.col(vec_col), F.col(query_vec_col)), 6
            ),
        )
        return _topk_per_query(
            joined, k=k, query_id_col=query_id_col, id_col=id_col
        )
    if method != "blas":
        raise ValueError(f"unknown method {method!r} (blas|fold)")

    qrows = (
        query_rows
        if query_rows is not None
        else queries.select(query_id_col, query_vec_col).collect()
    )
    if not qrows:  # empty query set: correctly-shaped empty result
        joined = corpus.crossJoin(F.broadcast(queries)).withColumn(
            "cosine", F.lit(None).cast("double")
        )
        return _topk_per_query(
            joined, k=k, query_id_col=query_id_col, id_col=id_col
        )
    qids = [r[0] for r in qrows]
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = np.nan  # zero-norm query: no defined cosine, never ranks
    bcast = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn))

    from pyspark.sql.pandas.types import to_arrow_type

    import pyarrow as pa

    qid_at = to_arrow_type(queries.schema[query_id_col].dataType)
    id_at = to_arrow_type(corpus.schema[id_col].dataType)
    out_schema = pa.schema(
        [(query_id_col, qid_at), (id_col, id_at), ("cosine", pa.float64())]
    )

    def score(batches):
        bqids, bQ, bqn = bcast.value
        for b in batches:
            if b.num_rows == 0:
                continue
            # zero-copy Arrow → (rows, dim) matrix: flatten() honors
            # list offsets, so no per-row Python list materialization
            # (the r17 decomposition measured the pandas tolist()
            # conversion at ~30% of the whole map pass at 200k×64)
            M = (
                b.column(1).flatten().to_numpy(zero_copy_only=False)
                .reshape(b.num_rows, -1).astype(np.float64, copy=False)
            )
            ids = b.column(0).to_numpy(zero_copy_only=False)
            mn = np.linalg.norm(M, axis=1)
            ok = mn > 0  # zero-norm corpus rows can never be neighbors
            if not ok.any():
                continue
            ids = ids[ok]
            S = np.round((M[ok] @ bQ.T) / np.outer(mn[ok], bqn), 6)
            take = min(k, S.shape[0])
            qo, io, co = [], [], []
            for j, qid in enumerate(bqids):
                col = S[:, j]
                # batch-local top-k with the GLOBAL tie-break (value
                # desc, id asc) so boundary ties survive consistently
                idx = np.lexsort((ids, -col))[:take]
                idx = idx[~np.isnan(col[idx])]
                if len(idx):
                    qo.extend([qid] * len(idx))
                    io.append(ids[idx])
                    co.append(col[idx])
            if qo:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qo).cast(qid_at),
                        pa.array(np.concatenate(io)).cast(id_at),
                        pa.array(np.concatenate(co), type=pa.float64()),
                    ],
                    schema=out_schema,
                )

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    # null embeddings can never rank (no defined cosine) — drop them
    # JVM-side so the zero-copy flatten stays aligned
    scored = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInArrow(
            score,
            schema=(
                f"{query_id_col} {qid_type}, {id_col} {id_type}, "
                "cosine double"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hyperplane_sketch(df: DataFrame, *, vec_col: str = "embedding",
                      dim: int = 64, num_planes: int = 16, seed: int = 42) -> DataFrame:
    """Attach a sign-bit LSH bucket id from fixed random hyperplanes.

    The hyperplane matrix is generated once, deterministically, on the
    driver and folded into the plan as literals — tiny (planes × dim
    doubles) and identical across executors; no join needed.
    """
    rng = np.random.RandomState(seed)
    planes = rng.randn(num_planes, dim)
    bucket = F.lit(0).cast("long")
    for p_idx in range(num_planes):
        plane = F.array(*[F.lit(float(v)) for v in planes[p_idx]])
        bit = (_dot(F.col(vec_col), plane) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, p_idx)
    return df.withColumn("bucket", bucket)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane bucket join, then exact re-rank.

    Multi-probe: a query also probes every bucket at Hamming
    distance 1, which pushes recall up sharply for small planes
    counts while the candidate set stays ~(1+planes)/2^planes of the
    corpus.
    """
    c = hyperplane_sketch(corpus, vec_col=vec_col, dim=dim,
                          num_planes=num_planes, seed=seed)
    q = hyperplane_sketch(
        queries.withColumnRenamed(query_vec_col, "_qv"),
        vec_col="_qv", dim=dim, num_planes=num_planes, seed=seed,
    )
    probes = q.select(
        query_id_col,
        "_qv",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << b))
                    for b in range(num_planes)
                ],
            )
        ).alias("bucket"),
    )
    joined = c.join(F.broadcast(probes), "bucket").withColumn(
        "cosine", F.round(cosine_similarity(F.col(vec_col), F.col("_qv")), 6)
    )
    return _topk_per_query(joined, k=k, query_id_col=query_id_col, id_col=id_col)


def exact_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — the exact O(N²) baseline.

    This is the oracle-able ground truth the LSH paths approximate;
    at scale use :func:`embedding_near_dup_pairs` (bucketed) instead —
    a full self-cross-join does not survive 100 TB. Useful directly
    for bounded candidate sets (e.g. one LSH bucket, one shard).

    The O(N²) cost is enforced, not just documented: anything above
    ``max_rows`` raises rather than planning an unbounded self-join.
    The guard counts ``limit(max_rows + 1)`` so it short-circuits at
    the bound instead of executing the full upstream plan (still one
    extra job — a plain parquet scan answers it from footer metadata,
    a derived input re-runs its plan up to max_rows+1 rows). Callers
    that already know their corpus is bounded pass ``max_rows=None``
    to keep the operator fully lazy.
    """
    if max_rows is not None and df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"exact_cosine_pairs is the bounded O(N²) baseline: corpus "
            f"exceeds max_rows={max_rows}. Use embedding_near_dup_pairs "
            f"(LSH-bucketed) at scale, raise max_rows explicitly, or pass "
            f"max_rows=None if the input is known-bounded."
        )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 12,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join.

    Same hyperplane sketch; only same-bucket pairs are scored. At
    near-dup thresholds (≥0.9) same-bucket probability is high, so
    recall stays useful while cost drops from O(N²) to Σ bucket².
    """
    s = hyperplane_sketch(df, vec_col=vec_col, dim=dim,
                          num_planes=num_planes, seed=seed)
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "cosine",
            F.round(
                cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
        )
    )


def nearest_centroid_classify(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Assign every vector to its nearest class centroid; return the
    (true label, predicted label, count) confusion relation.

    The semantic-domain-assignment staple: centroids learned from the
    labeled corpus classify vectors by maximum mean-dot-product —
    the single-iteration nearest-centroid cousin of a k-means Lloyd
    step.

    Determinism by construction: vectors quantize to integer
    ``floor(x·1e6)`` arrays up front, centroid accumulation and the
    dot products are pure BIGINT arithmetic, and the final
    score = dotq / n_label division divides identical integers —
    bit-identical across engines, no float-summation-order hazard.
    Ties break toward the smaller centroid label. Overflow headroom:
    |xq| ≤ 1e6·|x|, so dim·1e12·|x|²·n_label must stay < 2^63 —
    at |x| ≤ 1, dim 1024, that allows ~9e6 vectors per label; larger
    corpora sub-sample the centroid estimate, not the assignment.

    Scale shape: the centroid relation is L rows (tiny) → broadcast
    cross join; the integer dot is a JVM ``zip_with``/``aggregate``
    fold per (vector, label); arg-max via ``max_by`` groupBy on the
    vector id — one shuffle of N·L score rows, no explode of the
    corpus in the join, corpus scanned once.
    """
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
    )
    q = df.select(
        F.col(id_col), F.col(label_col).alias("_true"), vq.alias("_vq")
    )
    cent = (
        q.select("_true", F.posexplode("_vq").alias("_pos", "_xq"))
        .groupBy(F.col("_true").alias("_label2"), F.col("_pos"))
        .agg(F.sum("_xq").alias("_cq"), F.count(F.lit(1)).alias("_n"))
        .groupBy("_label2")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_cq"))),
                lambda s: s.getField("_cq"),
            ).alias("_cent"),
            F.first("_n").alias("_n"),
        )
    )
    dotq = F.aggregate(
        F.zip_with(F.col("_vq"), F.col("_cent"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_score", dotq.cast("double") / F.col("_n"))
        .groupBy(id_col, "_true")
        .agg(
            F.max_by(
                "_label2", F.struct(F.col("_score"), -F.col("_label2"))
            ).alias("_pred")
        )
    )
    return scored.groupBy(
        F.col("_true").alias(label_col), F.col("_pred").alias("pred_label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


def _quantize_int8(col):
    """Per-vector max-abs scalar quantization to [-127, 127] longs.

    ``floor(x*127/maxabs + 0.5)`` — floor, not round: floor is
    rounding-mode-portable across engines (PERF.md's half-boundary
    caveat). Per-vector scaling cancels in cosine, so no scale column
    needs carrying; an all-zero vector quantizes to zeros via the
    scale-1 guard instead of dividing by zero.
    """
    maxabs = F.array_max(F.transform(col, lambda x: F.abs(x.cast("double"))))
    scale = F.when(maxabs == F.lit(0.0), F.lit(1.0)).otherwise(maxabs)
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / scale + F.lit(0.5))
        .cast("long"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact re-rank — the
    memory-bandwidth tier of the candidate-then-rerank playbook.

    At 100 TB the dominant ANN cost is scanning float32 vectors; the
    int8 representation is 4× smaller, so the full-corpus candidate
    pass reads a quarter of the bytes (materialize the quantized
    column next to the float one and the scan prunes to it). Float
    vectors are touched only for the ``k*rerank_factor`` candidates
    per query that survive the quantized screen.

    Fully deterministic and cross-engine reproducible (unlike IVF's
    trained quantizer): quantization is exact integer arithmetic,
    candidate and final ranks are total orders via the id tie-break.
    Recall is governed by ``rerank_factor``; candidates are scored by
    integer-dot cosine over the quantized vectors (exact — int8 dots
    of any realistic dim fit a long).
    """
    corp = corpus.withColumn("_q", _quantize_int8(F.col(vec_col)))
    qs = queries.withColumn("_qq", _quantize_int8(F.col(query_vec_col)))

    def _lsum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)

    qdot = _lsum(F.zip_with("_q", "_qq", lambda a, b: a * b)).cast("double")
    nrm = lambda c: F.sqrt(  # noqa: E731
        _lsum(F.transform(c, lambda x: x * x)).cast("double")
    )
    # try_divide: a zero vector has no defined cosine — it scores NULL
    # and sinks below every real hit (ANSI-safe; plain `/` raises
    # DIVIDE_BY_ZERO under this session's ANSI mode)
    joined = corp.crossJoin(F.broadcast(qs)).withColumn(
        "cosine",
        F.round(F.try_divide(qdot, nrm(F.col("_q")) * nrm(F.col("_qq"))), 6),
    )
    cand = _topk_per_query(
        joined, k=k * rerank_factor, query_id_col=query_id_col, id_col=id_col
    ).select(query_id_col, id_col)

    # exact re-rank: only candidate rows ever touch the float vectors
    rer = (
        corpus.join(F.broadcast(cand), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    _dot(F.col(vec_col), F.col(query_vec_col)),
                    _norm(F.col(vec_col)) * _norm(F.col(query_vec_col)),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    filter_cond,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    method: str = "blas",
    query_rows: list | None = None,
) -> DataFrame:
    """Filtered vector search — the OpenSearch/ES ``knn`` query's
    ``filter`` clause with PRE-FILTER semantics: the metadata
    predicate restricts the candidate set BEFORE scoring, so every
    query returns k true neighbors from the allowed subset (the
    correct semantics for access control and faceted vector search).
    Post-filtering — scoring first, filtering the top-k after — can
    return fewer than k or even zero rows when the filter is
    selective; ES pre-filters for exactly this reason.

    Exact (brute-force over the filtered subset). The predicate is a
    plain Column, so Catalyst pushes it to the parquet scan — the
    filtered corpus is cheaper to score than the full one, the
    opposite of post-filtering's wasted work. For approximate tiers,
    apply the same predicate before :func:`lsh_topk` / IVF probes —
    bucket structures stay valid under subsetting (every bucket just
    shrinks).
    """
    return brute_force_topk(
        corpus.filter(filter_cond),
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        method=method,
        query_rows=query_rows,
    )


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    positives: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Hard-negative mining for contrastive training (dense-retriever
    / embedding-model training data): per anchor, the ``k`` corpus
    vectors MOST similar to it that are NOT known positives — the
    negatives that actually teach the model, where random negatives
    are trivially separable.

    ``positives`` is the (query_id, id) relation of known positive
    pairs — the anchor itself belongs in it (it is its own nearest
    neighbor). Exactness without scoring-the-world twice: each
    anchor's positive count is bounded by the positives relation (a
    training-pair table, tiny next to the corpus), so fetching
    ``k + max_positives_per_anchor`` neighbors and anti-joining the
    positives leaves at least the k true hardest negatives — one
    bounded widening of the same BLAS brute-force pass, corpus never
    shuffled.

    Returns (query_id, id, cosine, rank) with rank 1..k per anchor,
    (cosine DESC, id ASC) deterministic.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pos = positives.select(
        F.col(query_id_col), F.col(id_col)
    )
    row = pos.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(F.max("_n").alias("_m")).collect()
    kmax = int(row[0]["_m"] or 0)
    fetched = brute_force_topk(
        corpus,
        anchors,
        k=k + kmax,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        fetched.join(pos, [query_id_col, id_col], "left_anti")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
