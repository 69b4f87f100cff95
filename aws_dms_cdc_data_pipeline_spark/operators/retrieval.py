"""Retrieval-serving operators completing the OpenSearch query surface.

The reference's terminal store is an OpenSearch index (firehose.py:
114-155); beyond plain ranked search (operators/search.py) its
serving surface includes hybrid lexical+dense ranking, more-like-this
expansion, hit highlighting, and search-as-you-type completion. Each
is re-expressed Spark-first here, exactly-reproducible (quantized
rational arithmetic, deterministic tie-breaks) so every operator is
oracle-checkable cross-engine:

- :func:`rrf_fuse` — reciprocal-rank fusion of ANY ranked lists
  (the standard hybrid-search combiner: OpenSearch hybrid query /
  Cormack & Clarke 2009). Rank-only, so heterogeneous scores
  (BM25 vs cosine) need no calibration.
- :func:`more_like_this` — seed-document similarity query: the
  seed's top TF-IDF terms become a BM25 query (Lucene MoreLikeThis
  parity).
- :func:`search_snippets` — best highlight window per document:
  the fixed-width token window containing the most query-term hits
  (earliest such window on ties).
- :func:`autocomplete_prefix` — prefix completion over the
  materialized token index ranked by document frequency.
- :func:`spell_suggest`, :func:`retrieval_eval`,
  :func:`facet_counts`, :func:`keyset_page` — term suggester, eval
  metrics (recall/MRR/nDCG), aggregations-on-query, search_after.
- :func:`date_histogram`, :func:`numeric_histogram`,
  :func:`significant_terms`, :func:`top_hits_per_facet` — the
  Discover analytics panels over a hit set: auto-interval time and
  numeric bucketing, over-represented-terms scoring (JLH), and
  best-matches-per-category.

Scale shapes: every operator is a bounded prune/join over the
materialized token index or the pruned positional relation — no
corpus re-tokenization, no data-sized collects, no cross joins
beyond broadcast literals.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
    local_relation as _local_relation,
)

# the engine-wide tokenizer boundary (operators/search.py contract)
_SPLIT_RE = _re.compile(r"[^a-z0-9]+")

_FP = 1_000_000  # 6-decimal fixed point (shared with operators/search.py)


def _idx_relation(spark, idx_table) -> DataFrame:
    """Resolve a token-index argument: a catalog table NAME (the
    ensure_token_index serving path) or a DataFrame carrying the
    same (id, term, tf) shape (the DSL dispatcher's index_tables
    entries — the suggest-block wiring)."""
    if isinstance(idx_table, DataFrame):
        return idx_table
    return spark.table(idx_table)


def rrf_fuse(
    legs: list[DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_const: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion: ``score(d) = Σ_legs 1/(k + rank_leg(d))``.

    Each leg is a ranked list carrying (id, rank) — ranks 1-based,
    missing documents contribute nothing. Returns
    (id, rrf_score, n_legs_hit) ordered (rrf_score DESC, id ASC),
    limited to ``top_k``. Per-term contributions quantize to 6
    decimals as integers before the order-independent sum, so the
    result is bit-identical across engines and partitionings.

    Execution: legs union by name (no barrier — each leg is already
    a top-k-sized relation), one hash aggregate on the id, and the
    final cut compiles to TakeOrderedAndProject. Fusing k-sized
    lists costs O(Σ|legs|), independent of corpus size.
    """
    if not legs:
        raise ValueError("rrf_fuse needs at least one ranked leg")
    contrib = F.round(F.lit(float(_FP)) / (F.lit(k_const) + F.col(rank_col)), 0)
    tagged = [
        leg.select(F.col(id_col), contrib.cast("long").alias("_c"))
        for leg in legs
    ]
    allc = tagged[0]
    for t in tagged[1:]:
        allc = allc.unionByName(t)
    return (
        allc.groupBy(id_col)
        .agg(
            (F.sum("_c").cast("decimal(38,0)") / F.lit(_FP))
            .cast("double")
            .alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_legs_hit"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def more_like_this(
    spark,
    idx_table: str,
    dl_table: str,
    seed_id,
    *,
    id_col: str = "doc_id",
    m_terms: int = 8,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    fwd_table: str | None = None,
) -> DataFrame:
    """Documents most similar to a SEED document (Lucene MoreLikeThis
    / OpenSearch ``more_like_this`` parity): the seed's ``m_terms``
    most characteristic terms (highest smoothed TF-IDF against the
    whole index, ties by term ASC) form a BM25 query; the seed itself
    is excluded. Returns (id, score, n_terms_hit) ordered
    (score DESC, id ASC).

    Deliberate, documented semantics: the per-term ``df`` used in the
    BM25 scoring counts matching documents EXCLUDING the seed (the
    seed is removed from the hit relation before scoring), while the
    TF-IDF term selection uses the full-corpus df — both choices are
    mirrored exactly by the oracle SQL.

    Execution: term selection needs the seed's postings and
    corpus-level df. The index is bucketed BY TERM, so with only the
    index the doc-id probe is one full index pass (cheap relative to
    re-tokenizing the corpus, which never happens, but not pruned);
    pass ``fwd_table`` (the id-bucketed forward projection from
    :func:`~aws_dms_cdc_data_pipeline_spark.operators.search.
    ensure_forward_index`) and the seed probe becomes a bucket-pruned
    lookup — the serving-rate shape (results identical either way;
    parity-tested). The df aggregate stays one shuffle-free pass over
    the term-bucketed index. The m selected terms then broadcast-join
    back onto the index, so SCORING work is the selected terms'
    postings only.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.search import _bm25_rank

    from pyspark.sql import Window

    tf = _idx_relation(spark, idx_table)
    dl = spark.table(dl_table)
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = dl.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    seed_src = spark.table(fwd_table) if fwd_table else tf
    seed = (
        seed_src.filter(F.col(id_col) == F.lit(seed_id))
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("_n") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.col("_tfidf").desc(), "term")
    top_terms = (
        seed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m_terms)
        .select("term")
    )
    hits = tf.join(F.broadcast(top_terms), "term").filter(
        F.col(id_col) != F.lit(seed_id)
    )
    return _bm25_rank(hits, dl, id_col=id_col, k1=k1, b=b, top_k=top_k)


def search_snippets(
    docs: DataFrame,
    query_terms: list[str],
    *,
    width: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Best highlight window per matching document (OpenSearch
    highlighter parity, deterministic form): among all windows of
    ``width`` token positions starting at a query-term hit, pick the
    one containing the MOST query-term occurrences; earliest window
    wins ties. Returns (id, start_pos, end_pos, n_hits) for documents
    with ≥1 hit, ordered (n_hits DESC, id ASC).

    Execution: the positional relation prunes to the query terms at
    the scan; each doc's candidate windows are a RANGE-frame count
    over its pruned hit rows (``pos`` range [0, width)), then one
    rank picks the per-doc winner — work per doc is its own hit
    count, nothing document-sized moves, one exchange on the id.
    """
    from pyspark.sql import Window

    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        tokenize_positions,
    )

    if not query_terms:
        raise ValueError("search_snippets needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    toks = tokenize_positions(docs, text_col, id_col).filter(
        F.col("term").isin(terms)
    )
    wr = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rangeBetween(0, width - 1)
    )
    cand = toks.withColumn("_hits", F.count(F.lit(1)).over(wr))
    wpick = Window.partitionBy(id_col).orderBy(
        F.col("_hits").desc(), F.col("pos").asc()
    )
    return (
        cand.withColumn("_r", F.row_number().over(wpick))
        .filter(F.col("_r") == 1)
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("start_pos"),
            (F.col("pos") + width - 1).cast("long").alias("end_pos"),
            F.col("_hits").cast("long").alias("n_hits"),
        )
        .orderBy(F.col("n_hits").desc(), F.col(id_col).asc())
    )


def autocomplete_prefix(
    spark,
    idx_table: str,
    prefix: str,
    *,
    top_k: int = 10,
) -> DataFrame:
    """Search-as-you-type completion from the materialized token
    index: terms starting with ``prefix`` ranked by document
    frequency (ties by term ASC). Returns (term, df, total_tf).

    Execution: one filtered aggregate over the index — df per term is
    shuffle-free (the index is bucketed BY TERM, so a term's postings
    are co-located). The hash bucketing cannot prune a PREFIX
    predicate the way it prunes equality probes; a deployment serving
    heavy autocomplete traffic should range-cluster the index on term
    (maintenance/layout.py:rewrite_range_clustered) so the scan skips
    row groups by min/max term stats — the same data, a
    prefix-prunable layout.
    """
    p = prefix.lower()
    if not p:
        raise ValueError("autocomplete_prefix needs a non-empty prefix")
    return (
        _idx_relation(spark, idx_table)
        .filter(F.col("term").startswith(p))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(top_k)
    )


def spell_suggest(
    spark,
    idx_table: str,
    query_terms: list[str],
    *,
    max_dist: int = 2,
    top_k: int = 3,
) -> DataFrame:
    """Did-you-mean suggestions (OpenSearch term suggester / Lucene
    DirectSpellChecker parity): for each query term, the corpus
    vocabulary terms within ``max_dist`` Levenshtein edits, ranked
    (distance ASC, df DESC, term ASC), top ``top_k`` per query term.
    Returns (query_term, suggestion, distance, df). A query term that
    IS a vocabulary term suggests itself at distance 0 (callers
    typically filter those client-side; keeping them makes the
    operator a pure function of (vocab, terms)).

    Execution: the vocabulary relation is df-per-term over the token
    index (shuffle-free — the index is term-bucketed); the query
    terms ride in as a broadcast literal relation, so the edit
    distance evaluates scan-side against each vocab term exactly once
    per query term — O(|vocab| × |query|) JVM-side `levenshtein`
    calls, no Python, no shuffle of anything vocabulary-sized (the
    rank window moves only rows that passed the distance cut).
    A real deployment bounds the scan further with the standard
    length-band prefilter (|len(v) − len(q)| ≤ max_dist), applied
    here too since it is free.
    """
    if not query_terms:
        raise ValueError("spell_suggest needs at least one query term")
    from pyspark.sql import Window

    terms = sorted({t.lower() for t in query_terms})
    qdf = _local_relation(
        spark, [(t,) for t in terms], "query_term string"
    )
    vocab = (
        _idx_relation(spark, idx_table)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cand = (
        vocab.crossJoin(F.broadcast(qdf))
        .filter(
            F.abs(F.length("term") - F.length("query_term")) <= max_dist
        )
        .withColumn(
            "distance",
            F.levenshtein(F.col("term"), F.col("query_term")).cast("long"),
        )
        .filter(F.col("distance") <= max_dist)
    )
    w = Window.partitionBy("query_term").orderBy(
        F.col("distance").asc(), F.col("df").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_k)
        .select(
            "query_term", F.col("term").alias("suggestion"),
            "distance", "df",
        )
    )


def phrase_suggest(
    spark,
    idx_table: str,
    docs: DataFrame,
    phrase: str,
    *,
    max_edit: int = 1,
    max_candidates: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """Phrase suggester — the OpenSearch ``phrase`` suggester ("did
    you mean" over WHOLE phrases, where :func:`spell_suggest` is the
    per-term ``term`` suggester): per-position candidate terms come
    from the vocabulary within ``max_edit`` Levenshtein edits
    (expansion order (distance, df DESC, term) — the fuzzy/term-
    suggester contract, the input term itself qualifying at distance
    0), and every candidate PHRASE (the per-position cross product)
    is scored by a Laplace-smoothed bigram language model over the
    corpus: ``score = Π (count(wᵢ₋₁,wᵢ) + 1)`` — the ranking the
    OpenSearch phrase suggester's Stupid-Backoff/Laplace smoothing
    family computes shard-side. Ranked (score DESC, suggestion ASC).

    Determinism: bigram counts are exact longs; each ``count + 1``
    is an exactly-represented double and the product multiplies in
    FIXED position order (pos-sorted fold, mirrored by the oracle's
    left-parenthesized chain) — identical correctly-rounded IEEE
    sequences on both engines. A position with no candidate within
    ``max_edit`` yields NO suggestions (cross-product over an empty
    set — the OpenSearch empty-options analogue).

    Returns (suggestion, total_edits, score, rank), top_k.

    Scale shape: candidate generation is the spell_suggest scan —
    df-per-term over the term-bucketed index (shuffle-free), k
    broadcast query rows, length-band + JVM ``levenshtein`` cut, one
    bounded collect of ≤ k·max_candidates winners (the fuzzy
    max_expansions precedent). Bigram counting prunes INSIDE the
    token array before exploding (the _bm25_adhoc_relations pattern:
    only adjacent pairs whose BOTH sides are candidate terms fan
    out — ≤ (k−1)·max_candidates² distinct keys, corpus positions
    only for matching pairs). The ≤ max_candidates^k suggestion
    relation is driver-built and broadcast; a served deployment
    materializes the bigram counts as an index the way
    ensure_token_index does terms.
    """
    import itertools

    words = [w for w in _SPLIT_RE.split(phrase.lower()) if w]
    if len(words) < 2:
        raise ValueError(
            "phrase_suggest needs a phrase of >= 2 terms (the term "
            "suggester spell_suggest covers single terms)"
        )
    if max_edit < 0 or max_candidates < 1:
        raise ValueError("max_edit >= 0 and max_candidates >= 1 required")
    from pyspark.sql import Window

    k = len(words)
    # Guard the driver-built suggestion cross-product: it is at most
    # max_candidates^k rows, which grows geometrically in phrase
    # length (a 10-word phrase at the default 5 candidates is ~9.7M
    # driver rows). OpenSearch bounds the same blow-up with per-shard
    # candidate limits; we hard-cap the budget and tell the caller to
    # shorten the phrase or lower max_candidates.
    _MAX_PHRASE_COMBINATIONS = 100_000
    if max_candidates ** k > _MAX_PHRASE_COMBINATIONS:
        raise ValueError(
            f"phrase_suggest candidate cross-product max_candidates^k = "
            f"{max_candidates}^{k} exceeds the "
            f"{_MAX_PHRASE_COMBINATIONS} driver-row budget; shorten the "
            "phrase or lower max_candidates (OpenSearch analog: "
            "per-shard candidate-generator limits)"
        )
    out_schema = (
        "suggestion string, total_edits long, score double, rank long"
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import _sql_str

    # the k query positions ride an INLINE literal explode instead of
    # a broadcast cross join: same rows, no broadcast-build job, and
    # the whole candidate projection is one SQL string (r17 — py4j
    # build cost + one fewer scheduled job per call)
    pos_lit = ",".join(
        f"named_struct('pos', {i}L, 'query_term', '{_sql_str(w)}')"
        for i, w in enumerate(words)
    )
    vocab = (
        _idx_relation(spark, idx_table)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cand = (
        vocab.selectExpr(
            "term", "df", f"inline(array({pos_lit}))"
        )
        .filter(
            f"abs(length(term) - length(query_term)) <= {int(max_edit)}"
        )
        .selectExpr(
            "term", "df", "pos", "query_term",
            "cast(levenshtein(term, query_term) as long) AS distance",
        )
        .filter(f"distance <= {int(max_edit)}")
    )
    w_pos = Window.partitionBy("pos").orderBy(
        F.col("distance").asc(), F.col("df").desc(), F.col("term").asc()
    )
    # bounded collect: <= k * max_candidates rows (fuzzy precedent)
    picked = (
        cand.withColumn("_r", F.row_number().over(w_pos))
        .filter(F.col("_r") <= max_candidates)
        .select("pos", "term", "distance")
        .collect()
    )
    by_pos: dict = {i: [] for i in range(k)}
    for r in picked:
        by_pos[r["pos"]].append((r["term"], r["distance"]))
    if any(not by_pos[i] for i in range(k)):
        return spark.createDataFrame([], out_schema)

    sug_rows, pair_rows = [], []
    for combo in itertools.product(*(by_pos[i] for i in range(k))):
        sug = " ".join(t for t, _ in combo)
        sug_rows.append((sug, sum(d for _, d in combo)))
        for i in range(1, k):
            pair_rows.append((sug, i, combo[i - 1][0], combo[i][0]))
    sug_df = _local_relation(
        spark, sug_rows, "suggestion string, total_edits long"
    )
    pairs = _local_relation(
        spark, pair_rows, "suggestion string, pos long, w1 string, w2 string"
    )
    prev_set = sorted({p[2] for p in pair_rows})
    cur_set = sorted({p[3] for p in pair_rows})

    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    prev_in = ",".join(f"'{_sql_str(t)}'" for t in prev_set)
    cur_in = ",".join(f"'{_sql_str(t)}'" for t in cur_set)
    bg = (
        fan_out_scan(docs.select(text_col))
        .selectExpr(
            f"filter(split(lower({text_col}), '[^a-z0-9]+'), "
            "x -> x != '') AS _toks"
        )
        .filter("size(_toks) >= 2")
        .selectExpr(
            "explode(filter(transform(sequence(1, size(_toks) - 1), "
            "i -> named_struct('w1', element_at(_toks, i), "
            "'w2', element_at(_toks, i + 1))), "
            f"p -> p.w1 IN ({prev_in}) AND p.w2 IN ({cur_in}))) AS p"
        )
        .selectExpr("p.w1 AS w1", "p.w2 AS w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scored = (
        F.broadcast(pairs)
        .join(bg, ["w1", "w2"], "left")
        .withColumn(
            "cnt1",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double"),
        )
        .groupBy("suggestion")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("cnt1")))
                ),
                F.lit(1.0),
                lambda acc, s: acc * s["cnt1"],
            ).alias("score")
        )
    )
    ranked = (
        scored.join(F.broadcast(sug_df), "suggestion")
        .orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(top_k)
    )
    w_rank = Window.orderBy(
        F.col("score").desc(), F.col("suggestion").asc()
    )
    return ranked.withColumn(
        "rank", F.row_number().over(w_rank).cast("long")
    ).select("suggestion", "total_edits", "score", "rank")


def phrase_suggest_oracle_sql(
    phrase: str,
    *,
    max_edit: int = 1,
    max_candidates: int = 5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> str:
    """DuckDB SQL computing the identical phrase suggestions (same
    per-position expansion order, same left-parenthesized Laplace
    bigram product)."""
    words = [w for w in _SPLIT_RE.split(phrase.lower()) if w]
    k = len(words)
    assert k >= 2
    split = (
        f"list_filter(string_split_regex(lower({text_col}), "
        f"'[^a-z0-9]+'), x -> x <> '')"
    )
    cand_ctes = []
    for i, wrd in enumerate(words):
        lit = wrd.replace("'", "''")
        cand_ctes.append(f"""
    cand{i} AS (
        SELECT term, levenshtein(term, '{lit}') AS dist FROM vocab
        WHERE abs(length(term) - {len(wrd)}) <= {max_edit}
          AND levenshtein(term, '{lit}') <= {max_edit}
        ORDER BY dist ASC, df DESC, term ASC
        LIMIT {max_candidates}
    )""")
    sug_terms = " || ' ' || ".join(f"c{i}.term" for i in range(k))
    total = " + ".join(f"c{i}.dist" for i in range(k))
    crosses = " CROSS JOIN ".join(f"cand{i} c{i}" for i in range(k))
    bg_joins, score = [], None
    for i in range(1, k):
        bg_joins.append(
            f"LEFT JOIN bg b{i} ON b{i}.w1 = s.t{i - 1} "
            f"AND b{i}.w2 = s.t{i}"
        )
        factor = f"CAST(COALESCE(b{i}.c, 0) + 1 AS DOUBLE)"
        score = factor if score is None else f"({score} * {factor})"
    t_cols = ", ".join(f"c{i}.term AS t{i}" for i in range(k))
    return f"""
    WITH toks AS (
        SELECT {id_col} AS id, t.term, t.ord
        FROM {table},
             LATERAL (SELECT unnest({split}) AS term,
                             generate_subscripts({split}, 1) AS ord) t
    ),
    vocab AS (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
              FROM toks GROUP BY term),
    {", ".join(cand_ctes)},
    sugg AS (
        SELECT {sug_terms} AS suggestion, {t_cols},
               CAST({total} AS BIGINT) AS total_edits
        FROM {crosses}
    ),
    bg AS (
        SELECT a.term AS w1, b.term AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks a JOIN toks b ON a.id = b.id AND b.ord = a.ord + 1
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT s.suggestion, s.total_edits, {score} AS score
        FROM sugg s {" ".join(bg_joins)}
    ),
    cut AS (
        SELECT * FROM scored
        ORDER BY score DESC, suggestion ASC
        LIMIT {top_k}
    )
    SELECT suggestion, total_edits, score,
           CAST(row_number() OVER (ORDER BY score DESC, suggestion ASC)
                AS BIGINT) AS rank
    FROM cut
    """


def retrieval_eval(
    results: DataFrame,
    gold: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Ranking-quality metrics per query — the eval loop of a
    retrieval/training-data pipeline: given ranked ``results``
    (query_id, id, rank; rank 1-based, ≤ one row per (query, id))
    and a ``gold`` relevance set (query_id, id), computes per query:

    - ``recall_at_k``  = |retrieved@k ∩ gold| / |gold|
    - ``mrr``          = MRR@k: 1 / rank of the first relevant hit
      WITHIN the top k (0 if none ranks <= k — a relevant hit at rank
      k+1 scores 0, not 1/(k+1); results are cut to rank <= k before
      scoring, matching the oracle)
    - ``ndcg_at_k``    = DCG@k / ideal-DCG@k with binary gains,
      ``DCG = Σ_relevant 1/log2(rank+1)``

    Every metric is quantized to 6 decimals through integer sums, so
    the output is bit-identical across engines and partitionings
    (recall/MRR are exact rationals; the nDCG log terms round to 6
    before an order-independent fixed-point sum — a libm ulp cannot
    move the 6th decimal of log2 on rank-sized integers). Queries
    with gold but no results still emit a row (all-zero metrics);
    queries without gold are undefined and omitted.

    Execution: one outer join of two (query, id)-keyed relations +
    one aggregate per query — both sides are top-k/gold-sized, never
    corpus-sized.
    """
    res = results.select(
        F.col(query_id_col), F.col(id_col), F.col(rank_col).alias("_rank")
    ).filter(F.col("_rank") <= k)
    g = gold.select(F.col(query_id_col), F.col(id_col), F.lit(1).alias("_rel"))
    joined = g.join(res, [query_id_col, id_col], "left")
    gain_q = F.when(
        F.col("_rank").isNotNull(),
        F.round(F.lit(float(_FP)) / F.log2(F.col("_rank") + F.lit(1.0)), 0),
    ).otherwise(F.lit(0.0)).cast("long")
    per_q = joined.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_gold"),
        F.sum(F.when(F.col("_rank").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("_n_hit"),
        F.min("_rank").alias("_first_rank"),
        F.sum(gain_q).cast("long").alias("_dcg_q"),
    )
    # ideal DCG@k for n_gold binary-relevant docs: ranks 1..min(n, k)
    idcg_q = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("_n_gold"), F.lit(k)).cast("int")),
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + F.round(
            F.lit(float(_FP)) / F.log2(r.cast("double") + F.lit(1.0)), 0
        ).cast("long"),
    )
    return per_q.select(
        F.col(query_id_col),
        F.round(F.col("_n_hit") / F.col("_n_gold"), 6).alias("recall_at_k"),
        F.when(F.col("_first_rank").isNotNull(),
               F.round(F.lit(1.0) / F.col("_first_rank"), 6))
        .otherwise(F.lit(0.0)).alias("mrr"),
        F.round(
            (F.col("_dcg_q").cast("double") / idcg_q.cast("double")), 6
        ).alias("ndcg_at_k"),
    )


def facet_counts(
    hits: DataFrame,
    docs: DataFrame,
    facet_cols: list[str],
    *,
    id_col: str = "doc_id",
    stat_col: str | None = None,
) -> DataFrame:
    """Facet aggregations over a search hit set (OpenSearch
    aggregations-on-query parity — the Discover sidebar counts):
    group the hits' documents by ``facet_cols``, count per bucket,
    and (when ``stat_col`` is given) add exact min/max/avg of that
    numeric column (avg exact via decimal accumulation — bit-stable
    across partitionings). Returns (facet..., n_hits, and
    ``<stat>_min/_max/_avg``), ordered (n_hits DESC, facets ASC).

    Execution: the hit set is top-k-sized, so it BROADCASTS into the
    documents join — the corpus never shuffles and only the hits'
    rows leave the scan; one facet-keyed aggregate follows. At 100 TB
    the join is a broadcast-hash probe over the pruned doc scan.
    """
    if not facet_cols:
        raise ValueError("facet_counts needs at least one facet column")
    j = docs.join(F.broadcast(hits.select(id_col)), id_col)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_hits")]
    if stat_col is not None:
        aggs += [
            F.min(stat_col).alias(f"{stat_col}_min"),
            F.max(stat_col).alias(f"{stat_col}_max"),
            F.round(
                (
                    F.sum(F.col(stat_col).cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ),
                6,
            ).alias(f"{stat_col}_avg"),
        ]
    return (
        j.groupBy(*facet_cols)
        .agg(*aggs)
        .orderBy(F.col("n_hits").desc(), *[F.col(c).asc() for c in facet_cols])
    )


def significant_terms(
    spark,
    idx_table: str,
    dl_table: str,
    hits: DataFrame,
    *,
    id_col: str = "doc_id",
    top_k: int = 10,
    min_doc_count: int = 2,
) -> DataFrame:
    """Significant-terms aggregation over a search hit set — the
    OpenSearch ``significant_terms`` / Discover "significant terms"
    visualization: terms OVER-REPRESENTED in the hits relative to the
    whole corpus (what distinguishes the matching documents, not just
    what's frequent in them).

    Scoring is the JLH heuristic:
    ``(fg_share − bg_share) · (fg_share / bg_share)`` with
    fg_share = fg_df/n_hits and bg_share = bg_df/n_docs — computed in
    DOUBLE arithmetic with a fixed operation order (the shares divide
    first, then one subtract, one divide, one multiply) and one final
    round to 6 decimals, so the oracle reproduces the same doubles
    step-for-step. This is fixed-order float determinism, not the
    integer-exact ``_q6`` contract the BM25 paths carry. Terms must appear in at least
    ``min_doc_count`` hit documents and be genuinely over-represented
    (fg_share > bg_share). Returns
    (term, fg_df, bg_df, score) ordered (score DESC, term ASC),
    limited to ``top_k``.

    Execution shape: the hit set is top-k-sized and BROADCASTS into a
    semi-join against the term-bucketed index (foreground df — only
    hit docs' rows survive the scan filter); background df is the
    shuffle-free term aggregate the bucketing gives for free; n_docs
    is a 1-row broadcast off the dl table. The corpus never shuffles.
    """
    if top_k < 1 or min_doc_count < 1:
        raise ValueError(
            "significant_terms needs top_k >= 1 and min_doc_count >= 1"
        )
    idx = _idx_relation(spark, idx_table)
    hit_ids = hits.select(id_col)
    n_hits_df = hit_ids.agg(F.count(F.lit(1)).cast("long").alias("n_fg"))
    n_docs_df = spark.table(dl_table).agg(
        F.count(F.lit(1)).cast("long").alias("n_bg")
    )
    fg = (
        idx.join(F.broadcast(hit_ids), id_col, "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
    )
    bg = idx.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("bg_df")
    )
    fg_share = F.col("fg_df") / F.col("n_fg")
    bg_share = F.col("bg_df") / F.col("n_bg")
    score = F.round(
        (fg_share - bg_share) * (fg_share / bg_share), 6
    )
    return (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(n_hits_df))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(
            (F.col("fg_df") >= min_doc_count) & (fg_share > bg_share)
        )
        .select("term", "fg_df", "bg_df", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(top_k)
    )


def top_hits_per_facet(
    hits: DataFrame,
    docs: DataFrame,
    facet_cols: list[str],
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
    hits_per_bucket: int = 3,
) -> DataFrame:
    """Top-N hits WITHIN each facet bucket — the OpenSearch
    ``top_hits`` sub-aggregation (Discover's "best matches per
    category" panel): group the hit set by the documents'
    ``facet_cols`` and keep the ``hits_per_bucket`` best-scoring
    documents per bucket, deterministic ties on id. Returns
    (facet..., id, score, bucket_rank) ordered
    (facet... ASC, bucket_rank ASC).

    Execution: the hit set is top-k-sized, so it BROADCASTS into the
    documents join (the corpus never shuffles — same shape as
    :func:`facet_counts`); the per-bucket cut is a rank window over
    hit-set-sized data that WindowGroupLimit trims map-side.
    """
    from pyspark.sql import Window

    if not facet_cols:
        raise ValueError("top_hits_per_facet needs at least one facet column")
    if hits_per_bucket < 1:
        raise ValueError("top_hits_per_facet needs hits_per_bucket >= 1")
    j = docs.select(id_col, *facet_cols).join(
        F.broadcast(hits.select(id_col, score_col)), id_col
    )
    w = Window.partitionBy(*facet_cols).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("bucket_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("bucket_rank") <= hits_per_bucket)
        .select(*facet_cols, id_col, score_col, "bucket_rank")
        .orderBy(*[F.col(c).asc() for c in facet_cols], "bucket_rank")
    )


def top_hits_oracle_sql(
    hits_sql: str,
    facet_cols: list[str],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    score_col: str = "score",
    hits_per_bucket: int = 3,
) -> str:
    """DuckDB SQL computing the identical per-facet top hits."""
    facets = ", ".join(facet_cols)
    order_facets = ", ".join(f"{c} ASC" for c in facet_cols)
    return f"""
    WITH hit_rows AS ({hits_sql}),
    j AS (
        SELECT {facets}, d.{id_col}, h.{score_col}
        FROM {table} d JOIN hit_rows h USING ({id_col})
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY {facets}
                   ORDER BY {score_col} DESC, {id_col} ASC)
               AS BIGINT) AS bucket_rank
        FROM j
    )
    SELECT {facets}, {id_col}, {score_col}, bucket_rank
    FROM ranked WHERE bucket_rank <= {hits_per_bucket}
    ORDER BY {order_facets}, bucket_rank
    """


def significant_terms_oracle_sql(
    hits_sql: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    min_doc_count: int = 2,
) -> str:
    """DuckDB SQL computing the identical significant-terms ranking
    over ``hits_sql`` (a query yielding hit ``id_col`` rows)."""
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    hit_ids AS (SELECT {id_col} FROM ({hits_sql})),
    n_fg_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fg FROM hit_ids),
    n_bg_t AS (SELECT CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_bg
               FROM tok),
    fg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS fg_df
           FROM tok SEMI JOIN hit_ids USING ({id_col})
           GROUP BY term),
    bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df
           FROM tok GROUP BY term)
    SELECT term, fg_df, bg_df,
           round((fg_df / CAST(n_fg AS DOUBLE) - bg_df / CAST(n_bg AS DOUBLE))
                 * ((fg_df / CAST(n_fg AS DOUBLE))
                    / (bg_df / CAST(n_bg AS DOUBLE))), 6) AS score
    FROM fg JOIN bg USING (term)
            CROSS JOIN n_fg_t CROSS JOIN n_bg_t
    WHERE fg_df >= {min_doc_count}
      AND fg_df / CAST(n_fg AS DOUBLE) > bg_df / CAST(n_bg AS DOUBLE)
    ORDER BY score DESC, term ASC
    LIMIT {top_k}
    """


# the OpenSearch auto_date_histogram interval ladder (seconds): the
# histogram picks the SMALLEST rung that keeps the bucket count at or
# under the target, so zooming a Discover time range re-buckets from
# seconds up to years without the caller choosing an interval.
_HISTO_LADDER = [
    1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800, 43200,
    86400, 604800, 2592000, 31536000,
]


def date_histogram(
    hits: DataFrame,
    ts_col: str = "ts",
    *,
    target_buckets: int = 30,
    min_doc_count: int = 1,
) -> DataFrame:
    """Date-histogram aggregation over a search hit set — the
    Discover histogram-above-results panel (OpenSearch
    ``auto_date_histogram``; reference README.md:376-390 renders it
    over the ingested ``trans`` index).

    Auto-interval: a 2-row min/max aggregate (a 1-row broadcast)
    fixes the hit set's time span; the smallest ladder rung whose
    bucket count stays under ``target_buckets`` becomes the interval;
    buckets are fixed-width epoch-second floors (timezone-free, so
    the arithmetic is engine-portable). Returns
    (bucket_start timestamp, n_hits, interval_sec) ordered by
    bucket_start.

    ``min_doc_count=0`` is the Discover dense-panel contract
    (OpenSearch ``min_doc_count: 0``): EMPTY buckets between the
    first and last occupied bucket appear with a zero count — gaps in
    sparse hit sets render as zero bars, not missing bars. The spine
    is a ``sequence`` off the same 1-row min/max broadcast
    (≤ target_buckets elements by construction of the interval), left
    joined to the counts — no extra pass over the hits. Default 1
    keeps the sparse OpenSearch default (occupied buckets only).

    Execution shape: two passes over the hit relation — a
    column-pruned min/max (its filter and ``ts`` projection reach the
    scan) and the bucket aggregate, joined by a 1-row broadcast. The
    hit set is deliberately NOT persisted: for a Discover-style query
    it is a pushed-filter scan of a fact table, and at 100 TB
    re-scanning two pruned columns beats caching a corpus-sized hit
    set (the branch-recompute rule applies to EXPENSIVE relations;
    this one is a scan).
    """
    if target_buckets < 1:
        raise ValueError("date_histogram needs target_buckets >= 1")
    if min_doc_count not in (0, 1):
        raise ValueError(
            "min_doc_count must be 0 (dense) or 1 (occupied buckets only)"
        )
    # missing-value semantics match OpenSearch: rows without the
    # field are ignored, not bucketed as null
    hits = hits.filter(F.col(ts_col).isNotNull())
    uts = F.unix_timestamp(F.col(ts_col))
    stats = hits.agg(
        F.min(uts).alias("_tmin"), F.max(uts).alias("_tmax")
    )
    span = F.col("_tmax") - F.col("_tmin")
    iv = F.lit(_HISTO_LADDER[-1]).cast("long")
    for rung in reversed(_HISTO_LADDER[:-1]):
        # rung * target as a PYTHON int: a 32-bit Spark int literal
        # product overflows under ANSI for the large rungs
        iv = F.when(
            span < F.lit(rung * target_buckets).cast("long"),
            F.lit(rung).cast("long"),
        ).otherwise(iv)
    hist = (
        hits.crossJoin(F.broadcast(stats.select(iv.alias("interval_sec"))))
        .groupBy(
            # integer-exact floor toward −∞, portable for PRE-1970
            # (negative-epoch) timestamps too: Spark's % follows the
            # dividend sign, so the double-mod form is required — the
            # plain uts − uts % iv would round negative epochs UP
            # while the oracle's floor division rounds down
            F.timestamp_seconds(
                uts
                - (
                    (uts % F.col("interval_sec") + F.col("interval_sec"))
                    % F.col("interval_sec")
                )
            ).alias("bucket_start"),
            "interval_sec",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .select("bucket_start", "n_hits", "interval_sec")
    )
    if min_doc_count == 0:
        ivc = F.col("interval_sec")
        flo = F.col("_tmin") - (
            (F.col("_tmin") % ivc + ivc) % ivc
        )
        fhi = F.col("_tmax") - (
            (F.col("_tmax") % ivc + ivc) % ivc
        )
        spine = (
            stats.select(iv.alias("interval_sec"), "_tmin", "_tmax")
            .select(
                "interval_sec",
                F.explode(F.sequence(flo, fhi, ivc)).alias("_uts"),
            )
            .select(
                F.timestamp_seconds(F.col("_uts")).alias("bucket_start"),
                "interval_sec",
            )
        )
        hist = spine.join(
            hist, ["bucket_start", "interval_sec"], "left"
        ).select(
            "bucket_start",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            "interval_sec",
        )
    return hist.orderBy("bucket_start")


def date_histogram_oracle_sql(
    hits_sql: str,
    ts_col: str = "ts",
    *,
    target_buckets: int = 30,
    min_doc_count: int = 1,
) -> str:
    """DuckDB SQL computing the identical histogram over
    ``hits_sql`` (a query yielding the hit rows) — same epoch-second
    floors, same interval ladder; ``min_doc_count=0`` zero-fills the
    spine via ``generate_series`` exactly as the engine's
    ``sequence`` does."""
    case = "CASE "
    for rung in _HISTO_LADDER[:-1]:
        case += f"WHEN (tmax - tmin) < {rung} * {target_buckets} THEN {rung} "
    case += f"ELSE {_HISTO_LADDER[-1]} END"
    base = f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT CAST(floor(epoch({ts_col})) AS BIGINT) AS uts
          FROM hit_rows WHERE {ts_col} IS NOT NULL),
    stats AS (SELECT MIN(uts) AS tmin, MAX(uts) AS tmax FROM h),
    iv AS (SELECT CAST({case} AS BIGINT) AS interval_sec FROM stats)"""
    if min_doc_count == 0:
        return f"""{base},
    occ AS (
        SELECT (uts - ((uts % interval_sec + interval_sec)
                       % interval_sec)) AS b_uts,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               interval_sec
        FROM h CROSS JOIN iv
        GROUP BY 1, 3
    ),
    spine AS (
        SELECT s.i AS b_uts, interval_sec
        FROM stats CROSS JOIN iv,
             UNNEST(generate_series(
                 tmin - ((tmin % interval_sec + interval_sec)
                         % interval_sec),
                 tmax - ((tmax % interval_sec + interval_sec)
                         % interval_sec),
                 interval_sec)) AS s(i)
        WHERE tmin IS NOT NULL
    )
    SELECT epoch_ms(sp.b_uts * 1000) AS bucket_start,
           COALESCE(o.n_hits, 0) AS n_hits,
           sp.interval_sec
    FROM spine sp LEFT JOIN occ o
      ON o.b_uts = sp.b_uts AND o.interval_sec = sp.interval_sec
    ORDER BY bucket_start
    """
    return f"""{base}
    SELECT epoch_ms((uts - ((uts % interval_sec + interval_sec)
                            % interval_sec)) * 1000)
               AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           interval_sec
    FROM h CROSS JOIN iv
    GROUP BY 1, 3
    ORDER BY bucket_start
    """


# 1-2-5 decade ladder in micro-units (1e-6 .. 5e6), the numeric
# sibling of _HISTO_LADDER: OpenSearch's histogram agg takes an
# explicit interval; the auto form picks the smallest "nice" rung
# keeping the bucket count under budget.
_NUM_LADDER = [
    m * 10**k for k in range(13) for m in (1, 2, 5)
]


def numeric_histogram(
    hits: DataFrame,
    value_col: str,
    *,
    target_buckets: int = 30,
) -> DataFrame:
    """Numeric-field histogram over a search hit set — the Discover
    numeric facet panel (OpenSearch ``histogram`` aggregation, auto
    interval). Same two-pass shape as :func:`date_histogram`: a 1-row
    min/max broadcast fixes the span, the smallest 1-2-5 decade rung
    under ``target_buckets`` wins, and buckets are integer-exact on
    6-decimal fixed point (values quantize via ``floor(v·1e6)`` — the
    repo-wide ``_q6`` portability pattern — so bucket edges never
    depend on float division). Returns
    (bucket_start double, n_hits, interval double) ordered by
    bucket_start; negative values floor toward −∞ in both engines.
    """
    if target_buckets < 1:
        raise ValueError("numeric_histogram needs target_buckets >= 1")
    # missing-value semantics match OpenSearch: null/NaN/±Infinity
    # values are ignored (NaN and ±inf would otherwise error the ANSI
    # long cast)
    v = F.col(value_col).cast("double")
    hits = hits.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    )
    uv = F.floor(F.col(value_col).cast("double") * 1000000.0).cast("long")
    stats = hits.agg(F.min(uv).alias("_vmin"), F.max(uv).alias("_vmax"))
    span = F.col("_vmax") - F.col("_vmin")
    iv = F.lit(_NUM_LADDER[-1]).cast("long")
    for rung in reversed(_NUM_LADDER[:-1]):
        # rung * target as a PYTHON int — see date_histogram: the
        # 5e12-scale rungs overflow a 32-bit literal product
        iv = F.when(
            span < F.lit(rung * target_buckets).cast("long"),
            F.lit(rung).cast("long"),
        ).otherwise(iv)
    ivc = F.col("_ivu")
    # floor-division bucketing, portable for negatives:
    # uv − ((uv % iv + iv) % iv)
    lo = uv - ((uv % ivc + ivc) % ivc)
    return (
        hits.crossJoin(F.broadcast(stats.select(iv.alias("_ivu"))))
        .groupBy(
            (lo.cast("double") / F.lit(1000000.0)).alias("bucket_start"),
            (ivc.cast("double") / F.lit(1000000.0)).alias("interval"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .select("bucket_start", "n_hits", "interval")
        .orderBy("bucket_start")
    )


def numeric_histogram_oracle_sql(
    hits_sql: str,
    value_col: str,
    *,
    target_buckets: int = 30,
) -> str:
    """DuckDB SQL computing the identical numeric histogram."""
    case = "CASE "
    for rung in _NUM_LADDER[:-1]:
        case += (
            f"WHEN (vmax - vmin) < {rung} * {target_buckets} THEN {rung} "
        )
    case += f"ELSE {_NUM_LADDER[-1]} END"
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT CAST(floor(CAST({value_col} AS DOUBLE) * 1000000.0)
                      AS BIGINT) AS uv
          FROM hit_rows
          WHERE {value_col} IS NOT NULL
            AND NOT isnan(CAST({value_col} AS DOUBLE))
            AND NOT isinf(CAST({value_col} AS DOUBLE))),
    stats AS (SELECT MIN(uv) AS vmin, MAX(uv) AS vmax FROM h),
    iv AS (SELECT CAST({case} AS BIGINT) AS ivu FROM stats)
    SELECT CAST(uv - ((uv % ivu + ivu) % ivu) AS DOUBLE) / 1000000.0
               AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(ivu AS DOUBLE) / 1000000.0 AS interval
    FROM h CROSS JOIN iv
    GROUP BY 1, 3
    ORDER BY bucket_start
    """


def histogram_pipeline(
    hist: DataFrame,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    window: int = 3,
) -> DataFrame:
    """Pipeline aggregations over a histogram result — the OpenSearch
    ``derivative`` / ``cumulative_sum`` / ``moving_fn`` (trailing
    average) sibling aggs Discover panels stack on a date histogram:

    - ``derivative``: bucket-over-bucket delta (null for the first
      bucket, the OpenSearch omit-first contract);
    - ``cumulative_sum``: running total in bucket order;
    - ``moving_avg``: trailing mean over the last ``window`` buckets
      (shorter prefix windows average what exists — OpenSearch
      moving_fn with a partial leading window).

    Determinism: inputs are exact long counts; the only division is
    the single trailing-mean divide (long sum / long count), so both
    engines produce identical doubles.

    Execution: the input is a histogram — ≤ target_buckets rows by
    construction — so the unpartitioned order window is a bounded
    single-task pass over already-aggregated data, never the corpus
    (same bounded-result contract as the top-k rank windows).
    """
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("histogram_pipeline needs window >= 1")
    v = F.col(value_col).cast("long")
    w_lag = Window.orderBy(order_col)
    w_cum = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_mov = Window.orderBy(order_col).rowsBetween(-(window - 1), 0)
    return hist.select(
        *hist.columns,
        (v - F.lag(v).over(w_lag)).cast("long").alias("derivative"),
        F.sum(v).over(w_cum).cast("long").alias("cumulative_sum"),
        (
            F.sum(v).over(w_mov).cast("double")
            / F.count(F.lit(1)).over(w_mov).cast("double")
        ).alias("moving_avg"),
    )


def histogram_pipeline_oracle_sql(
    hist_sql: str,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    window: int = 3,
) -> str:
    """DuckDB SQL computing the identical pipeline aggs over
    ``hist_sql`` (a query yielding the histogram rows)."""
    return f"""
    WITH h AS ({hist_sql})
    SELECT h.*,
           CAST({value_col} - lag({value_col}) OVER (ORDER BY {order_col})
                AS BIGINT) AS derivative,
           CAST(SUM({value_col}) OVER (ORDER BY {order_col}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_sum,
           CAST(SUM({value_col}) OVER w AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg
    FROM h
    WINDOW w AS (ORDER BY {order_col}
                 ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)
    """


def range_buckets(
    hits: DataFrame,
    value_col: str,
    ranges: list[tuple],
    *,
    count_alias: str = "n_hits",
) -> DataFrame:
    """Explicit-bounds range aggregation — the OpenSearch ``range``
    agg (and, via a timestamp-cast value column, ``date_range``):
    user-declared ``(key, from, to)`` buckets, ``from`` inclusive /
    ``to`` exclusive / ``None`` unbounded — the OpenSearch bound
    contract. Unlike a histogram the buckets may OVERLAP or leave
    gaps, and a document counts into EVERY range it matches.
    Returns (range_key, range_from, range_to, n_hits) ordered by
    declaration order (OpenSearch keeps user order; a key column
    makes it deterministic here) — empty ranges still appear with a
    zero count (the OpenSearch empty-bucket contract).

    Execution: the ranges are a human-declared literal, so each
    range is ONE conditional count inside a single aggregate over
    the hit set (overlap semantics preserved — every count is an
    independent predicate, unlike a one-bucket-per-row CASE), and
    the 1-row aggregate unpivots through ``inline`` in declaration
    order. One corpus pass, no row×ranges join expansion, empty
    buckets naturally zero. (The former shape — the declared
    relation broadcast into a bound-predicate nested-loop join, a
    per-range groupBy and a counts join-back — paid a |hits|×|ranges|
    BroadcastNestedLoopJoin plus three broadcast-build jobs for the
    same ≤|ranges|-row answer; measured 0.68 s → 0.25 s at sf0.1.)
    Missing values (null/NaN/±Infinity) are ignored, matching the
    histogram missing-value semantics exactly.
    """
    if not ranges:
        raise ValueError("range_buckets needs at least one range")
    keys = [r[0] for r in ranges]
    if len(set(keys)) != len(keys):
        raise ValueError("range keys must be unique")
    v = F.col(value_col).cast("double")
    vals = hits.select(v.alias("_v")).filter(
        F.col("_v").isNotNull()
        & ~F.isnan("_v")
        & (F.abs("_v") != F.lit(float("inf")))
    )
    counts = []
    for i, (_k, lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("_v") >= F.lit(float(lo)))
        if hi is not None:
            cond = cond & (F.col("_v") < F.lit(float(hi)))
        counts.append(
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"_c{i}")
        )
    row = vals.agg(*counts)
    null_d = F.lit(None).cast("double")
    entries = F.array(*[
        F.struct(
            F.lit(str(k)).alias("range_key"),
            (null_d if lo is None else F.lit(float(lo))).alias("range_from"),
            (null_d if hi is None else F.lit(float(hi))).alias("range_to"),
            F.col(f"_c{i}").alias(count_alias),
        )
        for i, (k, lo, hi) in enumerate(ranges)
    ])
    return row.select(F.inline(entries))


def range_buckets_oracle_sql(
    hits_sql: str,
    value_col: str,
    ranges: list[tuple],
    *,
    count_alias: str = "n_hits",
) -> str:
    """DuckDB SQL computing the identical range buckets (values join
    the declared range relation on the same bound predicate; empty
    ranges survive via the left join)."""
    rows = ", ".join(
        f"({i}, '{k}', "
        + ("NULL" if lo is None else f"CAST({float(lo)!r} AS DOUBLE)")
        + ", "
        + ("NULL" if hi is None else f"CAST({float(hi)!r} AS DOUBLE)")
        + ")"
        for i, (k, lo, hi) in enumerate(ranges)
    )
    return f"""
    WITH hit_rows AS ({hits_sql}),
    vals AS (SELECT CAST({value_col} AS DOUBLE) AS v FROM hit_rows
             WHERE {value_col} IS NOT NULL
               AND NOT isnan(CAST({value_col} AS DOUBLE))
               AND NOT isinf(CAST({value_col} AS DOUBLE))),
    r(_ord, range_key, range_from, range_to) AS (VALUES {rows}),
    counts AS (
        SELECT _ord, CAST(COUNT(*) AS BIGINT) AS {count_alias}
        FROM vals JOIN r
          ON (range_from IS NULL OR v >= range_from)
         AND (range_to IS NULL OR v < range_to)
        GROUP BY _ord
    )
    SELECT range_key, range_from, range_to,
           COALESCE({count_alias}, 0) AS {count_alias}
    FROM r LEFT JOIN counts USING (_ord)
    ORDER BY _ord
    """


def composite_agg_page(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    *,
    after: tuple | None = None,
    size: int = 10,
) -> DataFrame:
    """Composite aggregation with keyset paging — the OpenSearch
    ``composite`` agg (paginate ALL buckets of a grouped aggregation
    in key order via ``after``, where terms/date_histogram sources
    cap at the top N): each page returns the next ``size`` buckets
    strictly after the ``after`` key tuple, ordered by the composite
    key ASC.

    Execution: one map-side-combined aggregate over the (pushed-
    filter) input, then the strictly-after keyset predicate and a
    ``TakeOrderedAndProject`` top-``size`` cut — each page costs one
    aggregate pass, no global sort, no OFFSET re-rank, stable under
    concurrent appends (same contract as :func:`keyset_page`).
    """
    if not keys:
        raise ValueError("composite_agg_page needs at least one key")
    if after is not None and len(after) != len(keys):
        raise ValueError("after tuple must match the key arity")
    out = df.groupBy(*keys).agg(
        *[c.alias(k) for k, c in aggs.items()]
    )
    if after is not None:
        pred = F.lit(False)
        eq = F.lit(True)
        for k, a in zip(keys, after):
            pred = pred | (eq & (F.col(k) > F.lit(a)))
            eq = eq & (F.col(k) == F.lit(a))
        out = out.filter(pred)
    return out.orderBy(*[F.col(k).asc() for k in keys]).limit(size)


def keyset_page(
    ranked: DataFrame,
    cursor: DataFrame,
    *,
    score_col: str = "score",
    id_col: str = "doc_id",
    page_size: int = 10,
) -> DataFrame:
    """Deep pagination without OFFSET (OpenSearch ``search_after`` /
    keyset pagination): the page strictly AFTER ``cursor`` — a 1-row
    relation carrying the last-seen (score, id) — in the total order
    (score DESC, id ASC). OFFSET-based paging re-ranks and discards
    N·page rows per page (and skips/duplicates rows when the data
    moves underneath); the keyset filter is stateless, O(page) output
    per request, and stable under concurrent appends.

    Execution: the cursor broadcasts (1 row) into a scan-side filter
    — ``score < s0 OR (score = s0 AND id > i0)`` — so each page costs
    one pruned pass + TakeOrderedAndProject; no global sort, no
    offset scan.
    """
    cur = cursor.select(
        F.col(score_col).alias("_cs"), F.col(id_col).alias("_ci")
    )
    return (
        ranked.crossJoin(F.broadcast(cur))
        .filter(
            (F.col(score_col) < F.col("_cs"))
            | (
                (F.col(score_col) == F.col("_cs"))
                & (F.col(id_col) > F.col("_ci"))
            )
        )
        .drop("_cs", "_ci")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(page_size)
    )


def bucket_script_selector(
    buckets: DataFrame,
    *,
    script: str,
    script_alias: str,
    selector: str | None = None,
    order_col: str = "bucket_start",
) -> DataFrame:
    """``bucket_script`` + ``bucket_selector`` pipeline aggregations —
    the two OpenSearch parent-pipeline aggs that complete the
    :func:`histogram_pipeline` family (derivative / cumulative_sum /
    moving_fn shipped as E153): ``bucket_script`` computes a new
    per-bucket metric from the bucket's existing metrics;
    ``bucket_selector`` then drops buckets whose predicate is false
    (OpenSearch evaluates the selector against the bucket's metric
    set, the computed script metric included).

    ``script`` and ``selector`` are SQL expressions over the bucket
    columns in the engine-portable subset (arithmetic, comparisons,
    CAST, CASE — the same contract the oracle mirrors verbatim); the
    selector may reference ``script_alias``. A null selector keeps
    every bucket (bucket_script alone). Rows where the selector
    evaluates NULL are dropped (SQL WHERE semantics — the OpenSearch
    gap-policy ``skip`` analogue).

    Determinism: callers keep bucket metrics as exact longs so the
    script's divisions are the only doubles — same all-long contract
    as :func:`histogram_pipeline`.

    Execution: the input is a parent aggregation's bucket set —
    ≤ target_buckets rows by construction — so both steps are plain
    narrow projections/filters on already-aggregated data (no
    exchange, no window); order is preserved by re-sorting on
    ``order_col``, the bucket key.
    """
    if not script_alias.isidentifier():
        raise ValueError("script_alias must be a plain identifier")
    if script_alias in buckets.columns:
        raise ValueError(
            f"script_alias {script_alias!r} collides with a bucket column"
        )
    out = buckets.withColumn(script_alias, F.expr(script))
    if selector is not None:
        out = out.filter(F.expr(selector))
    return out.orderBy(order_col)


def bucket_script_selector_oracle_sql(
    buckets_sql: str,
    *,
    script: str,
    script_alias: str,
    selector: str | None = None,
    order_col: str = "bucket_start",
) -> str:
    """DuckDB SQL computing the identical pipeline result over
    ``buckets_sql`` (a query yielding the parent agg's buckets): the
    script projects in an inner query so the selector can reference
    its alias without lateral-alias semantics."""
    where = f"WHERE {selector}" if selector is not None else ""
    return f"""
    WITH b AS ({buckets_sql}),
    scripted AS (SELECT b.*, {script} AS {script_alias} FROM b)
    SELECT * FROM scripted
    {where}
    ORDER BY {order_col}
    """


def sibling_bucket_stats(
    buckets: DataFrame,
    *,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Sibling pipeline aggregations — the OpenSearch ``max_bucket`` /
    ``min_bucket`` / ``avg_bucket`` / ``sum_bucket`` / ``stats_bucket``
    aggs in one pass: given a multi-bucket parent agg's (key, metric)
    rows, return ONE row with the bucket count, the metric's exact sum
    / min / max, the mean, and the key set attaining the min and max
    (OpenSearch's ``keys`` array — max_bucket/min_bucket report EVERY
    bucket tied at the extreme, which is why the key outputs are
    sorted space-joined strings, not single keys).

    Determinism: the metric is an exact long (the all-long bucket
    contract shared with :func:`histogram_pipeline`), so sum/min/max
    are exact and the mean is the single long/long double division;
    the key lists sort lexicographically before joining.

    Execution: the input is a parent aggregation's bucket set —
    ≤ target_buckets rows by construction — so this is one bounded
    single-task aggregate over already-aggregated data, never the
    corpus (the same bounded-result contract as the pipeline-agg
    family); the tie sets ride along as conditional collect_list
    rebuilt per extreme, still within the one aggregate.
    """
    k = F.col(key_col).cast("string")
    v = F.col(value_col).cast("long")
    agg = buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(v).cast("long").alias("sum_v"),
        F.min(v).cast("long").alias("min_v"),
        F.max(v).cast("long").alias("max_v"),
        (
            F.sum(v).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_v"),
        F.collect_list(F.struct(v.alias("v"), k.alias("k"))).alias("_kv"),
    )
    keys_at = lambda extreme: F.array_join(  # noqa: E731
        F.array_sort(
            F.transform(
                F.filter(F.col("_kv"), lambda s: s["v"] == F.col(extreme)),
                lambda s: s["k"],
            )
        ),
        " ",
    )
    return agg.select(
        "n_buckets",
        "sum_v",
        "min_v",
        "max_v",
        "avg_v",
        keys_at("min_v").alias("min_keys"),
        keys_at("max_v").alias("max_keys"),
    )


def sibling_bucket_stats_oracle_sql(
    buckets_sql: str,
    *,
    key_col: str,
    value_col: str,
) -> str:
    """DuckDB SQL computing the identical one-row sibling stats over
    ``buckets_sql`` (a query yielding the parent agg's buckets)."""
    return f"""
    WITH b AS ({buckets_sql}),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                 CAST(SUM({value_col}) AS BIGINT) AS sum_v,
                 CAST(MIN({value_col}) AS BIGINT) AS min_v,
                 CAST(MAX({value_col}) AS BIGINT) AS max_v,
                 CAST(SUM({value_col}) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS avg_v
          FROM b)
    SELECT s.*,
           (SELECT string_agg(CAST({key_col} AS VARCHAR), ' '
                              ORDER BY CAST({key_col} AS VARCHAR))
            FROM b WHERE {value_col} = s.min_v) AS min_keys,
           (SELECT string_agg(CAST({key_col} AS VARCHAR), ' '
                              ORDER BY CAST({key_col} AS VARCHAR))
            FROM b WHERE {value_col} = s.max_v) AS max_keys
    FROM s
    """


def serial_diff_normalize(
    hist: DataFrame,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    lag: int = 1,
) -> DataFrame:
    """``serial_diff`` + ``normalize`` pipeline aggregations — the two
    remaining parent-pipeline aggs after E153/E163: ``serial_diff``
    is the lag-N difference (seasonal differencing — null for the
    first N buckets, the OpenSearch omit-short contract; lag=1
    reduces to ``derivative``), and ``normalize`` rescales the bucket
    metric with the ``percent_of_sum`` and ``range`` (0-1 min-max)
    methods.

    Determinism: the metric is an exact long, so the lag-N delta is
    exact; percent_of_sum is one long/long double division per bucket
    and range is one (long-long)/(long-long) division; a zero-width
    range yields NULL on both engines (0/0 guarded to NULL, the
    OpenSearch single-bucket behavior).

    Execution: the input is a histogram — ≤ target_buckets rows by
    construction — so the unpartitioned order window and the 1-row
    global-extremes aggregate are bounded single-task passes over
    already-aggregated data, never the corpus.
    """
    from pyspark.sql import Window

    if lag < 1:
        raise ValueError("serial_diff_normalize needs lag >= 1")
    v = F.col(value_col).cast("long")
    w_lag = Window.orderBy(order_col)
    w_all = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    total = F.sum(v).over(w_all).cast("long")
    lo = F.min(v).over(w_all).cast("long")
    hi = F.max(v).over(w_all).cast("long")
    return hist.select(
        *hist.columns,
        (v - F.lag(v, lag).over(w_lag)).cast("long").alias("serial_diff"),
        (v.cast("double") / total.cast("double")).alias("percent_of_sum"),
        F.when(
            hi > lo,
            (v - lo).cast("double") / (hi - lo).cast("double"),
        ).alias("range_norm"),
    )


def serial_diff_normalize_oracle_sql(
    hist_sql: str,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    lag: int = 1,
) -> str:
    """DuckDB SQL computing the identical serial_diff + normalize
    columns over ``hist_sql`` (a query yielding the histogram rows)."""
    return f"""
    WITH h AS ({hist_sql})
    SELECT h.*,
           CAST({value_col} - lag({value_col}, {lag})
                    OVER (ORDER BY {order_col}) AS BIGINT) AS serial_diff,
           CAST({value_col} AS DOUBLE)
               / CAST(SUM({value_col}) OVER () AS DOUBLE)
               AS percent_of_sum,
           CASE WHEN MAX({value_col}) OVER () > MIN({value_col}) OVER ()
                THEN CAST({value_col} - MIN({value_col}) OVER () AS DOUBLE)
                     / CAST(MAX({value_col}) OVER ()
                            - MIN({value_col}) OVER () AS DOUBLE)
           END AS range_norm
    FROM h
    """


def moving_percentiles(
    hist: DataFrame,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    window: int = 5,
    percentiles: tuple = (0.5, 0.95),
) -> DataFrame:
    """``moving_percentiles`` pipeline aggregation — the OpenSearch
    x-pack agg (trailing-window percentiles over a histogram metric,
    the rolling-p95 alerting shape ``moving_fn``'s built-ins don't
    cover). EXACT nearest-rank percentiles where OpenSearch merges
    TDigest sketches: the window holds ≤ ``window`` exact longs, so
    ``p`` is element ``ceil(p·n)`` (1-based) of the sorted window —
    no interpolation, output stays an exact long. Shorter leading
    windows use what exists (the moving_fn partial-window contract).

    Determinism: ``ceil(p·n)`` is one IEEE multiply + ceil on a
    literal and a small integer — identical cross-engine; everything
    else is integer selection.

    Execution: the input is a histogram — ≤ target_buckets rows — so
    the unpartitioned order window collecting ≤ ``window``-element
    arrays is a bounded single-task pass over already-aggregated
    data, never the corpus (the pipeline-agg family contract).
    """
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("moving_percentiles needs window >= 1")
    if not percentiles or not all(0.0 < p <= 1.0 for p in percentiles):
        raise ValueError("percentiles must be in (0, 1]")
    v = F.col(value_col).cast("long")
    w_mov = Window.orderBy(order_col).rowsBetween(-(window - 1), 0)
    arr = F.array_sort(F.collect_list(v).over(w_mov))
    cols = [
        F.element_at(
            arr, F.ceil(F.lit(float(p)) * F.size(arr)).cast("int")
        ).alias(f"p{int(round(p * 100))}")
        for p in percentiles
    ]
    return hist.select(*hist.columns, *cols).orderBy(order_col)


def moving_percentiles_oracle_sql(
    hist_sql: str,
    *,
    value_col: str = "n_hits",
    order_col: str = "bucket_start",
    window: int = 5,
    percentiles: tuple = (0.5, 0.95),
) -> str:
    """DuckDB SQL computing the identical exact nearest-rank moving
    percentiles over ``hist_sql``."""
    cols = ",\n           ".join(
        f"list_sort(list({value_col}) OVER w)"
        f"[CAST(ceil({float(p)!r} * len(list({value_col}) OVER w)) "
        f"AS BIGINT)] AS p{int(round(p * 100))}"
        for p in percentiles
    )
    return f"""
    WITH h AS ({hist_sql})
    SELECT h.*,
           {cols}
    FROM h
    WINDOW w AS (ORDER BY {order_col}
                 ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)
    ORDER BY {order_col}
    """


def cumulative_cardinality(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """``cumulative_cardinality`` pipeline aggregation — the
    OpenSearch x-pack agg stacked on a daily date histogram ("total
    unique users to date", where a per-bucket ``cardinality`` counts
    each day independently and a cumulative_sum over those
    DOUBLE-COUNTS returning users). Rows missing the key or the
    timestamp drop (the cardinality missing-value contract).

    EXACT, no sketch: an entity contributes to the cumulative count
    from its FIRST bucket onward, so ``cumulative_distinct(d) =
    Σ_{d' ≤ d} |{k : first_bucket(k) = d'}|`` — one key-keyed
    min-aggregate + one bounded bucket-level cumulative sum, where
    OpenSearch merges per-bucket HLL sketches. Returns (day, n_new,
    cumulative_distinct) for every day PRESENT in the input (days
    with no first-seen keys report n_new = 0), day as the ISO string
    key (lexicographic == chronological, the composite_agg
    precedent).

    Scale shape: the only corpus-sized exchange is the groupBy(key)
    min — map-side-combined, carrying (key, day) pairs only; the
    day-level relations are ≤|days| rows and the cumulative window
    is a bounded single-task pass (the pipeline-agg family
    contract).
    """
    from pyspark.sql import Window

    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    rows = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    first = (
        rows.select(day.alias("day"), F.col(key_col).alias("_k"))
        .groupBy("_k")
        .agg(F.min("day").alias("day"))
    )
    new_per_day = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    days = rows.select(day.alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)).cast("long"))
        .select(
            "day",
            "n_new",
            F.sum("n_new").over(w).cast("long").alias("cumulative_distinct"),
        )
        .orderBy("day")
    )


def cumulative_cardinality_oracle_sql(
    *,
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> str:
    """DuckDB SQL computing the identical exact cumulative distinct
    count."""
    return f"""
    WITH rows_ AS (
        SELECT strftime({ts_col}, '%Y-%m-%d') AS day, {key_col} AS k
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    first_ AS (SELECT k, MIN(day) AS day FROM rows_ GROUP BY k),
    new_per_day AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
                    FROM first_ GROUP BY day),
    days AS (SELECT DISTINCT day FROM rows_)
    SELECT d.day,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_distinct
    FROM days d LEFT JOIN new_per_day n USING (day)
    ORDER BY d.day
    """


def top_metrics(
    df: DataFrame,
    *,
    bucket_col: str,
    sort_col: str,
    tie_col: str,
    metric_col: str,
    mode: str = "max",
) -> DataFrame:
    """``top_metrics`` aggregation — the OpenSearch agg returning,
    per bucket, the metric value of the document at the extreme of a
    sort field ("the value of the LATEST event per type" — the
    argmax shape ``max(metric)`` cannot express). ``mode`` is
    ``max`` | ``min`` (OpenSearch ``sort`` order). OpenSearch leaves
    sort ties shard-dependent; ``tie_col`` (a unique id) makes the
    extreme total — the engine-wide determinism stance. Rows missing
    the sort field or the tiebreak drop (the missing-sort contract).

    Returns (bucket, sort_us, tie, metric): the sort value rides out
    as epoch MICROSECONDS when it is a timestamp-typed column
    (exact long, no cross-engine timestamp canonicalization), else
    cast long.

    Scale shape: ONE map-side-combined aggregate — the extreme
    computes as max/min over (sort, tie, metric) STRUCTS whose
    lexicographic compare never reaches the metric (tie is unique),
    so no per-bucket sort, no window over the corpus, and partial
    aggregation halves the shuffle before the bucket exchange.
    """
    if mode not in ("max", "min"):
        raise ValueError("mode must be 'max' or 'min'")
    sort_t = dict(df.dtypes).get(sort_col)
    s_expr = (
        F.unix_micros(F.col(sort_col))
        if sort_t == "timestamp"
        else F.col(sort_col).cast("long")
    )
    packed = df.filter(
        F.col(sort_col).isNotNull() & F.col(tie_col).isNotNull()
    ).select(
        F.col(bucket_col),
        F.struct(
            s_expr.alias("s"),
            F.col(tie_col).cast("long").alias("t"),
            F.col(metric_col).alias("m"),
        ).alias("_p"),
    )
    agg = F.max("_p") if mode == "max" else F.min("_p")
    return (
        packed.groupBy(bucket_col)
        .agg(agg.alias("_p"))
        .select(
            bucket_col,
            F.col("_p.s").alias("sort_us"),
            F.col("_p.t").alias(tie_col),
            F.col("_p.m").alias(metric_col),
        )
        .orderBy(bucket_col)
    )


def top_metrics_oracle_sql(
    *,
    table: str = "events",
    bucket_col: str = "event_type",
    sort_col: str = "ts",
    tie_col: str = "event_id",
    metric_col: str = "value",
    mode: str = "max",
    sort_is_timestamp: bool = True,
) -> str:
    """DuckDB SQL computing the identical per-bucket argmax/argmin
    row (row_number over (sort, tie) — reaches the same total-order
    extreme as the struct compare)."""
    direction = "DESC" if mode == "max" else "ASC"
    s_out = (
        f"epoch_us({sort_col})" if sort_is_timestamp
        else f"CAST({sort_col} AS BIGINT)"
    )
    return f"""
    SELECT {bucket_col}, CAST({s_out} AS BIGINT) AS sort_us,
           CAST({tie_col} AS BIGINT) AS {tie_col}, {metric_col}
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY {bucket_col}
            ORDER BY {sort_col} {direction}, {tie_col} {direction}) AS rn
        FROM {table}
        WHERE {sort_col} IS NOT NULL AND {tie_col} IS NOT NULL
    )
    WHERE rn = 1
    ORDER BY {bucket_col}
    """


def filters_agg(
    hits: DataFrame,
    filters: list[tuple],
    *,
    other_bucket_key: str | None = None,
) -> DataFrame:
    """Named-filters bucket aggregation — the OpenSearch ``filters``
    agg (the Discover multi-pill view: each bucket is an independent
    user-declared predicate; a document counts into EVERY bucket it
    matches, buckets may overlap, empty buckets still appear — the
    E158 range-agg contract generalized to arbitrary predicates).
    ``filters`` is ``[(key, predicate_sql)]`` in declaration order;
    predicates are engine-portable SQL boolean expressions (the
    :func:`bucket_script_selector` contract). ``other_bucket_key``
    adds the OpenSearch other_bucket: rows matching NO declared
    filter. NULL predicate results count as non-matching (SQL
    filter semantics). Returns (filter_key, n_hits) in declaration
    order, other bucket last.

    Execution: ONE scan, ONE 1-row aggregate — every bucket is a
    conditional sum in the same aggregate (no per-filter scans, no
    join, no shuffle beyond the global agg), then the 1-row result
    unpivots through a ≤|filters|-row literal. Corpus work is
    independent of the filter count.
    """
    if not filters:
        raise ValueError("filters_agg needs at least one filter")
    keys = [k for k, _ in filters]
    if len(set(keys)) != len(keys):
        raise ValueError("filter keys must be unique")
    if other_bucket_key is not None and other_bucket_key in keys:
        raise ValueError("other_bucket_key collides with a filter key")
    conds = [F.expr(p) for _, p in filters]
    # COALESCE to 0: over an EMPTY hits relation SUM is NULL, but the
    # documented contract ("empty buckets still appear") means zero
    # counts, matching OpenSearch's 0 for no-match filters.
    aggs = [
        F.coalesce(F.sum(F.when(c, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(f"_k{i}")
        for i, c in enumerate(conds)
    ]
    names = list(keys)
    if other_bucket_key is not None:
        none_match = F.lit(True)
        for c in conds:
            none_match = none_match & ~F.coalesce(c, F.lit(False))
        aggs.append(
            F.coalesce(F.sum(F.when(none_match, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"_k{len(conds)}")
        )
        names.append(other_bucket_key)
    row = hits.agg(*aggs)
    # stack(n, ord0, key0, cnt0, ...) → rows (ord, filter_key, n_hits)
    exprs = ", ".join(
        f"{i}, '{k}', _k{i}" for i, k in enumerate(names)
    )
    out = row.select(
        F.expr(f"stack({len(names)}, {exprs}) AS (_ord, filter_key, n_hits)")
    )
    return (
        out.orderBy("_ord")
        .select("filter_key", F.col("n_hits").cast("long").alias("n_hits"))
    )


def filters_agg_oracle_sql(
    hits_sql: str,
    filters: list[tuple],
    *,
    other_bucket_key: str | None = None,
) -> str:
    """DuckDB SQL computing the identical named-filter buckets (same
    single-aggregate + literal-unpivot shape)."""
    sums = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN {p} THEN 1 ELSE 0 END), 0)"
        f" AS BIGINT) AS _k{i}"
        for i, (_, p) in enumerate(filters)
    )
    names = [k for k, _ in filters]
    if other_bucket_key is not None:
        none = " AND ".join(
            f"NOT COALESCE(({p}), FALSE)" for _, p in filters
        )
        sums += (
            f", CAST(COALESCE(SUM(CASE WHEN {none} THEN 1 ELSE 0 END), 0)"
            f" AS BIGINT) AS _k{len(filters)}"
        )
        names.append(other_bucket_key)
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS _ord, '{k}' AS filter_key, _k{i} AS n_hits FROM agg"
        for i, k in enumerate(names)
    )
    return f"""
    WITH h AS ({hits_sql}),
    agg AS (SELECT {sums} FROM h)
    SELECT filter_key, n_hits FROM ({sel})
    ORDER BY _ord
    """


def adjacency_matrix(
    hits: DataFrame,
    filters: list[tuple],
    *,
    separator: str = "&",
) -> DataFrame:
    """Adjacency-matrix aggregation — the OpenSearch
    ``adjacency_matrix`` agg (co-occurrence counts over named
    filters: one bucket per filter alone plus one per PAIRWISE
    intersection, keys joined ``a&b`` in key order; OpenSearch omits
    empty buckets, mirrored here). Returns (bucket_key, n_hits),
    n_hits > 0, ordered by bucket_key — the deterministic OpenSearch
    response order.

    Execution: same shape as :func:`filters_agg` — ONE scan, ONE
    1-row aggregate holding |F| + C(|F|,2) conditional sums (the
    filter list is human-declared and small; OpenSearch hard-caps at
    100 filters for the same reason), unpivoted through a literal.
    No joins, no per-bucket passes.
    """
    if not filters:
        raise ValueError("adjacency_matrix needs at least one filter")
    keys = [k for k, _ in filters]
    if len(set(keys)) != len(keys):
        raise ValueError("filter keys must be unique")
    if any(separator in k for k in keys):
        raise ValueError(
            f"filter keys must not contain the separator {separator!r}"
        )
    pairs = sorted(zip(keys, [p for _, p in filters]))
    buckets: list[tuple[str, object]] = []
    for i, (ka, pa) in enumerate(pairs):
        buckets.append((ka, F.coalesce(F.expr(pa), F.lit(False))))
    for i, (ka, pa) in enumerate(pairs):
        for kb, pb in pairs[i + 1:]:
            buckets.append(
                (
                    f"{ka}{separator}{kb}",
                    F.coalesce(F.expr(pa), F.lit(False))
                    & F.coalesce(F.expr(pb), F.lit(False)),
                )
            )
    aggs = [
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"_k{i}")
        for i, (_, c) in enumerate(buckets)
    ]
    row = hits.agg(*aggs)
    exprs = ", ".join(
        f"'{k}', _k{i}" for i, (k, _) in enumerate(buckets)
    )
    out = row.select(
        F.expr(
            f"stack({len(buckets)}, {exprs}) AS (bucket_key, n_hits)"
        )
    )
    return (
        out.filter(F.col("n_hits") > 0)
        .select("bucket_key", F.col("n_hits").cast("long").alias("n_hits"))
        .orderBy("bucket_key")
    )


def adjacency_matrix_oracle_sql(
    hits_sql: str,
    filters: list[tuple],
    *,
    separator: str = "&",
) -> str:
    """DuckDB SQL computing the identical adjacency matrix."""
    pairs = sorted(filters)
    buckets = [
        (k, f"COALESCE(({p}), FALSE)") for k, p in pairs
    ]
    for i, (ka, pa) in enumerate(pairs):
        for kb, pb in pairs[i + 1:]:
            buckets.append(
                (
                    f"{ka}{separator}{kb}",
                    f"COALESCE(({pa}), FALSE) AND COALESCE(({pb}), FALSE)",
                )
            )
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS _k{i}"
        for i, (_, c) in enumerate(buckets)
    )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT '{k}' AS bucket_key, _k{i} AS n_hits FROM agg"
        for i, (k, _) in enumerate(buckets)
    )
    return f"""
    WITH h AS ({hits_sql}),
    agg AS (SELECT {sums} FROM h)
    SELECT bucket_key, n_hits FROM ({sel})
    WHERE n_hits > 0
    ORDER BY bucket_key
    """


def percentile_ranks(
    hits: DataFrame,
    value_col: str,
    values: list[float],
) -> DataFrame:
    """Percentile-ranks metric aggregation — the OpenSearch
    ``percentile_ranks`` agg inverted from ``percentiles``: for each
    user-declared probe value, the percentage of observed values at
    or below it. OpenSearch estimates this with a t-digest; a
    distributed exact count needs no sketch, so this engine returns
    the EXACT rank — ``100·|{x ≤ v}| / N`` as one division of exact
    longs (the deterministic analogue, same exactness argument as
    E155 rare_terms vs CuckooFilters). Missing values (null/NaN)
    are ignored. Returns (value, percentile_rank) in declaration
    order.

    Execution: the probe list is human-declared and small — ONE scan,
    ONE 1-row aggregate of conditional sums (the E163 filters_agg
    shape), literal unpivot. Corpus work independent of probe count.
    """
    if not values:
        raise ValueError("percentile_ranks needs at least one value")
    if len(set(values)) != len(values):
        raise ValueError("probe values must be unique")
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v)
    aggs = [
        F.sum(F.when(ok & (v <= F.lit(float(x))), 1).otherwise(0))
        .cast("long")
        .alias(f"_c{i}")
        for i, x in enumerate(values)
    ]
    aggs.append(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("_n")
    )
    row = hits.agg(*aggs)
    exprs = ", ".join(
        f"CAST({float(x)!r} AS DOUBLE), "
        f"CAST(100 * _c{i} AS DOUBLE) / CAST(_n AS DOUBLE)"
        for i, x in enumerate(values)
    )
    return row.select(
        F.expr(
            f"stack({len(values)}, {exprs}) AS (value, percentile_rank)"
        )
    )


def percentile_ranks_oracle_sql(
    hits_sql: str,
    value_col: str,
    values: list[float],
) -> str:
    """DuckDB SQL computing the identical exact percentile ranks."""
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN v <= {float(x)!r} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS _c{i}"
        for i, x in enumerate(values)
    )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS _ord, CAST({float(x)!r} AS DOUBLE) AS value, "
        f"CAST(100 * _c{i} AS DOUBLE) / CAST(_n AS DOUBLE)"
        f" AS percentile_rank FROM agg"
        for i, x in enumerate(values)
    )
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT CAST({value_col} AS DOUBLE) AS v FROM hit_rows
          WHERE {value_col} IS NOT NULL
            AND NOT isnan(CAST({value_col} AS DOUBLE))),
    agg AS (SELECT {sums}, CAST(COUNT(*) AS BIGINT) AS _n FROM h)
    SELECT value, percentile_rank FROM ({sel})
    ORDER BY _ord
    """


def bucket_sort(
    buckets: DataFrame,
    sort: list[tuple],
    *,
    from_: int = 0,
    size: int | None = None,
) -> DataFrame:
    """``bucket_sort`` pipeline aggregation — the last of the
    OpenSearch parent-pipeline aggs (with E153's derivative /
    cumulative_sum / moving_fn and E161's bucket_script /
    bucket_selector the set is complete): re-order the parent
    aggregation's buckets by metric(s) and truncate with
    ``from_``/``size`` — bucket-space paging without re-keying.
    ``sort`` is ``[(column, "asc"|"desc")]``; buckets with a NULL
    sort key drop (the OpenSearch ``gap_policy: skip`` default —
    also what makes NULL ordering engine-agnostic). Ties break by
    the remaining sort keys, then nothing: callers wanting total
    determinism include a unique key in ``sort`` (the registry
    fixture does; OpenSearch leaves ties shard-ordered, we require
    them resolved).

    Execution: the input is a parent aggregation's bucket set —
    bounded rows — so the global sort + truncation is a single
    bounded pass (TakeOrderedAndProject when size caps it), never
    corpus work.
    """
    if not sort:
        raise ValueError("bucket_sort needs at least one sort key")
    if from_ < 0 or (size is not None and size < 1):
        raise ValueError("from_ must be >= 0 and size >= 1")
    order = []
    keep = F.lit(True)
    for col, direction in sort:
        if direction not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc|desc: {direction!r}")
        keep = keep & F.col(col).isNotNull()
        order.append(
            F.col(col).asc() if direction == "asc" else F.col(col).desc()
        )
    out = buckets.filter(keep).orderBy(*order)
    if from_:
        out = out.offset(from_)
    if size is not None:
        out = out.limit(size)
    return out


def bucket_sort_oracle_sql(
    buckets_sql: str,
    sort: list[tuple],
    *,
    from_: int = 0,
    size: int | None = None,
) -> str:
    """DuckDB SQL computing the identical bucket page."""
    keep = " AND ".join(f"{c} IS NOT NULL" for c, _ in sort)
    order = ", ".join(f"{c} {d.upper()}" for c, d in sort)
    limit = f"LIMIT {size}" if size is not None else "LIMIT ALL"
    offset = f"OFFSET {from_}" if from_ else ""
    return f"""
    WITH b AS ({buckets_sql})
    SELECT * FROM b
    WHERE {keep}
    ORDER BY {order}
    {limit} {offset}
    """


_ES_FP = 1_000_000  # 6-decimal fixed point, matches plans/queries._q6


def extended_stats(
    hits: DataFrame,
    value_col: str,
    *,
    sigma: float = 2.0,
) -> DataFrame:
    """Extended-stats metric aggregation — the OpenSearch
    ``extended_stats`` agg (the Discover metric panel's one-shot
    summary: count, min, max, sum, avg, sum_of_squares, variance,
    std_deviation and the ``sigma``-scaled std-deviation bounds).
    Variance/std are POPULATION moments, the figure OpenSearch's
    ``variance``/``std_deviation`` fields report. Missing values
    (null/NaN/±inf) are ignored per the histogram missing-value
    contract (E145/E158).

    Cross-engine determinism: values quantize to 6-dp longs; every
    sum runs exact (DECIMAL(38,0) — sum-of-squares exceeds BIGINT at
    corpus scale) and only FINAL expressions touch doubles, each a
    short IEEE chain (cast, multiply, divide, sqrt — all
    correctly-rounded ops) mirrored verbatim in the oracle SQL, so
    both engines produce bit-identical doubles. ``variance`` clamps
    at zero (the exact moments can land an ulp negative after the
    double subtraction) — mirrored with ``greatest`` on both sides.

    Execution: ONE scan, ONE 1-row aggregate (map-side partials do
    all the work; the merge is |partitions| rows). Output is a
    single row — corpus-size-independent.
    """
    if sigma < 0:
        raise ValueError("sigma must be >= 0")
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    qv = F.when(ok, F.round(v * _ES_FP, 0).cast("decimal(19,0)"))
    row = hits.agg(
        F.count(qv).cast("long").alias("_n"),
        F.min(qv).cast("decimal(19,0)").alias("_min"),
        F.max(qv).cast("decimal(19,0)").alias("_max"),
        F.sum(qv).cast("decimal(38,0)").alias("_s1"),
        F.sum(qv * qv).cast("decimal(38,0)").alias("_s2"),
    )
    n_d = F.col("_n").cast("double")
    s1_d = F.col("_s1").cast("double")
    s2_d = F.col("_s2").cast("double")
    avg = s1_d / n_d / F.lit(float(_ES_FP))
    var = F.greatest(
        (s2_d - s1_d * s1_d / n_d) / n_d / F.lit(float(_ES_FP) ** 2),
        F.lit(0.0),
    )
    std = F.sqrt(var)
    return row.select(
        F.col("_n").alias("n"),
        (F.col("_min").cast("double") / _ES_FP).alias("min_value"),
        (F.col("_max").cast("double") / _ES_FP).alias("max_value"),
        (s1_d / F.lit(float(_ES_FP))).alias("sum_value"),
        avg.alias("avg_value"),
        (s2_d / F.lit(float(_ES_FP) ** 2)).alias("sum_of_squares"),
        var.alias("variance"),
        std.alias("std_deviation"),
        (avg + F.lit(float(sigma)) * std).alias("std_upper"),
        (avg - F.lit(float(sigma)) * std).alias("std_lower"),
    )


def extended_stats_oracle_sql(
    hits_sql: str,
    value_col: str,
    *,
    sigma: float = 2.0,
) -> str:
    """DuckDB SQL computing the identical extended stats (same
    quantization, same exact decimal sums, same final IEEE
    expressions)."""
    fp = float(_ES_FP)
    fp2 = fp * fp
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                      AS DECIMAL(19,0)) AS qv
          FROM hit_rows
          WHERE {value_col} IS NOT NULL
            AND NOT isnan(CAST({value_col} AS DOUBLE))
            AND NOT isinf(CAST({value_col} AS DOUBLE))),
    agg AS (SELECT CAST(COUNT(qv) AS BIGINT) AS _n,
                   CAST(MIN(qv) AS DECIMAL(19,0)) AS _min,
                   CAST(MAX(qv) AS DECIMAL(19,0)) AS _max,
                   CAST(SUM(qv) AS DECIMAL(38,0)) AS _s1,
                   CAST(SUM(qv * qv) AS DECIMAL(38,0)) AS _s2
            FROM h)
    SELECT _n AS n,
           CAST(_min AS DOUBLE) / {_ES_FP} AS min_value,
           CAST(_max AS DOUBLE) / {_ES_FP} AS max_value,
           CAST(_s1 AS DOUBLE) / CAST({fp!r} AS DOUBLE) AS sum_value,
           CAST(_s1 AS DOUBLE) / CAST(_n AS DOUBLE)
               / CAST({fp!r} AS DOUBLE) AS avg_value,
           CAST(_s2 AS DOUBLE) / CAST({fp2!r} AS DOUBLE) AS sum_of_squares,
           greatest((CAST(_s2 AS DOUBLE)
                     - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE)
                       / CAST(_n AS DOUBLE))
                    / CAST(_n AS DOUBLE) / CAST({fp2!r} AS DOUBLE),
                    CAST(0.0 AS DOUBLE)) AS variance,
           sqrt(greatest((CAST(_s2 AS DOUBLE)
                          - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE)
                            / CAST(_n AS DOUBLE))
                         / CAST(_n AS DOUBLE) / CAST({fp2!r} AS DOUBLE),
                         CAST(0.0 AS DOUBLE))) AS std_deviation,
           avg_value + CAST({float(sigma)!r} AS DOUBLE) * std_deviation
               AS std_upper,
           avg_value - CAST({float(sigma)!r} AS DOUBLE) * std_deviation
               AS std_lower
    FROM agg
    """


def multi_terms(
    hits: DataFrame,
    keys: list[str],
    *,
    size: int = 10,
) -> DataFrame:
    """Multi-terms bucket aggregation — the OpenSearch ``multi_terms``
    agg: buckets keyed by a TUPLE of field values (the Discover
    "split series by two fields" shape that a plain ``terms`` agg
    cannot express without a scripted concat), top-``size`` by
    document count. Rows with a null in ANY key component drop —
    OpenSearch's missing-bucket default. Ties order by the key tuple
    ascending (OpenSearch leaves ties shard-ordered; we require them
    resolved — the E165 determinism stance).

    Execution: ONE scan, ONE hash aggregate on the composite key
    (map-side combined), TakeOrderedAndProject for the top-size cut —
    the same shape as a single-key terms agg; the tuple key only
    widens the grouping row.
    """
    if not keys or len(set(keys)) != len(keys):
        raise ValueError("multi_terms needs a non-empty unique key list")
    if size < 1:
        raise ValueError("size must be >= 1")
    keep = F.lit(True)
    for k in keys:
        keep = keep & F.col(k).isNotNull()
    order = [F.col("doc_count").desc()] + [F.col(k).asc() for k in keys]
    return (
        hits.filter(keep)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
        .orderBy(*order)
        .limit(size)
    )


def multi_terms_oracle_sql(
    hits_sql: str,
    keys: list[str],
    *,
    size: int = 10,
) -> str:
    """DuckDB SQL computing the identical multi-terms buckets."""
    cols = ", ".join(keys)
    keep = " AND ".join(f"{k} IS NOT NULL" for k in keys)
    order = ", ".join(f"{k} ASC" for k in keys)
    return f"""
    WITH hit_rows AS ({hits_sql})
    SELECT {cols}, CAST(COUNT(*) AS BIGINT) AS doc_count
    FROM hit_rows
    WHERE {keep}
    GROUP BY {cols}
    ORDER BY doc_count DESC, {order}
    LIMIT {size}
    """


def weighted_avg(
    hits: DataFrame,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Weighted-average metric aggregation — the OpenSearch
    ``weighted_avg`` agg: ``Σ(value·weight) / Σ(weight)``. Rows
    where EITHER side is missing (null/NaN/±inf) drop — the
    OpenSearch default (``value_count`` reports the surviving rows).

    Cross-engine determinism: both columns quantize to 6-dp longs,
    the products sum exact in DECIMAL(38,0) (a 6-dp × 6-dp product
    is 12-dp — BIGINT-overflowable at corpus scale), and ONE final
    double division chain produces the average — the E160/E166
    quantized-exact argument.

    Execution: ONE scan, ONE 1-row aggregate — map-side partials
    carry (Σvw, Σw, n) only.
    """
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    ok = (
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
        & w.isNotNull() & ~F.isnan(w) & (F.abs(w) != F.lit(float("inf")))
    )
    qv = F.when(ok, F.round(v * _ES_FP, 0).cast("decimal(19,0)"))
    qw = F.when(ok, F.round(w * _ES_FP, 0).cast("decimal(19,0)"))
    row = hits.agg(
        F.sum(qv * qw).cast("decimal(38,0)").alias("_svw"),
        F.sum(qw).cast("decimal(38,0)").alias("_sw"),
        F.count(qv).cast("long").alias("_n"),
    )
    return row.select(
        (
            F.col("_svw").cast("double")
            / F.col("_sw").cast("double")
            / F.lit(float(_ES_FP))
        ).alias("weighted_avg"),
        F.col("_n").alias("value_count"),
    )


def matrix_stats(
    hits: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Matrix-stats aggregation — the OpenSearch ``matrix_stats``
    agg's covariance/correlation surface: for every unordered field
    pair (x < y in declaration order) the POPULATION covariance and
    the Pearson correlation over COMPLETE rows (a doc missing ANY of
    the fields — null/NaN/±inf — drops from the whole matrix, the
    OpenSearch row-wise contract). Per-field moments are
    :func:`extended_stats`' job; the pair matrix is what a plain agg
    cannot express.

    Returns (field_x, field_y, n, mean_x, mean_y, covariance,
    correlation) ordered by declaration-pair order; ``correlation``
    is NULL when either side has zero variance.

    Cross-engine determinism: each field quantizes to 6-dp longs;
    Σx, Σx², Σxy all sum exact in DECIMAL(38,0); covariance and
    correlation are short IEEE chains over the exact sums, mirrored
    verbatim in the oracle — the scale factor cancels inside the
    correlation (both numerator and denominator carry fp², so it is
    computed in quantized units with no extra rounding steps).

    Execution: ONE scan, ONE 1-row aggregate holding
    |F| + |F|·(|F|+1)/2 sums (map-side partials carry everything),
    then a ≤C(|F|,2)-row literal unpivot — corpus-size-independent
    output.
    """
    if len(cols) < 2 or len(set(cols)) != len(cols):
        raise ValueError("matrix_stats needs >= 2 distinct columns")
    ok = F.lit(True)
    for c in cols:
        v = F.col(c).cast("double")
        ok = (
            ok & v.isNotNull() & ~F.isnan(v)
            & (F.abs(v) != F.lit(float("inf")))
        )
    qs = {
        c: F.when(
            ok, F.round(F.col(c).cast("double") * _ES_FP, 0)
        ).cast("decimal(19,0)")
        for c in cols
    }
    aggs = [F.count(qs[cols[0]]).cast("long").alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(qs[c]).cast("decimal(38,0)").alias(f"_s{i}"))
    pairs = []
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            pairs.append((i, j))
            aggs.append(
                F.sum(qs[cols[i]] * qs[cols[j]])
                .cast("decimal(38,0)")
                .alias(f"_p{i}_{j}")
            )
    row = hits.agg(*aggs)
    n_d = F.col("_n").cast("double")

    def _cov_q(i, j):
        return (
            F.col(f"_p{min(i, j)}_{max(i, j)}").cast("double")
            - F.col(f"_s{i}").cast("double")
            * F.col(f"_s{j}").cast("double") / n_d
        ) / n_d

    out = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            cov_q = _cov_q(i, j)
            var_i = F.greatest(_cov_q(i, i), F.lit(0.0))
            var_j = F.greatest(_cov_q(j, j), F.lit(0.0))
            denom = F.sqrt(var_i * var_j)
            out.append(
                F.struct(
                    F.lit(cols[i]).alias("field_x"),
                    F.lit(cols[j]).alias("field_y"),
                    F.col("_n").alias("n"),
                    (F.col(f"_s{i}").cast("double") / n_d
                     / F.lit(float(_ES_FP))).alias("mean_x"),
                    (F.col(f"_s{j}").cast("double") / n_d
                     / F.lit(float(_ES_FP))).alias("mean_y"),
                    (cov_q / F.lit(float(_ES_FP) ** 2)).alias("covariance"),
                    F.when(denom > F.lit(0.0), cov_q / denom)
                    .alias("correlation"),
                )
            )
    return row.select(
        F.explode(F.array(*out)).alias("_r")
    ).select("_r.*")


def matrix_stats_oracle_sql(
    hits_sql: str,
    cols: list[str],
) -> str:
    """DuckDB SQL computing the identical pair matrix (same
    quantization, same exact decimal sums, same IEEE chains)."""
    fp = float(_ES_FP)
    fp2 = fp * fp
    oks = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan(CAST({c} AS DOUBLE)) "
        f"AND NOT isinf(CAST({c} AS DOUBLE))"
        for c in cols
    )
    qcols = ", ".join(
        f"CAST(round(CAST({c} AS DOUBLE) * {_ES_FP}, 0) "
        f"AS DECIMAL(19,0)) AS q{i}"
        for i, c in enumerate(cols)
    )
    sums = ["CAST(COUNT(*) AS BIGINT) AS _n"]
    for i in range(len(cols)):
        sums.append(f"CAST(SUM(q{i}) AS DECIMAL(38,0)) AS _s{i}")
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            sums.append(
                f"CAST(SUM(q{i} * q{j}) AS DECIMAL(38,0)) AS _p{i}_{j}"
            )

    def cov_q(i, j):
        a, b = min(i, j), max(i, j)
        return (
            f"((CAST(_p{a}_{b} AS DOUBLE) - CAST(_s{i} AS DOUBLE) "
            f"* CAST(_s{j} AS DOUBLE) / CAST(_n AS DOUBLE)) "
            f"/ CAST(_n AS DOUBLE))"
        )

    sel = []
    k = 0
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            denom = (
                f"sqrt(greatest({cov_q(i, i)}, CAST(0.0 AS DOUBLE)) "
                f"* greatest({cov_q(j, j)}, CAST(0.0 AS DOUBLE)))"
            )
            sel.append(
                f"SELECT {k} AS _ord, '{cols[i]}' AS field_x, "
                f"'{cols[j]}' AS field_y, _n AS n, "
                f"CAST(_s{i} AS DOUBLE) / CAST(_n AS DOUBLE) "
                f"/ CAST({fp!r} AS DOUBLE) AS mean_x, "
                f"CAST(_s{j} AS DOUBLE) / CAST(_n AS DOUBLE) "
                f"/ CAST({fp!r} AS DOUBLE) AS mean_y, "
                f"{cov_q(i, j)} / CAST({fp2!r} AS DOUBLE) AS covariance, "
                f"CASE WHEN {denom} > CAST(0.0 AS DOUBLE) "
                f"THEN {cov_q(i, j)} / {denom} END AS correlation "
                f"FROM agg"
            )
            k += 1
    union = "\n    UNION ALL\n    ".join(sel)
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT {qcols} FROM hit_rows WHERE {oks}),
    agg AS (SELECT {", ".join(sums)} FROM h)
    SELECT field_x, field_y, n, mean_x, mean_y, covariance, correlation
    FROM ({union})
    ORDER BY _ord
    """


def weighted_avg_oracle_sql(
    hits_sql: str,
    value_col: str,
    weight_col: str,
) -> str:
    """DuckDB SQL computing the identical weighted average."""
    fp = float(_ES_FP)
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT
            CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                 AS DECIMAL(19,0)) AS qv,
            CAST(round(CAST({weight_col} AS DOUBLE) * {_ES_FP}, 0)
                 AS DECIMAL(19,0)) AS qw
          FROM hit_rows
          WHERE {value_col} IS NOT NULL
            AND NOT isnan(CAST({value_col} AS DOUBLE))
            AND NOT isinf(CAST({value_col} AS DOUBLE))
            AND {weight_col} IS NOT NULL
            AND NOT isnan(CAST({weight_col} AS DOUBLE))
            AND NOT isinf(CAST({weight_col} AS DOUBLE)))
    SELECT CAST(CAST(SUM(qv * qw) AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(CAST(SUM(qw) AS DECIMAL(38,0)) AS DOUBLE)
               / CAST({fp!r} AS DOUBLE) AS weighted_avg,
           CAST(COUNT(qv) AS BIGINT) AS value_count
    FROM h
    """




def _global_cum(dist: DataFrame):
    """Range-partition a (qv, cnt) distribution by qv and compute the
    PARTITION-LOCAL inclusive cumulative count with an
    order-preserving Arrow pass — no WindowExec anywhere in the
    plan. Returns (d, parts): ``d`` the persisted (qv, _pid, _cum)
    relation (caller unpersists) and ``parts`` the collected, sorted
    [(pid, partition_total)] — ≤ one row per partition, from which
    the caller derives global prefix offsets driver-side.

    The partition count is SCALE-ADAPTIVE (~32 MB of plan-estimated
    distribution bytes per range slice, capped at the cluster
    parallelism) instead of a flat defaultParallelism: a distinct-
    value distribution is usually far smaller than its source rows,
    and a small distribution collapses to ONE range slice — where
    ``RangePartitioner(1)`` needs no bounds, so the range-SAMPLING
    job (which pays the full distribution compute a second time)
    disappears from every quantile call (measured: events_boxplot
    10 → 6 jobs/pass). The estimate over-counts (it reads the
    upstream compressed-scan size), which errs toward MORE slices —
    the safe direction; at 100 TB the cap restores the full-width
    prefix shape unchanged."""
    sc = dist.sparkSession.sparkContext
    try:
        est = int(
            dist._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est = None
    P = (
        sc.defaultParallelism
        if est is None
        else max(1, min(sc.defaultParallelism, -(-est // (32 << 20))))
    )
    d = (
        dist.repartitionByRange(P, F.col("qv"))
        .withColumn("_pid", F.spark_partition_id())
        .sortWithinPartitions("qv")
    )

    def _cumsum(batches):
        run = 0
        for pdf in batches:
            c = pdf["cnt"]
            pdf = pdf.assign(_cum=c.cumsum() + run)
            run += int(c.sum())
            yield pdf[["qv", "_pid", "_cum"]]

    d = d.mapInPandas(_cumsum, schema="qv long, _pid int, _cum long").persist()
    parts = sorted(
        (int(r["_pid"]), int(r["_ptot"]))
        for r in d.groupBy("_pid").agg(F.max("_cum").alias("_ptot")).collect()
    )
    return d, parts


def _quantile_at_ranks(dist: DataFrame, ranks) -> tuple:
    """Nearest-rank order statistics from a (qv, cnt) distinct-value
    distribution: for each name → 1-indexed rank, the smallest qv
    whose cumulative count reaches the rank. Returns ({name: qv or
    None}, total_count) — None only when the rank exceeds the total.

    Scale shape — the global cumulative count WITHOUT any
    single-partition window (the E91 prefix pattern): range-partition the
    distribution by qv, cumsum within each partition via an
    order-preserving Arrow pass, then collect the ≤P one-row
    per-partition totals and turn them into driver-side offsets.
    A distinct-value distribution is USUALLY ≪ rows, but that is
    not a law — a continuous 6-dp-quantized metric at corpus scale
    has distinct ≈ rows, and this shape still holds there: no task
    ever sees more than its range slice, and the only driver state
    is one row per partition. The offsets also tell us which
    partition owns each requested rank, so the final pass prunes to
    just the owning partitions.

    ``ranks`` may be a callable total → {name: rank}: the total count
    falls out of the prefix totals for free, so callers that size
    their ranks from n (boxplot's ⌈p·n⌉, MAD's median rank) need no
    separate counting job."""
    d, parts = _global_cum(dist)
    offsets, off = {}, 0
    for pid, ptot in parts:
        offsets[pid] = off
        off += ptot
    total = off
    if callable(ranks):
        ranks = ranks(total) if total else {}
    # rank → owning partition resolved driver-side from the ≤P-row
    # prefix: the final aggregation scans only the owning partitions
    out, aggs, need = {}, [], set()
    for name, r in ranks.items():
        r = int(r)
        if r > total or not parts:
            out[name] = None
            continue
        pid = max(p for p, _ in parts if offsets[p] < r)
        need.add(pid)
        aggs.append(
            F.min(
                F.when(
                    (F.col("_pid") == F.lit(pid))
                    & (F.col("_cum") + F.lit(offsets[pid]) >= F.lit(r)),
                    F.col("qv"),
                )
            ).alias(name)
        )
    if aggs:
        row = d.filter(F.col("_pid").isin(sorted(need))).agg(*aggs).collect()[0]
        for name in ranks:
            if name not in out:
                out[name] = row[name]
    d.unpersist()
    return out, total


def boxplot_agg(
    hits: DataFrame,
    value_col: str,
) -> DataFrame:
    """Boxplot metric aggregation — the OpenSearch ``boxplot`` agg
    (min, q1, q2, q3, max + the 1.5·IQR whisker values Discover's
    box-and-whisker panel draws). OpenSearch computes approximate
    quantiles through TDigest; this engine computes EXACT
    nearest-rank order statistics (rank = ceil(p·n) over the sorted
    values) — exactness is what the cross-engine oracle gate demands,
    and the nearest-rank figure is the deterministic analogue (the
    E16/E68 percentile contract). Whiskers are the OpenSearch
    definition: the smallest value ≥ q1 − 1.5·IQR and the largest
    value ≤ q3 + 1.5·IQR. Missing values (null/NaN/±inf) drop per
    the histogram missing-value contract.

    Determinism: values quantize to 6-dp longs; ranks, cumulative
    counts and the IQR are exact integer arithmetic; the fences use
    one exact long×1.5 double multiply (exact for |iqr| < 2^52)
    mirrored verbatim in the oracle.

    Execution: one scan → distinct-value distribution (map-side
    combined), then the range-partitioned prefix quantile pass
    (:func:`_quantile_at_ranks` — no single-partition window even
    at distinct ≈ rows), 1-row output.
    """
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    qv = F.round(v * _ES_FP, 0).cast("long")
    dist = (
        hits.filter(ok)
        .select(qv.alias("qv"))
        .groupBy("qv")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    import math

    dist = dist.persist()
    # the total count falls out of the prefix totals — no separate
    # counting job; the rank callable sizes ceil(p·n) from it
    qs, n = _quantile_at_ranks(
        dist,
        lambda total: {
            "_q1": max(1, math.ceil(0.25 * total)),
            "_q2": max(1, math.ceil(0.50 * total)),
            "_q3": max(1, math.ceil(0.75 * total)),
        },
    )
    if not n:
        return hits.sparkSession.createDataFrame(
            [],
            "n long, min_value double, q1 double, q2 double, q3 double, "
            "max_value double, lower_whisker double, upper_whisker double",
        )
    q1q, q2q, q3q = int(qs["_q1"]), int(qs["_q2"]), int(qs["_q3"])
    iqr_q = q3q - q1q
    lo_fence = float(q1q) - 1.5 * float(iqr_q)
    hi_fence = float(q3q) + 1.5 * float(iqr_q)
    # dist stays persisted (caller-owned, plan-keyed — the repo-wide
    # cache policy): the returned select still aggregates it when the
    # caller finally acts; an unpersist here would force a recompute
    row = dist.agg(
        F.min("qv").cast("long").alias("_min"),
        F.max("qv").cast("long").alias("_max"),
        F.min(F.when(F.col("qv").cast("double") >= F.lit(lo_fence),
                     F.col("qv"))).cast("long").alias("_lw"),
        F.max(F.when(F.col("qv").cast("double") <= F.lit(hi_fence),
                     F.col("qv"))).cast("long").alias("_uw"),
    )
    fp = float(_ES_FP)
    return row.select(
        F.lit(int(n)).cast("long").alias("n"),
        (F.col("_min").cast("double") / fp).alias("min_value"),
        (F.lit(q1q).cast("double") / fp).alias("q1"),
        (F.lit(q2q).cast("double") / fp).alias("q2"),
        (F.lit(q3q).cast("double") / fp).alias("q3"),
        (F.col("_max").cast("double") / fp).alias("max_value"),
        (F.col("_lw").cast("double") / fp).alias("lower_whisker"),
        (F.col("_uw").cast("double") / fp).alias("upper_whisker"),
    )


def boxplot_oracle_sql(
    hits_sql: str,
    value_col: str,
) -> str:
    """DuckDB SQL computing the identical exact nearest-rank boxplot
    (same 6-dp quantization, same ceil-rank order statistics, same
    1.5·IQR fences)."""
    return f"""
    WITH hit_rows AS ({hits_sql}),
    hv AS (SELECT CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                       AS BIGINT) AS qv
           FROM hit_rows
           WHERE {value_col} IS NOT NULL
             AND NOT isnan(CAST({value_col} AS DOUBLE))
             AND abs(CAST({value_col} AS DOUBLE)) <> CAST('inf' AS DOUBLE)),
    dist AS (SELECT qv, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM hv GROUP BY qv),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM dist),
    cum AS (SELECT qv, SUM(cnt) OVER (ORDER BY qv) AS c FROM dist),
    qq AS (
        SELECT
            (SELECT MIN(qv) FROM cum
             WHERE c >= greatest(1, CAST(ceil(0.25 * n) AS BIGINT))) AS q1q,
            (SELECT MIN(qv) FROM cum
             WHERE c >= greatest(1, CAST(ceil(0.50 * n) AS BIGINT))) AS q2q,
            (SELECT MIN(qv) FROM cum
             WHERE c >= greatest(1, CAST(ceil(0.75 * n) AS BIGINT))) AS q3q,
            n
        FROM tot
    )
    SELECT n,
           CAST((SELECT MIN(qv) FROM dist) AS DOUBLE) / {_ES_FP}
               AS min_value,
           CAST(q1q AS DOUBLE) / {_ES_FP} AS q1,
           CAST(q2q AS DOUBLE) / {_ES_FP} AS q2,
           CAST(q3q AS DOUBLE) / {_ES_FP} AS q3,
           CAST((SELECT MAX(qv) FROM dist) AS DOUBLE) / {_ES_FP}
               AS max_value,
           CAST((SELECT MIN(qv) FROM dist
                 WHERE CAST(qv AS DOUBLE) >=
                       CAST(q1q AS DOUBLE) - 1.5 * CAST(q3q - q1q AS DOUBLE))
                AS DOUBLE) / {_ES_FP} AS lower_whisker,
           CAST((SELECT MAX(qv) FROM dist
                 WHERE CAST(qv AS DOUBLE) <=
                       CAST(q3q AS DOUBLE) + 1.5 * CAST(q3q - q1q AS DOUBLE))
                AS DOUBLE) / {_ES_FP} AS upper_whisker
    FROM qq
    WHERE n > 0
    """


def mad_agg(
    hits: DataFrame,
    value_col: str,
) -> DataFrame:
    """Median-absolute-deviation metric aggregation — the OpenSearch
    ``median_absolute_deviation`` agg (the Discover robust-spread
    metric). OpenSearch computes it over TDigest sketches; this
    engine computes the EXACT figure (nearest-rank median of
    |x − median(x)|) — the E103 robust-outlier machinery exposed as
    the standalone metric agg. Missing values drop per the histogram
    contract.

    Determinism: 6-dp quantized longs; both medians are exact
    nearest-rank order statistics over distinct-value distributions
    (never a row-sized global sort); deviations are exact integer
    |qv − medq|.

    Execution: one scan → distinct-value distribution; the deviation
    pass reuses that SAME tiny distribution (|distinct| rows, counts
    carry over) — the second median costs no corpus work.
    """
    import math

    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    qv = F.round(v * _ES_FP, 0).cast("long")
    dist = (
        hits.filter(ok)
        .select(qv.alias("qv"))
        .groupBy("qv")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )
    qs, n = _quantile_at_ranks(
        dist, lambda total: {"_m": max(1, math.ceil(0.50 * total))}
    )
    if not n:
        dist.unpersist()
        return hits.sparkSession.createDataFrame(
            [], "n long, median double, mad double"
        )
    med_rank = max(1, math.ceil(0.50 * n))
    medq = int(qs["_m"])
    dev = (
        dist.select(
            F.abs(F.col("qv") - F.lit(medq)).alias("qv"), F.col("cnt")
        )
        .groupBy("qv")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    madq = int(_quantile_at_ranks(dev, {"_m": med_rank})[0]["_m"])
    dist.unpersist()
    fp = float(_ES_FP)
    return hits.sparkSession.createDataFrame(
        [(int(n), medq / fp, madq / fp)], "n long, median double, mad double"
    )


def mad_oracle_sql(
    hits_sql: str,
    value_col: str,
) -> str:
    """DuckDB SQL computing the identical exact nearest-rank MAD."""
    return f"""
    WITH hit_rows AS ({hits_sql}),
    hv AS (SELECT CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                       AS BIGINT) AS qv
           FROM hit_rows
           WHERE {value_col} IS NOT NULL
             AND NOT isnan(CAST({value_col} AS DOUBLE))
             AND abs(CAST({value_col} AS DOUBLE)) <> CAST('inf' AS DOUBLE)),
    dist AS (SELECT qv, CAST(COUNT(*) AS BIGINT) AS cnt FROM hv GROUP BY qv),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM dist),
    cum AS (SELECT qv, SUM(cnt) OVER (ORDER BY qv) AS c FROM dist),
    med AS (SELECT (SELECT MIN(qv) FROM cum
                    WHERE c >= greatest(1, CAST(ceil(0.50 * n) AS BIGINT)))
                   AS medq, n
            FROM tot),
    dev AS (SELECT abs(d.qv - m.medq) AS qv,
                   CAST(SUM(d.cnt) AS BIGINT) AS cnt
            FROM dist d CROSS JOIN med m GROUP BY 1),
    dcum AS (SELECT qv, SUM(cnt) OVER (ORDER BY qv) AS c FROM dev)
    SELECT n,
           CAST(medq AS DOUBLE) / {_ES_FP} AS median,
           CAST((SELECT MIN(qv) FROM dcum
                 WHERE c >= greatest(1, CAST(ceil(0.50 * n) AS BIGINT)))
                AS DOUBLE) / {_ES_FP} AS mad
    FROM med
    WHERE n > 0
    """


def string_stats(
    docs: DataFrame,
    text_col: str,
) -> DataFrame:
    """String-stats metric aggregation — the OpenSearch
    ``string_stats`` agg with ``show_distribution``'s Shannon
    entropy: count, min/max/avg length (characters) and the entropy
    of the CHARACTER distribution across all values, in bits. NULL
    values drop; empty strings count with length 0 (they contribute
    no characters).

    Determinism: lengths and character counts are exact longs;
    avg_length is ONE exact-long division. Entropy sums per-character
    ``p·log2(p)`` terms — each term is quantized to a 1e-12 long
    BEFORE the sum (an exact, order-free long sum) and the result
    rounds to 6 dp, absorbing sub-ulp libm log2 drift between engines
    (character alphabets are ~dozens of symbols, so quantization
    error stays ≤ |alphabet|·5e-13, far inside the 6-dp round).

    Execution: one scan with an in-row length projection (no explode
    for the length stats); the entropy pass explodes to characters
    but aggregates to the ALPHABET (map-side combined — the shuffle
    carries ≤ |alphabet| rows per partition).
    """
    t = F.col(text_col)
    lengths = docs.filter(t.isNotNull()).select(
        F.length(t).cast("long").alias("_len"), t.alias("_t")
    ).persist()
    stats = lengths.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("_len").cast("long").alias("min_length"),
        F.max("_len").cast("long").alias("max_length"),
        F.sum("_len").cast("long").alias("_lensum"),
    )
    chars = (
        lengths.select(F.explode(F.split("_t", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = chars.agg(F.sum("cnt").cast("long").alias("tc"))
    term = F.round(
        (F.col("cnt").cast("double") / F.col("tc"))
        * F.log2(F.col("cnt").cast("double") / F.col("tc"))
        * F.lit(1e12),
        0,
    ).cast("long")
    ent = (
        chars.crossJoin(F.broadcast(tot))
        .agg(F.sum(term).cast("long").alias("_e"))
        .select(
            F.round(-F.col("_e").cast("double") / F.lit(1e12), 6)
            .alias("entropy")
        )
    )
    # lengths stays persisted (plan-keyed): both aggregate legs read
    # it when the caller acts — unpersisting here would re-run the
    # scan + length projection once per leg
    return stats.crossJoin(F.broadcast(ent)).select(
        "n", "min_length", "max_length",
        (F.col("_lensum").cast("double") / F.col("n").cast("double"))
        .alias("avg_length"),
        "entropy",
    )


def string_stats_oracle_sql(
    table_sql: str,
    text_col: str,
) -> str:
    """DuckDB SQL computing the identical string stats (same
    per-character 1e-12 quantized entropy terms, same final round)."""
    return f"""
    WITH src AS ({table_sql}),
    vals AS (SELECT {text_col} AS t FROM src WHERE {text_col} IS NOT NULL),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(MIN(length(t)) AS BIGINT) AS min_length,
                     CAST(MAX(length(t)) AS BIGINT) AS max_length,
                     CAST(SUM(length(t)) AS BIGINT) AS lensum
              FROM vals),
    chars AS (SELECT c.ch, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM vals, LATERAL (
                  SELECT unnest(string_split(t, '')) AS ch) c
              WHERE c.ch <> ''
              GROUP BY c.ch),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tc FROM chars),
    ent AS (SELECT round(-CAST(SUM(CAST(round(
                      (CAST(cnt AS DOUBLE) / tc)
                      * log2(CAST(cnt AS DOUBLE) / tc) * 1e12, 0)
                  AS BIGINT)) AS DOUBLE) / 1e12, 6) AS entropy
            FROM chars CROSS JOIN tot)
    SELECT n, min_length, max_length,
           CAST(lensum AS DOUBLE) / CAST(n AS DOUBLE) AS avg_length,
           entropy
    FROM stats CROSS JOIN ent
    """


def t_test_agg(
    hits: DataFrame,
    value_col: str,
    filter_a: str,
    filter_b: str,
) -> DataFrame:
    """T-test metric aggregation — the OpenSearch ``t_test`` agg in
    its default ``heteroscedastic`` (Welch, unpaired) form: the
    t-statistic between the ``value_col`` populations selected by two
    portable SQL boolean predicates (the A/B panel in Discover).
    OpenSearch returns the p-value; the t-statistic is the
    deterministic part (the p-value needs the incomplete beta
    function, whose libm pedigree differs per engine) and is returned
    alongside the Welch degrees of freedom so callers can look up
    significance. Missing values drop per the histogram contract;
    rows may satisfy both, one, or neither predicate (overlapping
    buckets allowed, the filters-agg contract).

    Determinism: the extended_stats (E168) ladder — values quantize
    to 6-dp longs, per-bucket count/sum/sum-of-squares run exact in
    DECIMAL(38,0), and only the final short IEEE chain (sample
    variance with n−1, two divides, subtract, sqrt, divide) touches
    doubles, mirrored verbatim in the oracle. Buckets with n < 2
    yield a NULL t_stat (sample variance undefined).

    Execution: ONE scan, ONE 1-row aggregate — both buckets are
    conditional sums in the same aggregate.
    """
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    qv = F.round(v * _ES_FP, 0).cast("decimal(19,0)")
    out_cols = []
    for tag, pred in (("a", filter_a), ("b", filter_b)):
        sel = F.when(ok & F.expr(pred), qv)
        out_cols += [
            F.count(sel).cast("long").alias(f"_n{tag}"),
            F.sum(sel).cast("decimal(38,0)").alias(f"_s1{tag}"),
            F.sum(sel * sel).cast("decimal(38,0)").alias(f"_s2{tag}"),
        ]
    row = hits.agg(*out_cols)
    fp = float(_ES_FP)

    def moments(tag):
        n = F.col(f"_n{tag}").cast("double")
        s1 = F.col(f"_s1{tag}").cast("double")
        s2 = F.col(f"_s2{tag}").cast("double")
        mean = s1 / n / F.lit(fp)
        # SAMPLE variance (n-1): the t-test divisor
        var = F.greatest(
            (s2 - s1 * s1 / n) / (n - F.lit(1.0)) / F.lit(fp * fp),
            F.lit(0.0),
        )
        return n, mean, var

    na, ma, va = moments("a")
    nb, mb, vb = moments("b")
    se2 = va / na + vb / nb
    t_stat = F.when(
        (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (se2 > 0),
        (ma - mb) / F.sqrt(se2),
    )
    dof = F.when(
        (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (se2 > 0),
        (se2 * se2)
        / ((va / na) * (va / na) / (na - F.lit(1.0))
           + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))),
    )
    return row.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.when(F.col("_na") > 0, ma).alias("mean_a"),
        F.when(F.col("_nb") > 0, mb).alias("mean_b"),
        t_stat.alias("t_stat"),
        dof.alias("welch_dof"),
    )


def t_test_oracle_sql(
    hits_sql: str,
    value_col: str,
    filter_a: str,
    filter_b: str,
) -> str:
    """DuckDB SQL computing the identical Welch t statistic (same
    quantization, same exact decimal sums, same final IEEE chain)."""
    fp = float(_ES_FP)

    def bucket(tag, pred):
        return f"""
        CAST(COUNT(CASE WHEN ok AND ({pred}) THEN qv END) AS BIGINT)
            AS n{tag},
        CAST(SUM(CASE WHEN ok AND ({pred}) THEN qv END)
             AS DECIMAL(38,0)) AS s1{tag},
        CAST(SUM(CASE WHEN ok AND ({pred}) THEN qv * qv END)
             AS DECIMAL(38,0)) AS s2{tag}"""

    def moments(tag):
        return (
            f"CAST(s1{tag} AS DOUBLE) / CAST(n{tag} AS DOUBLE) / {fp!r}",
            f"greatest((CAST(s2{tag} AS DOUBLE)"
            f" - CAST(s1{tag} AS DOUBLE) * CAST(s1{tag} AS DOUBLE)"
            f" / CAST(n{tag} AS DOUBLE))"
            f" / (CAST(n{tag} AS DOUBLE) - 1.0) / {fp * fp!r}, 0.0)",
        )

    ma, va = moments("a")
    mb, vb = moments("b")
    se2 = (f"(({va}) / CAST(na AS DOUBLE))"
           f" + (({vb}) / CAST(nb AS DOUBLE))")
    return f"""
    WITH hit_rows AS ({hits_sql}),
    h AS (SELECT *,
                 CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                      AS DECIMAL(19,0)) AS qv,
                 ({value_col} IS NOT NULL
                  AND NOT isnan(CAST({value_col} AS DOUBLE))
                  AND abs(CAST({value_col} AS DOUBLE))
                      <> CAST('inf' AS DOUBLE)) AS ok
          FROM hit_rows),
    agg AS (SELECT {bucket('a', filter_a)}, {bucket('b', filter_b)}
            FROM h)
    SELECT na AS n_a, nb AS n_b,
           CASE WHEN na > 0 THEN {ma} END AS mean_a,
           CASE WHEN nb > 0 THEN {mb} END AS mean_b,
           CASE WHEN na >= 2 AND nb >= 2 AND ({se2}) > 0
                THEN (({ma}) - ({mb})) / sqrt({se2}) END AS t_stat,
           CASE WHEN na >= 2 AND nb >= 2 AND ({se2}) > 0
                THEN (({se2}) * ({se2}))
                     / (((({va}) / CAST(na AS DOUBLE))
                         * (({va}) / CAST(na AS DOUBLE))
                         / (CAST(na AS DOUBLE) - 1.0))
                        + ((({vb}) / CAST(nb AS DOUBLE))
                           * (({vb}) / CAST(nb AS DOUBLE))
                           / (CAST(nb AS DOUBLE) - 1.0)))
           END AS welch_dof
    FROM agg
    """


def diversified_sampler(
    hits: DataFrame,
    docs: DataFrame,
    dedup_col: str,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
    shard_size: int = 100,
    max_docs_per_value: int = 1,
) -> DataFrame:
    """Diversified-sampler bucket aggregation — the OpenSearch
    ``diversified_sampler`` agg (cap the hit set BEFORE expensive
    sub-aggregations, while de-biasing it: at most
    ``max_docs_per_value`` hits per ``dedup_col`` value, then the
    best ``shard_size`` overall). Deterministic where OpenSearch is
    shard-order-dependent: selection order is (score DESC, id ASC)
    both within each dedup bucket and globally — the property the
    oracle gate needs. NULL dedup values form their own bucket (the
    OpenSearch missing-bucket behavior).

    Returns (id, dedup value, score, sample_rank), sample_rank
    1..shard_size by (score DESC, id ASC) over the surviving set.

    Execution: the hit set is top-k-sized and BROADCASTS into the
    dedup-field join (the corpus never shuffles — the facet_counts
    shape); both rank cuts are windows over hit-set-sized data, the
    per-bucket one trimmed map-side by WindowGroupLimit.
    """
    from pyspark.sql import Window

    if shard_size < 1 or max_docs_per_value < 1:
        raise ValueError(
            "diversified_sampler needs shard_size >= 1 and "
            "max_docs_per_value >= 1"
        )
    j = docs.select(id_col, dedup_col).join(
        F.broadcast(hits.select(id_col, score_col)), id_col
    )
    wb = Window.partitionBy(dedup_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    kept = (
        j.withColumn("_br", F.row_number().over(wb))
        .filter(F.col("_br") <= max_docs_per_value)
    )
    wg = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        kept.withColumn("sample_rank", F.row_number().over(wg).cast("long"))
        .filter(F.col("sample_rank") <= shard_size)
        .select(id_col, dedup_col, score_col, "sample_rank")
        .orderBy("sample_rank")
    )


def diversified_sampler_oracle_sql(
    hits_sql: str,
    dedup_col: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    score_col: str = "score",
    shard_size: int = 100,
    max_docs_per_value: int = 1,
) -> str:
    """DuckDB SQL computing the identical diversified sample."""
    return f"""
    WITH hit_rows AS ({hits_sql}),
    j AS (SELECT d.{id_col}, d.{dedup_col}, h.{score_col}
          FROM {table} d JOIN hit_rows h USING ({id_col})),
    capped AS (
        SELECT *, row_number() OVER (
                   PARTITION BY {dedup_col}
                   ORDER BY {score_col} DESC, {id_col} ASC) AS br
        FROM j
    ),
    ranked AS (
        SELECT {id_col}, {dedup_col}, {score_col},
               CAST(row_number() OVER (
                   ORDER BY {score_col} DESC, {id_col} ASC)
               AS BIGINT) AS sample_rank
        FROM capped WHERE br <= {max_docs_per_value}
    )
    SELECT * FROM ranked WHERE sample_rank <= {shard_size}
    ORDER BY sample_rank
    """


def collapse_hits(
    hits: DataFrame,
    docs: DataFrame,
    collapse_col: str,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
    inner_hits: int = 1,
    top_k: int = 20,
) -> DataFrame:
    """Field collapsing — the OpenSearch search-time ``collapse``
    (one result per value of ``collapse_col``, the "one hit per
    domain/site/thread" dedup every search UI ships) with
    ``inner_hits``: each group's best ``inner_hits`` documents ride
    along, flattened. Groups order by their BEST hit (score DESC, id
    ASC — the OpenSearch collapsed-page order made deterministic),
    cut to ``top_k`` groups; within a group, inner hits rank the same
    way. NULL collapse values form their own group (OpenSearch treats
    missing as a single null group).

    Returns (group_rank, collapse value, inner_rank, id, score)
    ordered (group_rank, inner_rank).

    Execution: the hit set is top-k-sized and BROADCASTS into the
    collapse-field join (the corpus never shuffles); both rank
    windows run over hit-set-sized data, the inner cut
    WindowGroupLimit-trimmed map-side.
    """
    from pyspark.sql import Window

    if inner_hits < 1 or top_k < 1:
        raise ValueError(
            "collapse_hits needs inner_hits >= 1 and top_k >= 1"
        )
    j = docs.select(id_col, collapse_col).join(
        F.broadcast(hits.select(id_col, score_col)), id_col
    )
    wi = Window.partitionBy(collapse_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = j.withColumn(
        "inner_rank", F.row_number().over(wi).cast("long")
    ).filter(F.col("inner_rank") <= inner_hits)
    # group order = rank of the group's BEST hit
    best = ranked.filter(F.col("inner_rank") == 1).select(
        F.col(collapse_col).alias("_gk"),
        F.col(score_col).alias("_gs"),
        F.col(id_col).alias("_gid"),
    )
    wg = Window.orderBy(F.col("_gs").desc(), F.col("_gid").asc())
    groups = best.withColumn(
        "group_rank", F.row_number().over(wg).cast("long")
    ).filter(F.col("group_rank") <= top_k)
    return (
        ranked.join(
            groups.select("_gk", "group_rank"),
            ranked[collapse_col].eqNullSafe(F.col("_gk")),
        )
        .select(
            "group_rank", collapse_col, "inner_rank", id_col, score_col,
        )
        .orderBy("group_rank", "inner_rank")
    )


def collapse_hits_oracle_sql(
    hits_sql: str,
    collapse_col: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    score_col: str = "score",
    inner_hits: int = 1,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical collapsed result page."""
    return f"""
    WITH hit_rows AS ({hits_sql}),
    j AS (SELECT d.{id_col}, d.{collapse_col}, h.{score_col}
          FROM {table} d JOIN hit_rows h USING ({id_col})),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY {collapse_col}
                   ORDER BY {score_col} DESC, {id_col} ASC)
               AS BIGINT) AS inner_rank
        FROM j
    ),
    kept AS (SELECT * FROM ranked WHERE inner_rank <= {inner_hits}),
    groups AS (
        SELECT {collapse_col} AS gk,
               CAST(row_number() OVER (
                   ORDER BY {score_col} DESC, {id_col} ASC)
               AS BIGINT) AS group_rank
        FROM kept WHERE inner_rank = 1
    )
    SELECT g.group_rank, k.{collapse_col}, k.inner_rank,
           k.{id_col}, k.{score_col}
    FROM kept k JOIN groups g
      ON k.{collapse_col} IS NOT DISTINCT FROM g.gk
    WHERE g.group_rank <= {top_k}
    ORDER BY g.group_rank, k.inner_rank
    """


def significant_text(
    docs: DataFrame,
    hits: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    min_doc_count: int = 2,
    filter_duplicate_text: bool = True,
) -> DataFrame:
    """Significant-TEXT aggregation — the OpenSearch
    ``significant_text`` agg: :func:`significant_terms` semantics
    (JLH over-representation of hit-set terms vs the corpus) computed
    by re-analyzing the raw text field AD-HOC, no token index
    required, with the agg's defining ``filter_duplicate_text``
    behavior: exact duplicate texts (normalized lowercase) count
    ONCE — the lowest-id copy survives — so one boilerplate document
    pasted a hundred times cannot manufacture significance (the
    reason OpenSearch ships this as a separate agg type rather than
    significant_terms over an analyzed field). Dedup applies to
    foreground and background consistently.

    Returns (term, fg_df, bg_df, score) ordered (score DESC,
    term ASC), top_k — the significant_terms output contract, and
    with ``filter_duplicate_text=False`` on a pre-indexed corpus the
    two operators agree (asserted in tests).

    Execution: one tokenize pass (fan_out_scan-guarded; the dedup is
    an id-min aggregate on a text hash — no text shuffles, only
    (hash, id) pairs); the hit-id set broadcasts into a semi-join;
    fg/bg dfs are term aggregates of the same pruned relation.
    """
    if top_k < 1 or min_doc_count < 1:
        raise ValueError(
            "significant_text needs top_k >= 1 and min_doc_count >= 1"
        )
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    base = fan_out_scan(docs.select(id_col, text_col))
    if filter_duplicate_text:
        keep = (
            base.select(
                F.col(id_col),
                F.md5(F.lower(F.col(text_col))).alias("_h"),
            )
            .groupBy("_h")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        base = base.join(keep, id_col, "left_semi")
    tok = (
        base.select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    hit_ids = hits.select(id_col)
    n_fg_df = (
        tok.select(id_col).distinct()
        .join(F.broadcast(hit_ids), id_col, "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fg"))
    )
    n_bg_df = tok.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_bg")
    )
    fg = (
        tok.join(F.broadcast(hit_ids), id_col, "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
    )
    bg = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("bg_df")
    )
    fg_share = F.col("fg_df") / F.col("n_fg")
    bg_share = F.col("bg_df") / F.col("n_bg")
    score = F.round((fg_share - bg_share) * (fg_share / bg_share), 6)
    out = (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(n_fg_df))
        .crossJoin(F.broadcast(n_bg_df))
        .filter(
            (F.col("fg_df") >= min_doc_count) & (fg_share > bg_share)
        )
        .select("term", "fg_df", "bg_df", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(top_k)
    )
    # tok stays persisted (plan-keyed): four aggregate legs read it
    # at evaluation time
    return out


def significant_text_oracle_sql(
    hits_sql: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    min_doc_count: int = 2,
    filter_duplicate_text: bool = True,
) -> str:
    """DuckDB SQL computing the identical significant-text ranking
    (same dedup-by-normalized-text, same JLH, same fixed op order)."""
    dedup = (
        f"""src AS (
        SELECT d.* FROM {table} d
        JOIN (SELECT MIN({id_col}) AS {id_col}
              FROM {table} GROUP BY md5(lower({text_col}))) k
        USING ({id_col})
    ),"""
        if filter_duplicate_text
        else f"src AS (SELECT * FROM {table}),"
    )
    return f"""
    WITH {dedup}
    tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM src,
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    hit_ids AS (SELECT {id_col} FROM ({hits_sql})),
    n_fg_t AS (SELECT CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_fg
               FROM tok SEMI JOIN hit_ids USING ({id_col})),
    n_bg_t AS (SELECT CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_bg
               FROM tok),
    fg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS fg_df
           FROM tok SEMI JOIN hit_ids USING ({id_col})
           GROUP BY term),
    bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df
           FROM tok GROUP BY term)
    SELECT term, fg_df, bg_df,
           round((fg_df / CAST(n_fg AS DOUBLE) - bg_df / CAST(n_bg AS DOUBLE))
                 * ((fg_df / CAST(n_fg AS DOUBLE))
                    / (bg_df / CAST(n_bg AS DOUBLE))), 6) AS score
    FROM fg JOIN bg USING (term)
            CROSS JOIN n_fg_t CROSS JOIN n_bg_t
    WHERE fg_df >= {min_doc_count}
      AND fg_df / CAST(n_fg AS DOUBLE) > bg_df / CAST(n_bg AS DOUBLE)
    ORDER BY score DESC, term ASC
    LIMIT {top_k}
    """


__all__ = [
    "significant_text",
    "significant_text_oracle_sql",
    "collapse_hits",
    "collapse_hits_oracle_sql",
    "boxplot_agg",
    "boxplot_oracle_sql",
    "mad_agg",
    "mad_oracle_sql",
    "string_stats",
    "string_stats_oracle_sql",
    "t_test_agg",
    "t_test_oracle_sql",
    "diversified_sampler",
    "diversified_sampler_oracle_sql",
    "adjacency_matrix",
    "adjacency_matrix_oracle_sql",
    "autocomplete_prefix",
    "bucket_script_selector",
    "bucket_script_selector_oracle_sql",
    "bucket_sort",
    "bucket_sort_oracle_sql",
    "extended_stats",
    "extended_stats_oracle_sql",
    "matrix_stats",
    "matrix_stats_oracle_sql",
    "filters_agg",
    "filters_agg_oracle_sql",
    "multi_terms",
    "multi_terms_oracle_sql",
    "percentile_ranks",
    "percentile_ranks_oracle_sql",
    "weighted_avg",
    "weighted_avg_oracle_sql",
    "date_histogram",
    "date_histogram_oracle_sql",
    "facet_counts",
    "keyset_page",
    "more_like_this",
    "numeric_histogram",
    "numeric_histogram_oracle_sql",
    "retrieval_eval",
    "rrf_fuse",
    "search_snippets",
    "significant_terms",
    "significant_terms_oracle_sql",
    "spell_suggest",
    "top_hits_oracle_sql",
    "top_hits_per_facet",
]


def change_point_agg(
    hits: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Change-point detection over a daily metric series — the
    OpenSearch ``change_point`` pipeline aggregation (the Discover
    anomaly panel: "where did this metric shift?"). OpenSearch runs a
    battery of ML tests; this engine computes the deterministic core
    every one of them ranks by — the split of the bucket series that
    maximizes the between-segment squared-mean-difference statistic

        stat(k) = d_k² / (k·(n−k)),
        d_k = (n−k)·S_k − k·(S−S_k)

    (the CUSUM /二-sample t numerator with the pooled-variance
    denominator dropped — monotone-equivalent for locating the
    split). Ties break on the earliest split. Returns one row:
    (change_day, split_index, n_buckets, stat, left_mean, right_mean,
    direction ∈ up/down/flat).

    Determinism: bucket metrics are exact long sums of 6-dp-quantized
    values; d_k and k·(n−k) are exact longs; the statistic is two
    long→double converts, one multiply, one divide — IEEE-identical
    in every engine even when d_k² rounds. Missing values drop per
    the histogram contract.

    Execution: one scan → daily buckets (map-side combined); the
    split scan is an order window over the BUCKET series (≤ days
    rows by construction — the histogram_pipeline bounded-window
    contract), then a 1-row argmax.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    day = F.date_format(F.col(ts_col).cast("date"), "yyyy-MM-dd")
    buckets = (
        hits.filter(ok & F.col(ts_col).isNotNull())
        .select(day.alias("day"),
                F.round(v * _ES_FP, 0).cast("long").alias("_vq"))
        .groupBy("day")
        .agg(F.sum("_vq").cast("long").alias("_m"))
    )

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = buckets.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("_k"),
        F.sum("_m").over(w).cast("long").alias("_sk"),
        F.sum("_m").over(wall).cast("long").alias("_s"),
        F.count(F.lit(1)).over(wall).cast("long").alias("_n"),
    ).filter(F.col("_k") < F.col("_n"))
    d = (
        (F.col("_n") - F.col("_k")) * F.col("_sk")
        - F.col("_k") * (F.col("_s") - F.col("_sk"))
    ).cast("long")
    stat = (
        d.cast("double") * d.cast("double")
        / (F.col("_k") * (F.col("_n") - F.col("_k"))).cast("double")
    )
    fp = float(_ES_FP)
    scored = pre.select(
        "day", "_k", "_n", "_sk", "_s", stat.alias("_stat")
    )
    best = (
        scored.orderBy(F.col("_stat").desc(), F.col("_k").asc())
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("_k").alias("split_index"),
            F.col("_n").alias("n_buckets"),
            F.round(F.col("_stat") / F.lit(fp * fp), 6).alias("stat"),
            F.round(F.col("_sk").cast("double")
                    / F.col("_k").cast("double") / fp, 6)
            .alias("left_mean"),
            F.round((F.col("_s") - F.col("_sk")).cast("double")
                    / (F.col("_n") - F.col("_k")).cast("double") / fp, 6)
            .alias("right_mean"),
        )
    )
    return best.withColumn(
        "direction",
        F.when(F.col("right_mean") > F.col("left_mean"), F.lit("up"))
        .when(F.col("right_mean") < F.col("left_mean"), F.lit("down"))
        .otherwise(F.lit("flat")),
    )


def change_point_oracle_sql(
    hits_sql: str,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB SQL computing the identical change point (same daily
    buckets, same exact-long statistic, same tie-break)."""
    fp = float(_ES_FP)
    return f"""
    WITH hit_rows AS ({hits_sql}),
    b AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP},
                                   0) AS BIGINT)) AS BIGINT) AS m
        FROM hit_rows
        WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
          AND NOT isnan(CAST({value_col} AS DOUBLE))
          AND NOT isinf(CAST({value_col} AS DOUBLE))
        GROUP BY 1
    ),
    pre AS (
        SELECT day,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
               CAST(SUM(m) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
               CAST(SUM(m) OVER () AS BIGINT) AS s,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM b
    ),
    scored AS (
        SELECT day, k, n, sk, s,
               CAST((n - k) * sk - k * (s - sk) AS DOUBLE)
               * CAST((n - k) * sk - k * (s - sk) AS DOUBLE)
               / CAST(k * (n - k) AS DOUBLE) AS stat
        FROM pre WHERE k < n
    )
    SELECT day AS change_day, k AS split_index, n AS n_buckets,
           round(stat / {fp * fp!r}, 6) AS stat,
           round(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) / {fp!r}, 6)
               AS left_mean,
           round(CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE) / {fp!r}, 6)
               AS right_mean,
           CASE WHEN round(CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE)
                           / {fp!r}, 6)
                     > round(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE)
                             / {fp!r}, 6) THEN 'up'
                WHEN round(CAST(s - sk AS DOUBLE) / CAST(n - k AS DOUBLE)
                           / {fp!r}, 6)
                     < round(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE)
                             / {fp!r}, 6) THEN 'down'
                ELSE 'flat' END AS direction
    -- argmax on the RAW statistic (the projected alias would shadow
    -- it in ORDER BY and compare the rounded value instead)
    FROM (SELECT * FROM scored ORDER BY stat DESC, k ASC LIMIT 1)
    """


def rate_agg(
    hits: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "day",
) -> DataFrame:
    """Rate metric aggregation inside a monthly date histogram — the
    OpenSearch ``rate`` agg (Discover's "per-day rate by month"
    panel): each calendar-month bucket reports its value sum and hit
    count NORMALIZED to the rate unit by the bucket's true calendar
    length (29-day Februaries divide by 29). Only ``day`` rate units
    are exposed — the one OpenSearch shape the fixtures exercise;
    the month/week variants are the same division by a different
    exact constant.

    Determinism: sums are exact longs of 6-dp-quantized values;
    days-in-month is exact calendar arithmetic; each output is ONE
    long/long double division — identical in every engine. Missing
    values drop per the histogram contract.

    Execution: one scan → monthly groupBy (map-side combined) —
    aggregate-sized output, no windows, no joins.
    """
    if unit != "day":
        raise ValueError("rate_agg exposes unit='day'")
    v = F.col(value_col).cast("double")
    ok = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))
    month_start = F.trunc(F.col(ts_col).cast("date"), "month")
    fp = float(_ES_FP)
    return (
        hits.filter(ok & F.col(ts_col).isNotNull())
        .select(
            F.date_format(month_start, "yyyy-MM").alias("month"),
            F.dayofmonth(F.last_day(month_start)).cast("long").alias("_days"),
            F.round(v * _ES_FP, 0).cast("long").alias("_vq"),
        )
        .groupBy("month", "_days")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("_vq").cast("long").alias("_sq"),
        )
        .select(
            "month",
            F.col("_days").alias("days_in_month"),
            "n_hits",
            F.round(F.col("_sq").cast("double") / fp, 6).alias("value_sum"),
            F.round(
                F.col("_sq").cast("double") / F.col("_days").cast("double")
                / fp, 6
            ).alias("value_rate_per_day"),
            F.round(
                F.col("n_hits").cast("double") / F.col("_days").cast("double"),
                6,
            ).alias("count_rate_per_day"),
        )
    )


def rate_oracle_sql(
    hits_sql: str,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB SQL computing the identical per-day rates by month."""
    fp = float(_ES_FP)
    return f"""
    WITH hit_rows AS ({hits_sql}),
    b AS (
        SELECT strftime(date_trunc('month', CAST({ts_col} AS DATE)),
                        '%Y-%m') AS month,
               CAST(datepart('day', last_day(CAST({ts_col} AS DATE)))
                    AS BIGINT) AS days_in_month,
               CAST(round(CAST({value_col} AS DOUBLE) * {_ES_FP}, 0)
                    AS BIGINT) AS vq
        FROM hit_rows
        WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
          AND NOT isnan(CAST({value_col} AS DOUBLE))
          AND NOT isinf(CAST({value_col} AS DOUBLE))
    )
    SELECT month, days_in_month,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           round(CAST(SUM(vq) AS DOUBLE) / {fp!r}, 6) AS value_sum,
           round(CAST(SUM(vq) AS DOUBLE) / CAST(days_in_month AS DOUBLE)
                 / {fp!r}, 6) AS value_rate_per_day,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(days_in_month AS DOUBLE),
                 6) AS count_rate_per_day
    FROM b
    GROUP BY month, days_in_month
    """


def ks_test_agg(
    hits_a: DataFrame,
    hits_b: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two hit sets'
    DAILY-COUNT distributions — the OpenSearch ``bucket_count_ks_test``
    aggregation (the Discover drift question: "do these two series'
    bucket counts come from the same distribution?"). Samples are the
    per-day hit counts of days with ≥1 hit on that side; the
    statistic is the exact sup-distance between the two empirical
    CDFs.

    Determinism: D is located by the EXACT integer cross-product form
    |cumA·n_B − cumB·n_A| (no division until the final report), ties
    on the smallest count value; the reported ``d_stat`` is one
    long/long double division rounded to 6 dp.

    Execution: two daily groupBys (map-side combined) → a
    distinct-count-value distribution (≤ days rows); the cumulative
    window runs over that bounded support (histogram_pipeline
    contract). Output: one row (d_stat, at_value, n_a, n_b), empty
    if either side has no buckets.
    """
    from pyspark.sql import Window

    def daily(df, side):
        return (
            df.filter(F.col(ts_col).isNotNull())
            .groupBy(
                F.date_format(F.col(ts_col).cast("date"), "yyyy-MM-dd")
                .alias("day")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select("cnt", F.lit(side).alias("_side"))
        )
    both = daily(hits_a, "a").unionByName(daily(hits_b, "b"))
    dist = both.groupBy("cnt").agg(
        F.sum(F.when(F.col("_side") == "a", 1).otherwise(0))
        .cast("long").alias("_ca"),
        F.sum(F.when(F.col("_side") == "b", 1).otherwise(0))
        .cast("long").alias("_cb"),
    )
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dist.select(
        "cnt",
        F.sum("_ca").over(w).cast("long").alias("_cuma"),
        F.sum("_cb").over(w).cast("long").alias("_cumb"),
        F.sum("_ca").over(wall).cast("long").alias("_na"),
        F.sum("_cb").over(wall).cast("long").alias("_nb"),
    )
    num = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    ).cast("long")
    return (
        cum.filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select("cnt", "_na", "_nb", num.alias("_num"))
        .orderBy(F.col("_num").desc(), F.col("cnt").asc())
        .limit(1)
        .select(
            F.round(
                F.col("_num").cast("double")
                / (F.col("_na") * F.col("_nb")).cast("double"), 6
            ).alias("d_stat"),
            F.col("cnt").alias("at_value"),
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
        )
    )


def ks_test_oracle_sql(
    hits_a_sql: str,
    hits_b_sql: str,
    *,
    ts_col: str = "ts",
) -> str:
    """DuckDB SQL computing the identical KS statistic."""
    return f"""
    WITH da AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({hits_a_sql}) WHERE {ts_col} IS NOT NULL GROUP BY 1
    ),
    db AS (
        SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({hits_b_sql}) WHERE {ts_col} IS NOT NULL GROUP BY 1
    ),
    dist AS (
        SELECT cnt,
               CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
               CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
        FROM (SELECT cnt, 'a' AS side FROM da
              UNION ALL SELECT cnt, 'b' FROM db)
        GROUP BY cnt
    ),
    cum AS (
        SELECT cnt,
               CAST(SUM(ca) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cumb,
               CAST(SUM(ca) OVER () AS BIGINT) AS na,
               CAST(SUM(cb) OVER () AS BIGINT) AS nb
        FROM dist
    )
    SELECT round(CAST(num AS DOUBLE) / CAST(na * nb AS DOUBLE), 6)
               AS d_stat,
           cnt AS at_value, na AS n_a, nb AS n_b
    FROM (
        SELECT cnt, na, nb, abs(cuma * nb - cumb * na) AS num
        FROM cum WHERE na > 0 AND nb > 0
        ORDER BY num DESC, cnt ASC LIMIT 1
    )
    """


def bucket_correlation_agg(
    hits_a: DataFrame,
    hits_b: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Pearson correlation between two hit sets' daily-count bucket
    series — the OpenSearch ``bucket_correlation`` pipeline
    aggregation. The day axis is the UNION of both sides' active
    days; a side with no hits that day contributes 0 (the histogram
    zero-fill contract), so the series align bucket-for-bucket.

    Determinism: all moments (Σx, Σy, Σxy, Σx², Σy², n) are exact
    longs; the final r is computed in doubles from those exact longs
    (the E101 correlation-matrix recipe), rounded to 6 dp. Zero
    variance on either side yields null correlation.

    Execution: one union → daily conditional groupBy (map-side
    combined) → a single 1-row moment aggregation. No windows.
    """
    def tagged(df, side):
        return df.filter(F.col(ts_col).isNotNull()).select(
            F.date_format(F.col(ts_col).cast("date"), "yyyy-MM-dd")
            .alias("day"),
            F.lit(side).alias("_side"),
        )
    days = (
        tagged(hits_a, "a").unionByName(tagged(hits_b, "b"))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("_side") == "a", 1).otherwise(0))
            .cast("long").alias("_x"),
            F.sum(F.when(F.col("_side") == "b", 1).otherwise(0))
            .cast("long").alias("_y"),
        )
    )
    m = days.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
    )
    n = F.col("_n").cast("double")
    cov_num = (
        F.col("_sxy").cast("double") * n
        - F.col("_sx").cast("double") * F.col("_sy").cast("double")
    )
    vx = (
        F.col("_sxx").cast("double") * n
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    vy = (
        F.col("_syy").cast("double") * n
        - F.col("_sy").cast("double") * F.col("_sy").cast("double")
    )
    return m.filter(F.col("_n") > 0).select(
        F.col("_n").alias("n_buckets"),
        F.round(cov_num / (n * n), 6).alias("covariance"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(cov_num / F.sqrt(vx) / F.sqrt(vy), 6),
        ).alias("correlation"),
    )


def bucket_correlation_oracle_sql(
    hits_a_sql: str,
    hits_b_sql: str,
    *,
    ts_col: str = "ts",
) -> str:
    """DuckDB SQL computing the identical bucket correlation."""
    return f"""
    WITH days AS (
        SELECT day,
               CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                   AS x,
               CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                   AS y
        FROM (
            SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d') AS day,
                   'a' AS side
            FROM ({hits_a_sql}) WHERE {ts_col} IS NOT NULL
            UNION ALL
            SELECT strftime(CAST({ts_col} AS DATE), '%Y-%m-%d'), 'b'
            FROM ({hits_b_sql}) WHERE {ts_col} IS NOT NULL
        ) GROUP BY day
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM days
    )
    SELECT n AS n_buckets,
           round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS covariance,
           CASE WHEN (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt(CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / sqrt(CAST(syy AS DOUBLE) * CAST(n AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                           6)
           END AS correlation
    FROM m WHERE n > 0
    """


def sampler_agg(
    docs: DataFrame,
    sample: DataFrame,
    *,
    facet_col: str,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sampler bucket aggregation — the OpenSearch ``sampler`` agg:
    sub-aggregations computed over only the best-scoring hits, the
    cost bound Discover applies before faceting a huge low-quality
    tail. OpenSearch samples the top ``shard_size`` PER SHARD
    (shard-order dependent); this engine's sample is the caller's
    GLOBAL top-N relation (already deterministic through the
    (score DESC, id ASC) cut every search op here ships) — a
    strictly better-defined sample serving the same purpose.

    Sub-aggs: per-facet hit count and mean score. Scores re-quantize
    to 6-dp longs so the mean is one exact-long sum and a single
    double division — deterministic at any partitioning.

    Execution: the sample is ≤N rows by construction, so it
    BROADCASTS into the facet join (the corpus never shuffles) and
    the final groupBy runs over ≤N rows.
    """
    sq = F.round(F.col(score_col).cast("double") * _ES_FP, 0).cast("long")
    fp = float(_ES_FP)
    return (
        docs.select(id_col, facet_col)
        .join(F.broadcast(sample.select(id_col, sq.alias("_sq"))), id_col)
        .groupBy(facet_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("_sq").cast("long").alias("_ssum"),
        )
        .select(
            facet_col,
            "n_hits",
            F.round(
                F.col("_ssum").cast("double")
                / F.col("n_hits").cast("double") / fp, 6
            ).alias("avg_score"),
        )
    )


def sampler_oracle_sql(
    sample_sql: str,
    *,
    facet_col: str,
    table: str = "documents",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> str:
    """DuckDB SQL computing the identical sampler facets over
    ``sample_sql`` (a query yielding the top-N sample with scores)."""
    fp = float(_ES_FP)
    return f"""
    WITH sample AS ({sample_sql}),
    s AS (SELECT {id_col},
                 CAST(round(CAST({score_col} AS DOUBLE) * {_ES_FP}, 0)
                      AS BIGINT) AS sq
          FROM sample)
    SELECT d.{facet_col},
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           round(CAST(SUM(s.sq) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / {fp!r}, 6) AS avg_score
    FROM {table} d JOIN s USING ({id_col})
    GROUP BY d.{facet_col}
    """


def percentiles_bucket(
    buckets: DataFrame,
    *,
    value_col: str,
    percents: tuple = (25.0, 50.0, 75.0),
) -> DataFrame:
    """``percentiles_bucket`` sibling pipeline aggregation — the
    OpenSearch agg computing percentiles ACROSS a parent multi-bucket
    aggregation's metric values ("what is the p95 of the daily event
    counts?"). EXACT nearest-rank where OpenSearch interpolates
    TDigest: the answer for percent p over n sorted bucket values is
    element ``ceil(p·n/100)`` (1-based) — output stays an exact long.

    Percents are limited to one decimal place and computed in TENTHS
    as pure integer arithmetic (``rank = (p₁₀·n + 999) div 1000``):
    no float multiply can straddle a rank boundary differently across
    engines.

    Returns one row per requested percent: (percent, value), ordered
    by percent. Empty parent → empty result (ES returns null bodies;
    a row of NULLs would break the all-long contract downstream).

    Execution: the input is a parent aggregation's bucket set —
    ≤ target_buckets rows by construction — so the sorted
    collect_list is one bounded single-task aggregate over
    already-aggregated data, never the corpus (the pipeline-agg
    family contract shared with :func:`sibling_bucket_stats`).
    """
    if not percents:
        raise ValueError("percentiles_bucket needs at least one percent")
    pq10 = []
    for p in percents:
        q = round(float(p) * 10)
        if not (0 < q <= 1000) or abs(q - float(p) * 10) > 1e-9:
            raise ValueError(
                "percents must be in (0, 100] with at most one decimal "
                f"place, got {p!r}"
            )
        pq10.append((float(p), q))
    agg = buckets.agg(
        F.array_sort(
            F.collect_list(F.col(value_col).cast("long"))
        ).alias("_vs"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    ).filter(F.col("_n") > 0)
    pct_rel = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("percent"),
                    F.lit(q).cast("long").alias("_pq"),
                )
                for p, q in pq10
            ]
        )
    ).alias("_p")
    return (
        agg.select(pct_rel, "_vs", "_n")
        .select(
            F.col("_p.percent").alias("percent"),
            F.element_at(
                "_vs",
                ((F.col("_p._pq") * F.col("_n") + F.lit(999))
                 / F.lit(1000)).cast("int"),
            ).alias("value"),
        )
        .orderBy("percent")
    )


def percentiles_bucket_oracle_sql(
    buckets_sql: str,
    *,
    value_col: str,
    percents: tuple = (25.0, 50.0, 75.0),
) -> str:
    """DuckDB SQL computing the identical exact nearest-rank
    percentiles over ``buckets_sql`` (a query yielding the parent
    agg's buckets)."""
    rows = ", ".join(
        f"(CAST({float(p)!r} AS DOUBLE), {round(float(p) * 10)})"
        for p in percents
    )
    return f"""
    WITH b AS ({buckets_sql}),
    v AS (SELECT list_sort(list(CAST({value_col} AS BIGINT))) AS vs,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM b HAVING COUNT(*) > 0),
    pcts(percent, pq) AS (VALUES {rows})
    SELECT p.percent,
           v.vs[CAST((p.pq * v.n + 999) // 1000 AS BIGINT)] AS value
    FROM pcts p CROSS JOIN v
    ORDER BY p.percent
    """


def frequent_item_sets(
    tx: DataFrame,
    *,
    items_col: str,
    min_support: float = 0.1,
    max_size: int = 2,
    top_k: int = 25,
    max_items: int | None = None,
) -> DataFrame:
    """``frequent_item_sets`` aggregation — the OpenSearch ML agg
    (market-basket / co-occurrence mining): item sets appearing in at
    least ``min_support`` of the transactions. Exact for sizes 1 and
    2 where OpenSearch approximates with sampled a-priori: size-2
    candidates expand IN-ROW from each transaction's sorted distinct
    item array (``Σ |items|²/2`` pair rows through one
    map-side-combined groupBy — no self-join, no index), which is the
    a-priori frontier that matters (larger sets are supersets of
    frequent pairs; OpenSearch's own default limits sets to small
    sizes).

    ``tx`` is one row per transaction with ``items_col`` an array of
    items (callers build it: distinct tokens per doc, parts per
    order). Support counts a set once per transaction regardless of
    multiplicity (the distinct+sort happens here, so callers may pass
    raw arrays).

    Returns (itemset, size, support_count, support) — itemset is the
    space-joined sorted item list (the sibling-agg string-key
    precedent: list columns don't hash portably cross-engine);
    support is one exact-long/exact-long double division. Ordered
    (support_count DESC, itemset ASC), top_k.

    ``max_items`` bounds the one quadratic-per-row shape BY CONTRACT:
    each transaction keeps only its first ``max_items`` sorted
    distinct items before the pair expansion, capping the in-row
    blow-up at max_items^2/2 regardless of transaction width (a
    10 000-item basket would otherwise expand to 50 M pair rows).
    Deterministic (sorted order) and mirrored by the oracle. None =
    uncapped — only for inputs whose width the caller already bounds.
    """
    if not (0.0 < min_support <= 1.0):
        raise ValueError("min_support must be in (0, 1]")
    if max_items is not None and max_items < 1:
        raise ValueError("max_items must be >= 1")
    if max_size not in (1, 2):
        raise ValueError(
            "max_size must be 1 or 2 (exact tiers; larger sets are "
            "supersets of frequent pairs — run those on the filtered "
            "pair output)"
        )
    items = F.array_sort(F.array_distinct(F.col(items_col)))
    if max_items is not None:
        items = F.slice(items, 1, int(max_items))
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    # the pair expansion below is the one quadratic-per-row shape
    # (Σ|items|²/2 rows from each transaction) — a few-file scan
    # must not pin it to the scan's split count (measured: the two
    # 8 MB sf0.1 splits ran the 0.9 s expansion on 2 of 32 cores).
    # The byte bar drops to 128 KB here: per-partition work is
    # QUADRATIC in row width, so the default 1 MB bar — calibrated
    # for linear tokenize passes — under-buys parallelism exactly
    # where it hurts most. The low bar
    # also makes the fan-out probe's first-call decision the
    # steady-state one: this is the only call site that persists
    # fan_out_scan's direct output, and before r17's decision memo
    # the cached relation's inflated in-memory stats silently flipped
    # the probe to fan-out on warm calls — the memo froze the cold
    # (underparallelized) answer and cost 0.93 → 1.39 s at sf0.1.
    base = fan_out_scan(
        tx.select(items.alias("_it")),
        min_bytes_per_partition=128 * 1024,
    ).persist()
    # the transaction count rides the plan as a broadcast 1-row
    # aggregate (the bigram |V| pattern): the old ``base.count()``
    # was a separate driver ACTION per call serialized before the
    # expansion DAG; in-plan it reads the same persisted relation
    # concurrently, and the support threshold becomes the oracle's
    # own in-SQL ``ceil(min_support * n_tx)`` expression verbatim.
    # An empty input now yields the empty result through the plan
    # (no groups → no rows), same schema by the string cast below.
    ntx = base.agg(F.count(F.lit(1)).cast("long").alias("_ntx"))
    legs = [
        base.select(
            F.explode(F.col("_it").cast("array<string>")).alias("itemset"),
            F.lit(1).cast("long").alias("size"),
        )
    ]
    if max_size >= 2:
        pairs = F.flatten(
            F.expr(
                "transform(sequence(0, size(_it) - 2), i -> "
                "transform(sequence(i + 1, size(_it) - 1), j -> "
                "concat(_it[i], ' ', _it[j])))"
            )
        )
        legs.append(
            base.filter(F.size("_it") >= 2).select(
                F.explode(pairs).alias("itemset"),
                F.lit(2).cast("long").alias("size"),
            )
        )
    unioned = legs[0]
    for leg in legs[1:]:
        unioned = unioned.unionByName(leg)
    return (
        unioned.groupBy("itemset", "size")
        .agg(F.count(F.lit(1)).cast("long").alias("support_count"))
        .crossJoin(F.broadcast(ntx))
        .filter(
            F.col("support_count")
            >= F.ceil(
                F.lit(float(min_support)) * F.col("_ntx").cast("double")
            )
        )
        .withColumn(
            "support",
            F.col("support_count").cast("double")
            / F.col("_ntx").cast("double"),
        )
        .drop("_ntx")
        .orderBy(F.col("support_count").desc(), F.col("itemset").asc())
        .limit(top_k)
    )


def frequent_item_sets_oracle_sql(
    tx_sql: str,
    *,
    min_support: float = 0.1,
    max_size: int = 2,
    top_k: int = 25,
    max_items: int | None = None,
) -> str:
    """DuckDB SQL computing the identical frequent item sets over
    ``tx_sql`` (a query yielding one row per transaction with an
    ``items`` list column)."""
    import math

    items_expr = "list_sort(list_distinct(items))"
    if max_items is not None:
        items_expr = f"({items_expr})[1:{int(max_items)}]"

    pair_leg = """
    UNION ALL
    SELECT a.item || ' ' || b.item AS itemset, CAST(2 AS BIGINT) AS size,
           a.txid
    FROM singles a JOIN singles b
      ON a.txid = b.txid AND a.item < b.item
    """ if max_size >= 2 else ""
    return f"""
    WITH raw AS ({tx_sql}),
    tx AS (SELECT row_number() OVER () AS txid,
                  {items_expr} AS items
           FROM raw),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tx FROM tx),
    singles AS (SELECT txid, unnest(items) AS item FROM tx),
    sets AS (
        SELECT item AS itemset, CAST(1 AS BIGINT) AS size, txid
        FROM singles
        {pair_leg}
    ),
    counted AS (
        SELECT itemset, size, CAST(COUNT(*) AS BIGINT) AS support_count
        FROM sets GROUP BY itemset, size
    )
    SELECT itemset, size, support_count,
           CAST(support_count AS DOUBLE) / CAST(n.n_tx AS DOUBLE)
               AS support
    FROM counted CROSS JOIN n
    WHERE support_count >= CAST(ceil({float(min_support)!r} * n.n_tx)
                                AS BIGINT)
    ORDER BY support_count DESC, itemset ASC
    LIMIT {top_k}
    """


def categorize_text_agg(
    hits: DataFrame,
    text_col: str,
    *,
    max_categories: int = 25,
) -> DataFrame:
    """``categorize_text`` aggregation — the OpenSearch ML
    log-pattern grouping ("which message TEMPLATES dominate this
    index?"), deterministic where OpenSearch runs a drift-prone
    online categorizer: the category key masks every digit run to
    ``<num>`` in the lowercased text (the variable part of log
    templates), so messages differing only in ids/counts/timestamps
    collapse to one template. One map-side-combined groupBy; the
    representative example is the lexicographic MIN original text —
    order-independent, no first()-nondeterminism.

    Returns (category, doc_count, example) ordered
    (doc_count DESC, category ASC), max_categories.
    """
    if max_categories < 1:
        raise ValueError("max_categories must be >= 1")
    cat = F.regexp_replace(F.lower(F.col(text_col)), "[0-9]+", "<num>")
    return (
        hits.select(cat.alias("category"), F.col(text_col).alias("_t"))
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.min("_t").alias("example"),
        )
        .orderBy(F.col("doc_count").desc(), F.col("category").asc())
        .limit(max_categories)
    )


def categorize_text_oracle_sql(
    hits_sql: str,
    text_col: str,
    *,
    max_categories: int = 25,
) -> str:
    """DuckDB SQL computing the identical template grouping."""
    return f"""
    WITH h AS ({hits_sql})
    SELECT regexp_replace(lower({text_col}), '[0-9]+', '<num>', 'g')
               AS category,
           CAST(COUNT(*) AS BIGINT) AS doc_count,
           MIN({text_col}) AS example
    FROM h
    GROUP BY 1
    ORDER BY doc_count DESC, category ASC
    LIMIT {max_categories}
    """


def normalized_hybrid_fuse(
    legs: list,
    weights: list,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
    top_k: int = 20,
) -> DataFrame:
    """Score-normalized hybrid fusion — the OpenSearch 2.x ``hybrid``
    query with the ``min_max`` normalization + ``arithmetic_mean``
    combination processors: each leg's scores min-max normalize into
    [0, 1] WITHIN the leg (BM25 and cosine live on incomparable
    scales — normalization is what makes a weighted sum meaningful
    where :func:`rrf_fuse` side-steps scores entirely), then combine
    as ``Σ wᵢ·normᵢ`` with missing-from-leg contributing 0.

    Degenerate leg (all scores equal): every doc normalizes to 1.0
    (it is everyone's best score — the OpenSearch convention).

    Determinism: normalization is subtract+divide on the legs'
    quantized-exact scores (single IEEE ops on identical inputs);
    each weighted contribution rounds to a 1e-6 long before the
    order-independent sum — bit-identical cross-engine.

    Execution: legs are top-k-sized relations; per-leg min/max is a
    1-row aggregate broadcast back; fusion is one hash aggregate on
    the id, cut by TakeOrderedAndProject — O(Σ|legs|), independent
    of corpus size.

    Returns (id, hybrid_score, n_legs_hit) ordered
    (hybrid_score DESC, id ASC), top_k.
    """
    if not legs:
        raise ValueError("normalized_hybrid_fuse needs at least one leg")
    if len(weights) != len(legs):
        raise ValueError("need exactly one weight per leg")
    if any(w < 0 for w in weights):
        raise ValueError("weights must be >= 0")
    tagged = []
    for leg, w in zip(legs, weights):
        # persist the (top-k-sized) leg: its min/max aggregate AND the
        # contribution projection both consume it — without the pin
        # the leg's UPSTREAM (an index read + window, or a corpus
        # brute-force pass) executes twice (audited: 10 scans → 4)
        leg = leg.persist()
        stats = leg.agg(
            F.min(score_col).alias("_mn"), F.max(score_col).alias("_mx")
        )
        norm = F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col(score_col) - F.col("_mn"))
            / (F.col("_mx") - F.col("_mn")),
        ).otherwise(F.lit(1.0))
        tagged.append(
            leg.crossJoin(F.broadcast(stats)).select(
                F.col(id_col),
                F.round(F.lit(float(w)) * norm * F.lit(float(_ES_FP)), 0)
                .cast("long")
                .alias("_c"),
            )
        )
    allc = tagged[0]
    for t in tagged[1:]:
        allc = allc.unionByName(t)
    return (
        allc.groupBy(id_col)
        .agg(
            (F.sum("_c").cast("decimal(38,0)") / F.lit(_ES_FP))
            .cast("double")
            .alias("hybrid_score"),
            F.count(F.lit(1)).cast("long").alias("n_legs_hit"),
        )
        .orderBy(F.col("hybrid_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
