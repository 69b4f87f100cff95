"""Retrieval-serving operators completing the OpenSearch query surface.

The reference's terminal store is an OpenSearch index (firehose.py:
114-155); beyond plain ranked search (operators/search.py) its
serving surface includes hybrid lexical+dense ranking, more-like-this
expansion, hit highlighting and suggesters. Each is re-expressed
Spark-first here, exactly-reproducible (quantized rational
arithmetic, deterministic tie-breaks) so every operator is
oracle-checkable cross-engine:

- :func:`rrf_fuse` — reciprocal-rank fusion of ANY ranked lists
  (the standard hybrid-search combiner: OpenSearch hybrid query /
  Cormack & Clarke 2009). Rank-only, so heterogeneous scores
  (BM25 vs cosine) need no calibration.
- :func:`normalized_hybrid_fuse` — the OpenSearch 2.x ``hybrid``
  query's min_max leg normalization + weighted arithmetic mean.
- :func:`more_like_this` — seed-document similarity query: the
  seed's top TF-IDF terms become a BM25 query (Lucene MoreLikeThis
  parity).
- :func:`search_snippets` — best highlight window per document:
  the fixed-width token window containing the most query-term hits
  (earliest such window on ties).
- :func:`spell_suggest`, :func:`phrase_suggest` — the term and
  phrase suggesters.

The aggregations over a hit set live in operators/aggs.py.

Scale shapes: every operator is a bounded prune/join over the
materialized token index or the pruned positional relation — no
corpus re-tokenization, no data-sized collects, no cross joins
beyond broadcast literals.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
    _ES_FP,
    _idx_relation,
)
from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
    local_relation as _local_relation,
)

# the engine-wide tokenizer boundary (operators/search.py contract)
_SPLIT_RE = _re.compile(r"[^a-z0-9]+")

_FP = 1_000_000  # 6-decimal fixed point (shared with operators/search.py)


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


__all__ = [
    "more_like_this",
    "normalized_hybrid_fuse",
    "phrase_suggest",
    "phrase_suggest_oracle_sql",
    "rrf_fuse",
    "search_snippets",
    "spell_suggest",
]
