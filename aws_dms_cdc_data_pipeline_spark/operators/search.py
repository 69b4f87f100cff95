"""Keyword search with BM25-family ranking — the OpenSearch parity op.

The reference pipeline's terminal store is an OpenSearch index whose
headline capability is ranked free-text search over the replicated
documents (reference README.md:451-492 shows the ingested doc being
browsed in Discover; the query shapes here are the standard OpenSearch
query-DSL surface that index serves). This is that capability as a
Spark query: score every document against a bag of query terms and
return the top-k.

Scoring is BM25 with one deliberate change for cross-engine
determinism: the idf factor drops the logarithm —
``idf' = (N − df + 0.5)/(df + 0.5)`` instead of ``ln(1 + …)``. The
log is strictly monotone, so per-term idf ORDER is identical; we
document (rather than hide) that multi-term totals can deviate from
textbook BM25 ranking since log-compression damps high-idf terms.
What the change buys: every arithmetic step is rational (+, −, ×, ÷
on exact integer inputs), so Spark and any oracle engine produce
bit-identical doubles — no libm ``ln`` variance — and each term's
contribution quantizes exactly (the ``_q6`` fixed-point pattern)
into an order-independent integer sum. Ranking is fully
deterministic including ties (score DESC, doc_id ASC).

Execution shape at 100 TB:

- Tokenize + count per (doc, term) in one map-side pass; the
  inverted-index rows for NON-query terms never leave the scan — the
  broadcast literal term list prunes before the first shuffle.
- Ad-hoc use tokenizes twice (once for the pruned hits, once for the
  document-length branch). A production corpus materializes
  ``tokenize()`` ONCE as a bucketed table (sinks/bucketed.py, bucket
  on the id): every subsequent search prunes that index and the
  dl/stats branch reads pre-aggregated lengths — per-query work
  collapses to the hit rows.
- Document lengths aggregate map-side; ``avgdl``/``N`` ride a 1-row
  broadcast (no driver collect).
- df per query term = tiny aggregate over the pruned index.
- Final score: one hash aggregate on doc_id over ≤ |terms| rows per
  doc; top-k compiles to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
    local_relation as _local_relation,
    stats_memo_key,
)

_FP = 1_000_000  # 6-decimal fixed point, matches plans/queries._q6

# (plan semanticHash, terms, mask) -> collected 1-row corpus stats;
# see _bm25_adhoc_scores. Session-lifetime, FIFO-bounded at 256.
_ADHOC_STATS_MEMO: dict = {}


def tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, tf): lowercase alnum tokens with per-doc counts."""
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import fan_out_scan

    toks = fan_out_scan(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    return toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    textbook: bool = False,
) -> DataFrame:
    """Top-k documents for a bag of query terms.

    Returns (id, score, n_terms_hit) ordered by (score DESC, id ASC).
    ``score`` is the quantized-exact sum of per-term BM25
    contributions. ``textbook=True`` uses the standard Lucene idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))`` — textbook multi-term
    ranking at the cost of libm ``ln`` in the score (still
    deterministic within Spark; just not guaranteed bit-identical to
    an independent engine's ``ln``). The default keeps the log-free
    rational idf whose cross-engine determinism the DuckDB oracle
    check depends on (see module docstring; measured agreement
    between the two orderings on the documents fixture:
    tests/test_search.py::test_textbook_vs_rational_idf_deviation).
    """
    if not query_terms:
        raise ValueError("bm25_search needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    proj = _bm25_adhoc_proj(docs, terms, text_col=text_col, id_col=id_col)
    scored = _bm25_adhoc_scores(
        proj, terms, id_col=id_col, k1=k1, b=b, textbook=textbook
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(top_k)


def _term_eq(t: str):
    """Single-arg lambda factory for array ``filter`` — F.filter
    treats a 2-parameter lambda as (element, index), so a default-arg
    closure (``lambda x, t=t``) silently binds the INDEX to t."""
    return lambda x: x == F.lit(t)


def _sql_str(s: str) -> str:
    """Escape a term for inlining into a SQL string literal (tokens
    are lowercase alnum by construction — the escapes are defense)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _tf_cols_sql(terms: list[str]) -> list[str]:
    """Per-term tf projections over ``_toks`` as SQL strings — the
    Column-DSL loop costs ~1 ms of py4j traffic per node (profiled
    r17); the parsed expressions are identical."""
    return [
        f"cast(size(filter(_toks, x -> x = '{_sql_str(t)}')) as long) "
        f"AS _tf{i}"
        for i, t in enumerate(terms)
    ]


def _bm25_adhoc_proj(
    docs: DataFrame,
    terms: list[str],
    *,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The ad-hoc (no materialized index) front half shared by
    :func:`bm25_search`, :func:`function_score` and
    :func:`boosting_search`: one tokenize pass reduced in-row to a
    NARROW per-document projection ``(id, dl, _tf0.._tfK-1)`` — one
    tf column per (sorted) query term.

    The query terms are literals, so tf needs no explode and no
    (doc, term) aggregate at all: ``size(filter(_toks, = term))``
    counts occurrences element-wise inside the same codegen stage
    that split the text, and dl is the array size. The corpus-sized
    token arrays are never persisted and never shuffled — the r12
    shape persisted the full arrays and paid an explode + groupBy
    over hit rows (r13 A/B at sf1: warm 0.94 s → 0.62 s, cold cache
    build 5.6 s → 1.8 s; the cached relation shrinks from the corpus
    text size to K+2 longs/doc).

    dl=0 rows (token-less docs) stay IN the projection: a ``dl > 0``
    filter here gets pushed by Catalyst below the fan-out exchange,
    where its defining expression re-tokenizes every document on the
    scan's (narrow) parallelism — the whole pass the fan-out exists
    to spread (observed in the r13 plan: the pushed filter ran the
    split twice, once on 2 of 32 cores). Consumers exclude dl=0
    docs arithmetically instead: :func:`_bm25_adhoc_scores` counts
    corpus membership as ``sum(dl > 0)`` and drops no-hit rows via
    ``n_terms_hit > 0`` (tf > 0 implies dl > 0).

    Persisted (caller-owned, plan-keyed lifecycle): the projection
    feeds both the 1-row stats aggregate and the scoring pass, and
    identical (docs, terms) calls across operators share the cache by
    plan equality. The REAL fix for a
    served corpus remains the materialized index
    (:func:`ensure_token_index`), where no per-query tokenization
    exists at all.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import fan_out_scan

    toks = fan_out_scan(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("_toks"),
    )
    return toks.selectExpr(
        id_col, "cast(size(_toks) as long) AS dl", *_tf_cols_sql(terms)
    ).persist()


def _bm25_adhoc_scores(
    proj: DataFrame,
    terms: list[str],
    *,
    id_col: str,
    k1: float,
    b: float,
    textbook: bool = False,
    term_mask: list[bool] | None = None,
) -> DataFrame:
    """UNCUT per-doc BM25 scores over the wide ad-hoc projection —
    every matching doc, no top-k. Same quantized-exact arithmetic as
    :func:`_bm25_scores` (per-term contribution rounded to a long at
    _FP, long-summed, decimal-divided), but df-per-term and the
    corpus stats come from ONE 1-row aggregate over the projection
    (``sum(tf_i > 0)`` is df_i — tf > 0 implies dl > 0, so dfs need
    no membership guard; corpus membership itself is ``sum(dl > 0)``
    because the projection keeps token-less docs, see
    :func:`_bm25_adhoc_proj`), and the per-doc sum is a row-wise
    expression — no stack, no per-term groupBy, no join at all.

    The 1-row stats aggregate is COLLECTED (bounded: exactly one row,
    K+2 longs — the OpenSearch shape, where df/N are index statistics
    read before scoring) and idf/avgdl enter the scoring expression
    as double literals: Python float arithmetic is the same IEEE-754
    double ops Spark and DuckDB execute, so each per-term cq is
    bit-identical to the joined formulation while the scoring
    codegen shrinks ~3× and the broadcast round-trip disappears
    (r13 A/B: fresh-plan overhead was half the warm wall).

    ``term_mask[i]=False`` excludes term i from scoring while keeping
    it in the projection (boosting's negative leg reads those tf
    columns for its id set).
    """
    mask = term_mask if term_mask is not None else [True] * len(terms)
    aggs = [
        F.sum((F.col("dl") > 0).cast("long")).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    ]
    for i, keep in enumerate(mask):
        if keep:
            aggs.append(
                F.sum((F.col(f"_tf{i}") > 0).cast("long"))
                .cast("long")
                .alias(f"_df{i}")
            )
    # Memoize the collected stats by (appId, projection plan hash,
    # INPUT FILE SET, terms, mask): repeated identical queries (the
    # serving pattern) skip the stats job entirely, reading df/N the
    # way OpenSearch reads them — as precomputed index statistics.
    # The file set keys staleness (r18): an in-place overwrite of the
    # source table writes new part files and re-collects — the
    # _ARTIFACT_MEMO key shape, closing the r17 verdict's stale-stats
    # hole. A different source path, term set, or mask is a
    # different key. FIFO-bounded.
    memo_key = stats_memo_key(
        proj,
        tuple(terms),
        tuple(mask),
    )
    row = _ADHOC_STATS_MEMO.get(memo_key)
    if row is None:
        row = proj.agg(*aggs).collect()[0]
        if len(_ADHOC_STATS_MEMO) >= 256:
            _ADHOC_STATS_MEMO.pop(next(iter(_ADHOC_STATS_MEMO)))
        _ADHOC_STATS_MEMO[memo_key] = row
    n_docs = int(row["n_docs"] or 0)
    total_dl = int(row["total_dl"] or 0)
    if n_docs == 0:
        # empty corpus: no doc can match; keep the schema
        return (
            proj.select(
                F.col(id_col),
                F.lit(None).cast("double").alias("score"),
                F.lit(0).cast("long").alias("n_terms_hit"),
            ).filter(F.lit(False))
        )
    import math

    avgdl = total_dl / n_docs
    k1f, bf = float(k1), float(b)
    contribs = []
    hit_flags = []
    # scoring expression as ONE SQL string (the _tf_cols_sql
    # rationale): double literals carry D suffixes, repr() round-trips
    # doubles exactly, so the parsed arithmetic chain is bit-identical
    # to the Column-DSL form it replaced
    for i, keep in enumerate(mask):
        if not keep:
            continue
        tf = f"_tf{i}"
        df_ = int(row[f"_df{i}"] or 0)
        idf = (float(n_docs - df_) + 0.5) / (float(df_) + 0.5)
        if textbook:
            idf = math.log(1.0 + idf)
        tf_part = (
            f"({tf} * {k1f + 1!r}D) / ({tf} + {k1f!r}D * "
            f"({1 - bf!r}D + {bf!r}D * dl / {avgdl!r}D))"
        )
        cq = (
            f"cast(round({idf!r}D * {tf_part} * {float(_FP)!r}D, 0) "
            "as long)"
        )
        contribs.append(
            f"(CASE WHEN {tf} > 0 THEN {cq} ELSE 0L END)"
        )
        hit_flags.append(f"cast({tf} > 0 as long)")
    total = " + ".join(contribs)
    n_hit = " + ".join(hit_flags)
    return proj.selectExpr(
        id_col,
        f"cast(cast(({total}) as decimal(38,0)) / {_FP} as double) "
        "AS score",
        f"cast(({n_hit}) as long) AS n_terms_hit",
    ).filter(F.col("n_terms_hit") > 0)


def span_first(
    docs: DataFrame,
    term: str,
    *,
    end: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-first query — the OpenSearch/Lucene ``span_first``
    (match a term only within the FIRST ``end`` token positions: the
    lead-paragraph / title-region constraint the bag-of-terms and
    phrase shapes cannot express). Returns
    (id, first_pos, n_in_window) for docs whose token at some
    position < ``end`` equals ``term``, ordered
    (n_in_window DESC, id ASC) — the deterministic-tie stance of the
    term-query family.

    Scale shape: completely EXPLODE-free — one narrow projection per
    doc (`transform` indexes the token array, `filter` keeps
    in-window hits, `size`/element_at read the result), all
    whole-stage-codegen'd; no shuffle at all (the final global sort
    is on the ≤matched set). The served path is
    :func:`span_first_indexed`.
    """
    if end < 1:
        raise ValueError("end must be >= 1 (positions are 0-based)")
    t = term.lower()
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("_toks"),
    )
    wins = F.filter(
        F.transform(
            "_toks",
            lambda x, i: F.struct(x.alias("t"), i.alias("p")),
        ),
        lambda s: (s["t"] == F.lit(t)) & (s["p"] < F.lit(int(end))),
    )
    hit = toks.select(
        F.col(id_col),
        wins.alias("_w"),
    ).filter(F.size("_w") > 0)
    return hit.select(
        F.col(id_col),
        F.element_at("_w", 1)["p"].cast("long").alias("first_pos"),
        F.size("_w").cast("long").alias("n_in_window"),
    ).orderBy(F.col("n_in_window").desc(), F.col(id_col).asc())


def span_first_indexed(
    spark,
    pos_table: str,
    term: str,
    *,
    end: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`span_first` served from the materialized positional
    index (:func:`ensure_position_index`): the term-bucketed
    (id, term, pos) table bucket-prunes to the ONE probe term, the
    position predicate cuts the window, and one doc-keyed aggregate
    finishes — per-query work is the probe term's in-window postings,
    independent of corpus text. Bit-identical to the ad-hoc path
    (same tokenizer, same 0-based positions; parity-tested)."""
    if end < 1:
        raise ValueError("end must be >= 1 (positions are 0-based)")
    t = term.lower()
    hits = spark.table(pos_table).filter(
        (F.col("term") == F.lit(t)) & (F.col("pos") < F.lit(int(end)))
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.min("pos").cast("long").alias("first_pos"),
            F.count(F.lit(1)).cast("long").alias("n_in_window"),
        )
        .orderBy(F.col("n_in_window").desc(), F.col(id_col).asc())
    )


def span_first_oracle_sql(
    term: str,
    *,
    end: int,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL computing the identical span-first result (same
    tokenizer, same 0-based positions)."""
    t = term.lower().replace("'", "''")
    return f"""
    WITH dw AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower({text_col}),
                                              '[^a-z0-9]+'),
                           x -> x <> '') AS ws
        FROM {table}
    ),
    toks AS (
        SELECT {id_col}, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS term
        FROM dw, UNNEST(generate_series(1, len(ws))) AS s(i)
    )
    SELECT {id_col},
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(COUNT(*) AS BIGINT) AS n_in_window
    FROM toks
    WHERE term = '{t}' AND pos < {int(end)}
    GROUP BY {id_col}
    ORDER BY n_in_window DESC, {id_col} ASC
    """


_FSCORE_MODIFIERS = ("none", "sqrt", "square", "reciprocal")
_FSCORE_BOOST_MODES = ("multiply", "sum", "max", "min", "replace", "avg")


def function_score(
    docs: DataFrame,
    query_terms: list[str],
    *,
    field_col: str,
    factor: float = 1.0,
    modifier: str = "none",
    missing: float = 1.0,
    boost_mode: str = "multiply",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Function-score query — the OpenSearch ``function_score`` with
    a ``field_value_factor`` function (the Discover relevance-tuning
    shape: re-rank text relevance by a numeric document signal, e.g.
    boost longer/fresher/more-popular docs): every doc matching the
    term bag gets ``func = modifier(factor · field_value)`` and the
    final score combines BM25 relevance with ``func`` per
    ``boost_mode`` (multiply | sum | max | min | replace | avg —
    the OpenSearch set). Docs missing the field use ``missing``.

    Functions re-rank, so the function applies to the FULL matched
    set before any cut — cutting BM25 first would drop docs the
    function promotes (the uncut :func:`_bm25_scores` path exists
    for exactly this).

    Modifier subset: ``none | sqrt | square | reciprocal`` — each a
    single correctly-rounded IEEE op, so the combined double is
    bit-identical cross-engine on top of the quantized-exact BM25
    score. The log-family modifiers (``log1p``/``ln``…) are rejected
    with a documented reason: libm ``log`` is not guaranteed
    bit-identical between the JVM and an independent engine — the
    same determinism stance as ``textbook=False`` idf. ``sqrt``
    requires ``factor·value ≥ 0`` (it would yield NaN — OpenSearch
    errors there too); the registry field (``n_chars``) is a count.

    Returns (id, base_score, n_terms_hit, func_value, score) ordered
    by (score DESC, id ASC), top_k.

    Scale shape: the BM25 legs are unchanged (pruned-explode hits +
    array-size lengths); the field attaches via ONE id-keyed join
    that moves only (id, field_value) pairs — never text — and the
    final order/limit is TakeOrderedAndProject over the matched set.
    """
    if not query_terms:
        raise ValueError("function_score needs at least one query term")
    if modifier not in _FSCORE_MODIFIERS:
        raise ValueError(
            f"modifier must be one of {_FSCORE_MODIFIERS} (log-family "
            "modifiers are excluded: libm log is not bit-identical "
            "across engines, breaking the oracle contract)"
        )
    if boost_mode not in _FSCORE_BOOST_MODES:
        raise ValueError(f"boost_mode must be one of {_FSCORE_BOOST_MODES}")
    terms = sorted({t.lower() for t in query_terms})
    proj = _bm25_adhoc_proj(docs, terms, text_col=text_col, id_col=id_col)
    scores = _bm25_adhoc_scores(proj, terms, id_col=id_col, k1=k1, b=b)
    fields = docs.select(
        F.col(id_col), F.col(field_col).cast("double").alias("_fv")
    )
    joined = scores.join(fields, id_col, "left")
    raw = F.lit(float(factor)) * F.coalesce(
        F.col("_fv"), F.lit(float(missing))
    )
    func = {
        "none": raw,
        # Guarded: factor*value < 0 yields NULL (not silent NaN) so
        # both engines agree on out-of-contract inputs — Spark's sqrt
        # returns NaN for negatives while DuckDB raises; the guard
        # makes both emit NULL (OpenSearch rejects such docs too).
        "sqrt": F.when(raw >= 0, F.sqrt(raw)),
        "square": raw * raw,
        "reciprocal": F.lit(1.0) / raw,
    }[modifier]
    s = F.col("base_score")
    f_ = F.col("func_value")
    combined = {
        "multiply": s * f_,
        "sum": s + f_,
        "max": F.greatest(s, f_),
        "min": F.least(s, f_),
        "replace": f_,
        "avg": (s + f_) / F.lit(2.0),
    }[boost_mode]
    return (
        joined.select(
            F.col(id_col),
            F.col("score").alias("base_score"),
            F.col("n_terms_hit"),
            func.alias("func_value"),
        )
        .withColumn("score", combined)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def function_score_oracle_sql(
    query_terms: list[str],
    *,
    field_col: str,
    factor: float = 1.0,
    modifier: str = "none",
    missing: float = 1.0,
    boost_mode: str = "multiply",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical function-scored ranking
    (same quantized-exact BM25, same single-IEEE-op function, same
    combine)."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    raw = (
        f"CAST({float(factor)!r} AS DOUBLE) * COALESCE("
        f"CAST(fv._fv AS DOUBLE), CAST({float(missing)!r} AS DOUBLE))"
    )
    func = {
        "none": raw,
        # Mirrors the Spark-side negative guard: NULL on < 0 inputs.
        "sqrt": f"CASE WHEN ({raw}) >= 0 THEN sqrt({raw}) END",
        "square": f"({raw}) * ({raw})",
        "reciprocal": f"CAST(1.0 AS DOUBLE) / ({raw})",
    }[modifier]
    combined = {
        "multiply": "base_score * func_value",
        "sum": "base_score + func_value",
        "max": "greatest(base_score, func_value)",
        "min": "least(base_score, func_value)",
        "replace": "func_value",
        "avg": "(base_score + func_value) / CAST(2.0 AS DOUBLE)",
    }[boost_mode]
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tok GROUP BY {id_col}),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    hits AS (SELECT * FROM tok WHERE term IN ({in_list})),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM hits GROUP BY term),
    contrib AS (
        SELECT h.{id_col},
               CAST(round(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * ({k1} + 1)) /
                      (h.tf + {k1} * ((1 - {b}) + {b} * l.dl
                                      / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))
                   * 1000000, 0) AS BIGINT) AS cq
        FROM hits h JOIN dfs d USING (term)
                    JOIN dl l USING ({id_col})
                    CROSS JOIN stats s
    ),
    bm25 AS (
        SELECT {id_col},
               CAST(CAST(SUM(cq) AS DECIMAL(38,0)) / 1000000 AS DOUBLE)
                   AS base_score,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM contrib
        GROUP BY {id_col}
    ),
    fv AS (SELECT {id_col}, CAST({field_col} AS DOUBLE) AS _fv
           FROM {table}),
    funced AS (
        SELECT b2.{id_col}, b2.base_score, b2.n_terms_hit,
               {func} AS func_value
        FROM bm25 b2 LEFT JOIN fv USING ({id_col})
    )
    SELECT {id_col}, base_score, n_terms_hit, func_value,
           {combined} AS score
    FROM funced
    ORDER BY score DESC, {id_col} ASC
    LIMIT {top_k}
    """


def _bm25_rank(
    hits: DataFrame,
    dl: DataFrame,
    *,
    id_col: str,
    k1: float,
    b: float,
    top_k: int,
    textbook: bool = False,
) -> DataFrame:
    """Score + rank given pruned (id, term, tf) hits and (id, dl)
    lengths — the shared back half of the ad-hoc and indexed paths."""
    scored = _bm25_scores(
        hits, dl, id_col=id_col, k1=k1, b=b, textbook=textbook
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(top_k)


def _bm25_scores(
    hits: DataFrame,
    dl: DataFrame,
    *,
    id_col: str,
    k1: float,
    b: float,
    textbook: bool = False,
) -> DataFrame:
    """UNCUT per-doc BM25 scores — every matching doc, no top-k.
    :func:`function_score` needs the full matched set (functions
    re-rank, so cutting first would drop docs the function promotes);
    :func:`_bm25_rank` is this plus the order/limit.

    When ``hits`` already carries a ``dl`` column (the ad-hoc path —
    length is functionally dependent on the id and rides the
    aggregate key), the length join is skipped: joining the
    corpus-sized (id, dl) relation onto hit-sized hits was the one
    document-sized exchange in the ad-hoc score path. The indexed
    path joins as before — its dl side is the id-bucketed toklen
    table, pre-clustered on the join key."""
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    df_per_term = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    # df_per_term is provably ≤ |query terms| rows — broadcast it
    # (the planner's stats can't see that bound through the agg), so
    # the hit relation never re-exchanges on the term key
    scored = hits.join(F.broadcast(df_per_term), "term")
    if "dl" not in hits.columns:
        scored = scored.join(dl, id_col)
    scored = scored.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_dl") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    if textbook:
        idf = F.log(F.lit(1.0) + idf)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    contrib_q = F.round(idf * tf_part * F.lit(float(_FP)), 0).cast("long")
    return scored.groupBy(id_col).agg(
        (F.sum(contrib_q).cast("decimal(38,0)") / F.lit(_FP))
        .cast("double")
        .alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )


def bm25_search_many(
    spark,
    idx_table: str,
    dl_table: str,
    queries: dict[str, list[str]],
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    textbook: bool = False,
) -> DataFrame:
    """Score a BATCH of keyword queries against the token index in ONE
    job — the production serving shape (a search/eval workload is
    thousands of queries, not one; per-query jobs pay the scheduling
    floor thousands of times).

    Returns (query_id, id, score, n_terms_hit, rank), rank 1..top_k
    per query by (score DESC, id ASC). Per-query results are
    bit-identical to :func:`bm25_search_indexed` run one query at a
    time (asserted in tests).

    Shape: the index prunes ONCE to the union of all queries' terms
    (bucket-pruned); the (query_id, term) map is a broadcast literal
    relation, so each hit row fans out only to the queries containing
    its term; df-per-term and corpus stats are computed once and
    shared; the per-query top-k cut is a rank window that
    WindowGroupLimit trims map-side — no per-query jobs, no global
    sort.
    """
    from pyspark.sql import Window

    if not queries:
        raise ValueError("bm25_search_many needs at least one query")
    # per-query validation, mirroring bm25_search_indexed's contract:
    # an empty term list would otherwise silently return no rows for
    # that query_id — indistinguishable from "no hits".
    empty = sorted(qid for qid, terms in queries.items() if not terms)
    if empty:
        raise ValueError(
            f"bm25_search_many: queries with no terms: {empty}"
        )
    qmap = sorted(
        {(qid, t.lower()) for qid, terms in queries.items() for t in terms}
    )
    qdf = _local_relation(spark, qmap, "query_id string, term string")
    all_terms = sorted({t for _, t in qmap})

    hits = spark.table(idx_table).filter(F.col("term").isin(all_terms))
    dl = spark.table(dl_table)
    stats = dl.agg(
        F.expr("cast(count(1) as long) AS n_docs"),
        F.expr("cast(sum(dl) as long) AS total_dl"),
    )
    df_per_term = hits.groupBy("term").agg(
        F.expr("cast(count(1) as long) AS df")
    )
    scored = (
        hits.join(F.broadcast(qdf), "term")
        .join(df_per_term, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    # scoring as one JVM-parsed SQL string (the bool_search_many /
    # clause_search precedent): D-suffixed double literals — a bare
    # SQL `0.5` parses as DECIMAL — and repr() round-trips exactly
    k1f, bf = float(k1), float(b)
    idf_s = "((n_docs - df + 0.5D) / (df + 0.5D))"
    if textbook:
        idf_s = f"ln(1.0D + {idf_s})"
    tf_part_s = (
        f"((tf * {k1f + 1!r}D) / (tf + {k1f!r}D * "
        f"({1 - bf!r}D + {bf!r}D * dl / (total_dl / n_docs))))"
    )
    contrib_s = (
        f"cast(round({idf_s} * {tf_part_s} * {float(_FP)!r}D, 0) as long)"
    )
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.expr(
            f"cast(cast(sum({contrib_s}) as decimal(38,0)) / {_FP} "
            "as double)"
        ).alias("score"),
        F.expr("cast(count(1) as long)").alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", id_col, "score", "n_terms_hit", "rank")
    )


def _normalize_bool_query(qid: str, spec: dict) -> tuple[list, int, int, list]:
    """Validate one bool-query spec → ((term, kind, boost) rows,
    n_must, min_should, (field, op, value) filters)."""

    def clause(kind):
        out = []
        for c in spec.get(kind, []):
            term, boost = (c, 1.0) if isinstance(c, str) else c
            if boost <= 0:
                raise ValueError(f"bool query {qid!r}: boost must be > 0")
            out.append((term.lower(), kind, float(boost)))
        return out

    rows = clause("must") + clause("should") + clause("must_not")
    seen: dict[str, str] = {}
    for term, kind, _ in rows:
        if term in seen and seen[term] != kind:
            raise ValueError(
                f"bool query {qid!r}: term {term!r} appears in both "
                f"{seen[term]!r} and {kind!r}"
            )
        seen[term] = kind
    n_must = len([r for r in rows if r[1] == "must"])
    n_should = len([r for r in rows if r[1] == "should"])
    min_should = int(spec.get("minimum_should_match", 0 if n_must else 1))
    if n_must == 0 and n_should == 0:
        raise ValueError(
            f"bool query {qid!r}: needs must clauses or "
            "minimum_should_match >= 1 (must_not/filter alone would "
            "match the whole corpus)"
        )
    if min_should > n_should:
        raise ValueError(
            f"bool query {qid!r}: minimum_should_match={min_should} "
            f"exceeds the {n_should} should clauses"
        )
    if n_must == 0 and min_should < 1:
        raise ValueError(
            f"bool query {qid!r}: needs must clauses or "
            "minimum_should_match >= 1 (must_not/filter alone would "
            "match the whole corpus)"
        )
    filters = []
    for field, op, value in spec.get("filter", []):
        if op not in ("eq", "gte", "lte"):
            raise ValueError(
                f"bool query {qid!r}: filter op {op!r} not in eq/gte/lte"
            )
        filters.append((field, op, str(value)))
    return rows, n_must, min_should, filters


def bool_search_many(
    spark,
    idx_table: str,
    dl_table: str,
    queries: dict[str, dict],
    *,
    attrs: DataFrame | None = None,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    textbook: bool = False,
) -> DataFrame:
    """Compound BOOLEAN search — the OpenSearch ``bool`` query (the
    standard OpenSearch query-DSL compound shape served by the
    reference's Discover-browsed index: must/should/must_not term
    clauses with boosts plus structured filters) — for a BATCH of
    queries in one job.

    Each ``queries[query_id]`` spec:

    - ``must``: term clauses that ALL have to match; each contributes
      its (boosted) BM25 score. A clause is ``"term"`` or
      ``("term", boost)``.
    - ``should``: optional clauses; matches add score. At least
      ``minimum_should_match`` of them must hit (default 1 when there
      are no must clauses, else 0 — the OpenSearch default).
    - ``must_not``: any match excludes the document; never scores.
    - ``filter``: ``(field, op, value)`` predicates on the ``attrs``
      relation (``op`` in eq/gte/lte; eq compares as string, the
      range ops as double) — match-but-don't-score, the Discover
      sidebar facet / time-range leg.

    Returns (query_id, id, score, n_terms_hit, rank), rank 1..top_k
    per query by (score DESC, id ASC); score is the quantized-exact
    sum of per-term BM25 contributions × clause boost (same rational
    idf + fixed-point contract as :func:`bm25_search`).

    Shape (scales like :func:`bm25_search_many`): the token index
    prunes ONCE to the union of all queries' terms (bucket-pruned
    ``term IN``); the (query_id, term, kind, boost) map is a
    broadcast literal relation, so each index row fans out only to
    the queries referencing its term; must_not resolves on the HIT
    SET (a conditional aggregate over index rows — the corpus is
    never scanned for absences); filters evaluate on the already
    must/should-pruned candidate set against a broadcast predicate
    relation; the per-query top-k is a rank window WindowGroupLimit
    trims map-side. No per-query jobs, no corpus shuffle, no global
    sort.
    """
    from pyspark.sql import Window

    if not queries:
        raise ValueError("bool_search_many needs at least one query")
    qrows, reqs, frows = [], [], []
    for qid in sorted(queries):
        rows, n_must, min_should, filters = _normalize_bool_query(
            qid, queries[qid]
        )
        qrows += [(qid, t, k, w) for t, k, w in rows]
        reqs.append((qid, n_must, min_should))
        frows += [(qid, f, op, v) for f, op, v in filters]
    if frows and attrs is None:
        raise ValueError("bool queries have filter clauses but attrs=None")
    qdf = _local_relation(
        spark, sorted(qrows),
        "query_id string, term string, kind string, boost double",
    )
    qreq = _local_relation(
        spark, reqs, "query_id string, n_must long, min_should long"
    )
    all_terms = sorted({t for _, t, _, _ in qrows})

    hits = spark.table(idx_table).filter(F.col("term").isin(all_terms))
    dl = spark.table(dl_table)
    stats = dl.agg(
        F.expr("cast(count(1) as long) AS n_docs"),
        F.expr("cast(sum(dl) as long) AS total_dl"),
    )
    df_per_term = hits.groupBy("term").agg(
        F.expr("cast(count(1) as long) AS df")
    )
    scored = (
        hits.join(F.broadcast(qdf), "term")
        .join(df_per_term, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    # scoring + membership expressions as JVM-parsed SQL strings (the
    # clause_search/bool_tree precedent): double literals carry the D
    # suffix (a bare SQL `0.5` parses as DECIMAL and would change the
    # arithmetic type chain), repr() round-trips IEEE doubles exactly
    k1f, bf = float(k1), float(b)
    idf_s = "((n_docs - df + 0.5D) / (df + 0.5D))"
    if textbook:
        idf_s = f"ln(1.0D + {idf_s})"
    tf_part_s = (
        f"((tf * {k1f + 1!r}D) / (tf + {k1f!r}D * "
        f"({1 - bf!r}D + {bf!r}D * dl / (total_dl / n_docs))))"
    )
    contrib_s = (
        f"cast(round({idf_s} * {tf_part_s} * boost * "
        f"{float(_FP)!r}D, 0) as long)"
    )
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.expr(
            f"sum(CASE WHEN kind != 'must_not' THEN {contrib_s} END)"
        ).alias("_sq"),
        F.expr("count(CASE WHEN kind = 'must' THEN 1 END)")
        .alias("_n_must_hit"),
        F.expr("count(CASE WHEN kind = 'should' THEN 1 END)")
        .alias("_n_should_hit"),
        F.expr(
            "cast(count(CASE WHEN kind != 'must_not' THEN 1 END) as long)"
        ).alias("n_terms_hit"),
        F.expr("max(CASE WHEN kind = 'must_not' THEN 1 END)")
        .alias("_ex"),
    )
    cand = (
        per_doc.join(F.broadcast(qreq), "query_id")
        .filter(F.expr(
            "_ex IS NULL AND _n_must_hit = n_must "
            "AND _n_should_hit >= min_should"
        ))
        .selectExpr(
            "query_id",
            id_col,
            f"cast(cast(_sq as decimal(38,0)) / {_FP} as double) AS score",
            "n_terms_hit",
        )
    )
    if frows:
        fdf = _local_relation(
            spark, sorted(frows),
            "query_id string, _field string, _op string, _value string",
        )
        fields = sorted({f for _, f, _, _ in frows})
        attr_map = F.expr(
            "map("
            + ", ".join(f"'{f}', cast({f} as string)" for f in fields)
            + ")"
        )
        av = "element_at(_attrs, _field)"
        ok = F.expr(
            "coalesce(CASE WHEN _field IS NULL THEN true "
            f"WHEN _op = 'eq' THEN {av} = _value "
            f"WHEN _op = 'gte' THEN cast({av} as double) "
            ">= cast(_value as double) "
            f"WHEN _op = 'lte' THEN cast({av} as double) "
            "<= cast(_value as double) END, false)"
        )
        # LEFT join: attrs is a filter-predicate relation, not a
        # membership gate.  A doc missing from attrs must fail only
        # queries with real filter clauses (_attrs null -> element_at
        # null -> every eq/gte/lte when-branch null -> coalesce False);
        # filterless queries in the same batch keep their full hit set
        # (their fdf row has _field null -> first when-branch True).
        # An inner join here silently dropped filterless queries' hits
        # whose doc_id was absent from attrs.
        cand = (
            cand.join(
                attrs.select(F.col(id_col), attr_map.alias("_attrs")),
                id_col,
                "left",
            )
            .join(F.broadcast(fdf), "query_id", "left")
            .groupBy("query_id", id_col, "score", "n_terms_hit")
            .agg(F.min(ok).alias("_ok"))
            .filter(F.col("_ok"))
            .drop("_ok")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", id_col, "score", "n_terms_hit", "rank")
    )


def token_index_stats(spark, idx_table: str, dl_table: str) -> DataFrame:
    """One-row health/capacity view of the materialized token index —
    the OpenSearch ``_stats`` / ``_cat/indices`` parity surface an
    operator checks before sizing queries: document count, vocabulary
    size, total token occurrences, exact average document length
    (decimal-accumulated, 6-dec), and the maximum per-term document
    frequency (the stop-term ceiling that bounds posting-list skew —
    the number the fan-out guards reason about).

    Execution: one shuffle-free aggregate over the term-bucketed
    index (df per term needs no exchange — the bucketing IS the term
    partitioning) + one over the id-bucketed length table, joined as
    1-row broadcasts. Corpus-size-independent output.
    """
    idx = spark.table(idx_table)
    dl = spark.table(dl_table)
    df_per_term = idx.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    term_side = df_per_term.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("_df").cast("long").alias("max_df"),
    )
    tf_side = idx.agg(F.sum("tf").cast("long").alias("total_tf"))
    doc_side = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_dl"),
    )
    return (
        doc_side.crossJoin(F.broadcast(term_side))
        .crossJoin(F.broadcast(tf_side))
        .select("n_docs", "n_terms", "total_tf", "avg_dl", "max_df")
    )


def token_index_stats_oracle_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL computing the identical stats from the raw corpus."""
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tok GROUP BY {id_col}),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tok GROUP BY term)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dl) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dfs) AS n_terms,
           (SELECT CAST(SUM(tf) AS BIGINT) FROM tok) AS total_tf,
           (SELECT round(CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) FROM dl) AS avg_dl,
           (SELECT CAST(MAX(df) AS BIGINT) FROM dfs) AS max_df
    """


def _wildcard_to_like(pattern: str) -> str:
    """``*``-wildcard → SQL LIKE with ``\\`` escaping (identical
    semantics in Spark and DuckDB). Only ``*`` is a wildcard; literal
    ``%``/``_``/``\\`` in the pattern are escaped."""
    parts = pattern.lower().split("*")
    esc = [
        p.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        for p in parts
    ]
    return "%".join(esc)


def wildcard_search(
    spark,
    idx_table: str,
    pattern: str,
    *,
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Wildcard term query — the OpenSearch/Discover ``field: foo*``
    search-bar shape (the OpenSearch wildcard query, served over the
    reference's Discover-browsed index): documents whose
    token set matches a ``*``-wildcard pattern, ranked by total
    matching occurrences (OpenSearch wildcard scores constant; total
    tf then id is the deterministic analogue), with the sorted
    matching-term set per doc.

    Returns (id, terms array<string>, n_terms, total_tf, rank).

    Scale shape: the LIKE predicate evaluates on the token index's
    term column — hash buckets cannot prune an infix wildcard (same
    caveat as autocomplete, operators/retrieval.py): the scan is
    index-wide but column-pruned and whole-stage-codegen'd, and a
    PREFIX pattern becomes range-prunable under the range-clustered
    layout (maintenance/layout.py). One doc-keyed aggregate over the
    matching rows follows; nothing corpus-sized shuffles. The rank
    window is global but runs AFTER the top-k cut — its input is k
    rows, not the corpus.
    """
    if not pattern.strip("*"):
        raise ValueError(
            "wildcard_search needs at least one literal character "
            "(a bare '*' would match the whole index)"
        )
    like = _wildcard_to_like(pattern)
    hits = spark.table(idx_table).filter(
        F.like(F.col("term"), F.lit(like), F.lit("\\"))
    )
    ranked = (
        hits.groupBy(id_col)
        .agg(
            F.sort_array(F.collect_set("term")).alias("terms"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(id_col, "terms", "n_terms", "total_tf", "rank")


def wildcard_oracle_sql(
    pattern: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical wildcard ranking."""
    like = _wildcard_to_like(pattern).replace("'", "''")
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    hits AS (SELECT * FROM tok WHERE term LIKE '{like}' ESCAPE '\\'),
    ranked AS (
        SELECT {id_col},
               list_sort(list(term)) AS terms,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM hits GROUP BY {id_col}
        ORDER BY total_tf DESC, {id_col} ASC
        LIMIT {top_k}
    )
    SELECT {id_col}, terms, n_terms, total_tf,
           CAST(row_number() OVER (ORDER BY total_tf DESC, {id_col} ASC)
                AS BIGINT) AS rank
    FROM ranked
    """


def terms_set_search(
    spark,
    idx_table: str,
    docs: DataFrame,
    terms: list[str],
    *,
    msm_expr: str,
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Terms-set query — the OpenSearch ``terms_set`` query with
    ``minimum_should_match_field``: docs containing at least a
    PER-DOCUMENT number of the probe terms, where the required count
    is an expression over the document's own attributes (the shape a
    plain bool/should with a constant ``minimum_should_match`` cannot
    express — e.g. long documents must match more terms than short
    ones). Ranked by (n_matched DESC, total_tf DESC, id ASC) — the
    deterministic analogue of OpenSearch's sum-of-matching-term
    scores — with the sorted matching-term set per doc.

    ``msm_expr`` is a SQL expression over the docs relation's columns
    in the engine-portable subset (arithmetic, comparisons, CASE —
    mirrored verbatim in the oracle). A required count above
    ``len(terms)`` is unsatisfiable for that doc (OpenSearch
    contract); a count ≤ 1 degrades to plain term-bag matching.

    Returns (id, terms array<string>, n_matched, total_tf, required,
    rank).

    Scale shape: the probe terms enter as an ``isin`` literal so the
    term-bucketed index read prunes to the matching buckets; one
    doc-keyed aggregate over the ≤|terms|-per-doc hit rows follows,
    and the required count attaches via ONE id-keyed join moving only
    (id, required) pairs — never text (the function_score field
    attach shape). The rank window runs after the top-k cut.
    """
    probe = sorted({t.lower() for t in terms})
    if not probe:
        raise ValueError("terms_set_search needs at least one term")
    hits = spark.table(idx_table).filter(F.col("term").isin(probe))
    per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_set("term")).alias("terms"),
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    req = docs.select(
        F.col(id_col), F.expr(msm_expr).cast("long").alias("required")
    )
    ranked = (
        per_doc.join(req, id_col)
        .filter(F.col("n_matched") >= F.col("required"))
        .orderBy(
            F.col("n_matched").desc(),
            F.col("total_tf").desc(),
            F.col(id_col).asc(),
        )
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("n_matched").desc(),
        F.col("total_tf").desc(),
        F.col(id_col).asc(),
    )
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(id_col, "terms", "n_matched", "total_tf", "required", "rank")


def terms_set_oracle_sql(
    terms: list[str],
    *,
    msm_expr: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical terms-set ranking."""
    probe = sorted({t.lower() for t in terms})
    in_list = ", ".join(f"'{t}'" for t in probe)
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    hits AS (SELECT * FROM tok WHERE term IN ({in_list})),
    per_doc AS (
        SELECT {id_col},
               list_sort(list(term)) AS terms,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM hits GROUP BY {id_col}
    ),
    req AS (SELECT {id_col}, CAST({msm_expr} AS BIGINT) AS required
            FROM {table}),
    ranked AS (
        SELECT p.{id_col}, p.terms, p.n_matched, p.total_tf, r.required
        FROM per_doc p JOIN req r USING ({id_col})
        WHERE p.n_matched >= r.required
        ORDER BY p.n_matched DESC, p.total_tf DESC, p.{id_col} ASC
        LIMIT {top_k}
    )
    SELECT {id_col}, terms, n_matched, total_tf, required,
           CAST(row_number() OVER (ORDER BY n_matched DESC, total_tf DESC,
                                   {id_col} ASC) AS BIGINT) AS rank
    FROM ranked
    """


def boosting_search(
    docs: DataFrame,
    positive_terms: list[str],
    negative_terms: list[str],
    *,
    negative_boost: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Boosting query — the OpenSearch ``boosting`` compound query
    (demote-without-excluding: docs matching the positive query rank
    by BM25, and docs ALSO matching the negative query keep their
    hit but have the score multiplied by ``negative_boost`` < 1 —
    where bool/must_not would drop them entirely, the Discover
    "prefer docs not about X" shape).

    Demotion re-ranks, so it applies to the FULL positive-matched set
    before any cut (the uncut :func:`_bm25_scores` path, the
    function_score precedent — cutting first would drop docs that
    out-rank demoted ones). The demotion itself is ONE IEEE multiply
    on the quantized-exact BM25 double → bit-identical cross-engine.

    Returns (id, base_score, n_terms_hit, negated, score) ordered by
    (score DESC, id ASC), top_k.

    Scale shape: one tokenization serves both legs — the pruned
    explode emits positive ∪ negative term occurrences only, the
    positive subset feeds the BM25 stats (df computed on the positive
    rows alone, so stats are untouched by the negative leg) and the
    negative subset reduces to a distinct id set attached via one
    id-keyed join moving only ids.
    """
    if not positive_terms:
        raise ValueError("boosting_search needs at least one positive term")
    if not negative_terms:
        raise ValueError("boosting_search needs at least one negative term")
    if not (0.0 <= negative_boost <= 1.0):
        raise ValueError("negative_boost must be in [0, 1]")
    pos = sorted({t.lower() for t in positive_terms})
    neg = sorted({t.lower() for t in negative_terms})
    both = sorted(set(pos) | set(neg))
    proj = _bm25_adhoc_proj(docs, both, text_col=text_col, id_col=id_col)
    # score ONLY the positive terms (mask keeps df on the positive
    # rows alone); the negative tf columns ride the same projection
    pos_set = set(pos)
    scores = _bm25_adhoc_scores(
        proj, both, id_col=id_col, k1=k1, b=b,
        term_mask=[t in pos_set for t in both],
    )
    neg_flag = F.lit(False)
    for i, t in enumerate(both):
        if t in set(neg):
            neg_flag = neg_flag | (F.col(f"_tf{i}") > 0)
    neg_ids = (
        proj.filter(neg_flag)
        .select(id_col)
        .withColumn("_neg", F.lit(True))
    )
    joined = scores.join(neg_ids, id_col, "left")
    negated = F.coalesce(F.col("_neg"), F.lit(False))
    return (
        joined.select(
            F.col(id_col),
            F.col("score").alias("base_score"),
            F.col("n_terms_hit"),
            negated.alias("negated"),
            F.when(
                negated, F.col("score") * F.lit(float(negative_boost))
            ).otherwise(F.col("score")).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def boosting_oracle_sql(
    positive_terms: list[str],
    negative_terms: list[str],
    *,
    negative_boost: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical boosting-query ranking
    (same quantized-exact BM25 over the positive leg, same single
    IEEE demotion multiply)."""
    pos = sorted({t.lower() for t in positive_terms})
    neg = sorted({t.lower() for t in negative_terms})
    pos_list = ", ".join(f"'{t}'" for t in pos)
    neg_list = ", ".join(f"'{t}'" for t in neg)
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tok GROUP BY {id_col}),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    hits AS (SELECT * FROM tok WHERE term IN ({pos_list})),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM hits GROUP BY term),
    contrib AS (
        SELECT h.{id_col},
               CAST(round(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * ({k1} + 1)) /
                      (h.tf + {k1} * ((1 - {b}) + {b} * l.dl
                                      / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))
                   * 1000000, 0) AS BIGINT) AS cq
        FROM hits h JOIN dfs d USING (term)
                    JOIN dl l USING ({id_col})
                    CROSS JOIN stats s
    ),
    bm25 AS (
        SELECT {id_col},
               CAST(CAST(SUM(cq) AS DECIMAL(38,0)) / 1000000 AS DOUBLE)
                   AS base_score,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM contrib
        GROUP BY {id_col}
    ),
    negdocs AS (SELECT DISTINCT {id_col} FROM tok
                WHERE term IN ({neg_list}))
    SELECT b2.{id_col}, b2.base_score, b2.n_terms_hit,
           (n.{id_col} IS NOT NULL) AS negated,
           CASE WHEN n.{id_col} IS NOT NULL
                THEN b2.base_score * CAST({float(negative_boost)!r} AS DOUBLE)
                ELSE b2.base_score END AS score
    FROM bm25 b2 LEFT JOIN negdocs n USING ({id_col})
    ORDER BY score DESC, b2.{id_col} ASC
    LIMIT {top_k}
    """


# whole-stage-codegen width guard for the wide multi_match path:
# |terms| × |fields| tf columns beyond this fall back to the unioned
# per-field-relation shape (generated code grows linearly in columns
# and Janino compile time super-linearly; real multi_match queries
# are a handful of terms over a handful of fields)
_MM_WIDE_MAX_COLS = 192


def _multi_match_wide(
    docs: DataFrame,
    terms: list[str],
    fields: dict[str, float],
    fnames: list[str],
    *,
    mode: str,
    tie_breaker: float,
    id_col: str,
    k1: float,
    b: float,
    top_k: int,
) -> DataFrame:
    """Single-pass multi_match (see :func:`multi_match` docstring):
    narrow (id, dl_f, tf_{f,t}...) projection, one collected 1-row
    stats aggregate, row-wise exact-long combines. Bit-identical to
    the unioned fallback path (asserted in tests): per-(field, term)
    cbq uses the same quantize-then-boost-requantize ladder with
    idf/avgdl entering as IEEE-identical double literals, absent
    (tf=0) cells contribute exact-zero longs to every max/sum, and
    membership (``n_terms_hit > 0``) equals the union's hit support.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    toks = fan_out_scan(docs.select(id_col, *fnames)).select(
        F.col(id_col),
        *[
            F.filter(
                F.split(F.lower(F.col(f)), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            ).alias(f"_tk_{i}")
            for i, f in enumerate(fnames)
        ],
    )
    cols = []
    for i in range(len(fnames)):
        cols.append(F.size(f"_tk_{i}").cast("long").alias(f"_dl{i}"))
        for j, t in enumerate(terms):
            cols.append(
                F.size(F.filter(f"_tk_{i}", _term_eq(t)))
                .cast("long")
                .alias(f"_tf{i}_{j}")
            )
    proj = toks.select(F.col(id_col), *cols).persist()

    aggs = []
    for i in range(len(fnames)):
        aggs.append(
            F.sum((F.col(f"_dl{i}") > 0).cast("long"))
            .cast("long").alias(f"_n{i}")
        )
        aggs.append(F.sum(f"_dl{i}").cast("long").alias(f"_t{i}"))
        for j in range(len(terms)):
            aggs.append(
                F.sum((F.col(f"_tf{i}_{j}") > 0).cast("long"))
                .cast("long").alias(f"_df{i}_{j}")
            )
    memo_key = stats_memo_key(
        proj,
        ("multi_match",) + tuple(fnames),
        tuple(terms),
    )
    row = _ADHOC_STATS_MEMO.get(memo_key)
    if row is None:
        row = proj.agg(*aggs).collect()[0]
        if len(_ADHOC_STATS_MEMO) >= 256:
            _ADHOC_STATS_MEMO.pop(next(iter(_ADHOC_STATS_MEMO)))
        _ADHOC_STATS_MEMO[memo_key] = row

    zero = F.lit(0).cast("long")
    fsqs = []          # per-field exact-long score sums
    cbq_cells: list[list] = [[] for _ in terms]  # [term][field] cbq
    hit_any = [F.lit(False)] * len(terms)
    for i, f in enumerate(fnames):
        n_docs = int(row[f"_n{i}"] or 0)
        total_dl = int(row[f"_t{i}"] or 0)
        if n_docs == 0:
            fsqs.append(zero)
            for j in range(len(terms)):
                cbq_cells[j].append(zero)
            continue
        avgdl = total_dl / n_docs
        fsq = None
        for j in range(len(terms)):
            tf = F.col(f"_tf{i}_{j}")
            df_ = int(row[f"_df{i}_{j}"] or 0)
            idf = (float(n_docs - df_) + 0.5) / (float(df_) + 0.5)
            tf_part = (tf * (k1 + 1)) / (
                tf + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col(f"_dl{i}") / F.lit(avgdl))
            )
            cq = F.round(F.lit(idf) * tf_part * F.lit(float(_FP)), 0).cast(
                "long"
            )
            cbq = F.round(F.lit(float(fields[f])) * cq, 0).cast("long")
            cell = F.when(tf > 0, cbq).otherwise(zero)
            cbq_cells[j].append(cell)
            fsq = cell if fsq is None else fsq + cell
            hit_any[j] = hit_any[j] | (tf > 0)
        fsqs.append(fsq)

    n_hit = hit_any[0].cast("long")
    for hflag in hit_any[1:]:
        n_hit = n_hit + hflag.cast("long")

    if mode == "cross_fields":
        total = None
        for j in range(len(terms)):
            mq = (
                cbq_cells[j][0]
                if len(fnames) == 1
                else F.greatest(*cbq_cells[j])
            )
            total = mq if total is None else total + mq
        score = (
            (total.cast("decimal(38,0)") / F.lit(_FP)).cast("double")
        )
    else:
        maxq = fsqs[0] if len(fsqs) == 1 else F.greatest(*fsqs)
        sumq = fsqs[0]
        for s in fsqs[1:]:
            sumq = sumq + s
        score = (
            maxq.cast("double")
            + F.lit(float(tie_breaker)) * (sumq - maxq).cast("double")
        ) / F.lit(float(_FP))

    return (
        proj.select(
            F.col(id_col),
            score.alias("score"),
            n_hit.alias("n_terms_hit"),
        )
        .filter(F.col("n_terms_hit") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def multi_match(
    docs: DataFrame,
    query_terms: list[str],
    fields: dict[str, float],
    *,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Fielded full-text search — the OpenSearch ``multi_match``
    query (the Discover query bar over ``{data.*, metadata.*}``
    envelopes with multiple queryable fields, reference
    README.md:454-492; every other search operator here is
    single-field): score the SAME bag of query terms against several
    text fields with per-field boosts, each field scored with ITS OWN
    BM25 statistics (df, doc length, corpus stats — a doc with an
    empty title is simply not a member of the title corpus, the
    OpenSearch per-field-stats contract).

    ``fields`` maps field column → boost. Modes (the two OpenSearch
    field-centric/term-centric shapes):

    - ``best_fields`` (default): per-doc score = the single best
      boosted field score, plus ``tie_breaker`` × the sum of the
      other fields' scores (OpenSearch dis_max; tie_breaker 0 = pure
      winner-take-all, 1 = sum-all-fields a.k.a. most_fields).
    - ``cross_fields``: term-centric — each term scores in its best
      field (max boosted per-term contribution across fields), then
      term scores SUM. This engine keeps exact per-field df where
      OpenSearch's BlendedTermQuery approximately blends dfs across
      fields — exactness is what the cross-engine oracle gate
      demands, and per-field-df is the documented deterministic
      analogue.

    Returns (id, score, n_terms_hit) ordered (score DESC, id ASC),
    n_terms_hit = distinct query terms matching in ANY field; with a
    single field at boost 1.0 both modes reduce BIT-EXACTLY to
    :func:`bm25_search` (asserted in tests — the parity anchor).

    Determinism: per-(term, field) contributions quantize to 6-dp
    fixed-point longs (the repo-wide ``_FP`` contract), the boost
    multiply re-quantizes to a long, and every cross-field combine
    (max / sum / tie-breaker blend) runs on exact longs with ONE
    final double division — no float-sum ordering anywhere.

    Scale shape: ONE corpus scan reduces in-row to a narrow
    per-document projection — per field, dl plus one tf column per
    query term (``size(filter(tokens, = term))`` in the split's own
    codegen stage; the :func:`_bm25_adhoc_proj` formulation
    generalized over fields). Per-field corpus stats and dfs come
    from ONE 1-row aggregate (collected — bounded at |fields|×(K+2)
    longs — and memoized like the single-field path), and every
    combine (per-field sums, dis_max, cross-field max, term-hit
    count) is a row-wise expression over exact longs: no explode, no
    stack, no union, no join — the whole query is the projection
    build plus one TakeOrdered pass (the r12 shape unioned per-field
    contribution relations and paid 17 shuffles / 8 broadcasts for 2
    fields). Above ``_MM_WIDE_MAX_COLS`` tf columns (whole-stage
    codegen width guard) it falls back to the unioned per-field
    relation shape, which handles arbitrary term counts.
    """
    if not query_terms:
        raise ValueError("multi_match needs at least one query term")
    if not fields:
        raise ValueError("multi_match needs at least one field")
    if mode not in ("best_fields", "cross_fields"):
        raise ValueError(
            f"mode must be best_fields or cross_fields, got {mode!r}"
        )
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    if any(boost <= 0 for boost in fields.values()):
        raise ValueError("field boosts must be positive")
    terms = sorted({t.lower() for t in query_terms})
    fnames = sorted(fields)

    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    if len(terms) * len(fnames) <= _MM_WIDE_MAX_COLS:
        return _multi_match_wide(
            docs, terms, fields, fnames, mode=mode,
            tie_breaker=tie_breaker, id_col=id_col, k1=k1, b=b,
            top_k=top_k,
        )

    toks = fan_out_scan(docs.select(id_col, *fnames)).select(
        F.col(id_col),
        *[
            F.filter(
                F.split(F.lower(F.col(f)), "[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            ).alias(f"_tk_{i}")
            for i, f in enumerate(fnames)
        ],
    ).persist()

    contribs = None
    for i, f in enumerate(fnames):
        col = f"_tk_{i}"
        stats = (
            toks.select(F.size(col).cast("long").alias("dl"))
            .filter(F.col("dl") > 0)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("total_dl"),
            )
        )
        # dl rides the hits rows (functionally dependent on the id):
        # joining the corpus-sized (id, dl) relation onto hit-sized
        # hits was the one document-sized exchange PER FIELD — with
        # dl in the aggregate key the field's lengths never shuffle
        # (the _bm25_adhoc_relations r12 restructure)
        hits = (
            toks.select(
                F.col(id_col),
                F.size(col).cast("long").alias("_dl"),
                F.explode(
                    F.filter(col, lambda x: x.isin(terms))
                ).alias("term"),
            )
            .groupBy(id_col, "term")
            .agg(
                F.max("_dl").alias("dl"),
                F.count(F.lit(1)).cast("long").alias("tf"),
            )
        )
        dfs = hits.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        # dfs is provably ≤ |query terms| rows — broadcast it (the
        # planner's stats can't see that bound through the agg)
        scored = hits.join(F.broadcast(dfs), "term").crossJoin(
            F.broadcast(stats)
        )
        avgdl = F.col("total_dl") / F.col("n_docs")
        idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
            F.col("df") + F.lit(0.5)
        )
        tf_part = (F.col("tf") * (k1 + 1)) / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
        cq = F.round(idf * tf_part * F.lit(float(_FP)), 0).cast("long")
        # boost re-quantizes to a long so every later combine is exact
        cbq = F.round(F.lit(float(fields[f])) * cq, 0).cast("long")
        part = scored.select(
            F.col(id_col),
            "term",
            F.lit(f).alias("field"),
            cbq.alias("cbq"),
        )
        contribs = part if contribs is None else contribs.unionByName(part)

    if mode == "cross_fields":
        per_term = contribs.groupBy(id_col, "term").agg(
            F.max("cbq").alias("mq")
        )
        ranked = per_term.groupBy(id_col).agg(
            (F.sum("mq").cast("decimal(38,0)") / F.lit(_FP))
            .cast("double")
            .alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    elif len(terms) <= 63:
        # n_terms_hit = popcount of the OR'd per-term bitmask — rides
        # the SAME two aggregates as the dis_max combine, so the
        # separate count_distinct aggregate + doc-keyed join the r11
        # version paid are gone (exact: term index is a position in
        # the sorted ≤63-term list, bit_or is order-free)
        arr_sql = "array(" + ", ".join(f"'{t}'" for t in terms) + ")"
        tbit = F.expr(
            f"shiftleft(1L, cast(array_position({arr_sql}, term) - 1"
            " as int))"
        )
        fscores = contribs.withColumn("tbit", tbit).groupBy(
            id_col, "field"
        ).agg(
            F.sum("cbq").alias("fsq"),
            F.expr("bit_or(tbit)").alias("fbits"),
        )
        best = fscores.groupBy(id_col).agg(
            F.max("fsq").alias("maxq"),
            F.sum("fsq").alias("sumq"),
            F.expr("bit_or(fbits)").alias("bits"),
        )
        score = (
            F.col("maxq").cast("double")
            + F.lit(float(tie_breaker))
            * (F.col("sumq") - F.col("maxq")).cast("double")
        ) / F.lit(float(_FP))
        ranked = best.select(
            F.col(id_col),
            score.alias("score"),
            F.bit_count("bits").cast("long").alias("n_terms_hit"),
        )
    else:
        # >63 query terms: the bitmask overflows a long — fall back
        # to the explicit distinct-count aggregate + doc-keyed join
        fscores = contribs.groupBy(id_col, "field").agg(
            F.sum("cbq").alias("fsq")
        )
        nt = contribs.groupBy(id_col).agg(
            F.count_distinct("term").cast("long").alias("n_terms_hit")
        )
        best = fscores.groupBy(id_col).agg(
            F.max("fsq").alias("maxq"), F.sum("fsq").alias("sumq")
        )
        score = (
            F.col("maxq").cast("double")
            + F.lit(float(tie_breaker))
            * (F.col("sumq") - F.col("maxq")).cast("double")
        ) / F.lit(float(_FP))
        ranked = best.join(nt, id_col).select(
            F.col(id_col), score.alias("score"), "n_terms_hit"
        )
    return ranked.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(top_k)


def multi_match_oracle_sql(
    query_terms: list[str],
    fields: list[tuple[str, float, str]],
    *,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL computing the identical fielded ranking.
    ``fields`` is (field_name, boost, sql_text_expression) — the
    expression form lets oracle callers derive a field (e.g. a title
    synthesized from metadata columns) exactly as the Spark side
    did."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    parts = []
    for i, (fname, boost, expr) in enumerate(sorted(fields)):
        parts.append(f"""
    tok{i} AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({expr}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl{i} AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
              FROM tok{i} GROUP BY {id_col}),
    stats{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl{i}),
    hits{i} AS (SELECT * FROM tok{i} WHERE term IN ({in_list})),
    dfs{i} AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
               FROM hits{i} GROUP BY term),
    contrib{i} AS (
        SELECT h.{id_col}, h.term, '{fname}' AS field,
               CAST(round({float(boost)!r} * round(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * ({k1} + 1)) /
                      (h.tf + {k1} * ((1 - {b}) + {b} * l.dl
                                      / (CAST(s.total_dl AS DOUBLE)
                                         / s.n_docs))))
                   * {_FP}, 0), 0) AS BIGINT) AS cbq
        FROM hits{i} h JOIN dfs{i} d USING (term)
                       JOIN dl{i} l USING ({id_col})
                       CROSS JOIN stats{i} s
    )""")
    union = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM contrib{i}" for i in range(len(fields))
    )
    ctes = ",".join(parts)
    if mode == "cross_fields":
        final = f"""
    per_term AS (
        SELECT {id_col}, term, MAX(cbq) AS mq
        FROM contribs GROUP BY {id_col}, term
    )
    SELECT {id_col},
           CAST(CAST(SUM(mq) AS DECIMAL(38,0)) / {_FP} AS DOUBLE) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM per_term
    GROUP BY {id_col}"""
    else:
        final = f"""
    fscores AS (
        SELECT {id_col}, field, SUM(cbq) AS fsq
        FROM contribs GROUP BY {id_col}, field
    ),
    nt AS (
        SELECT {id_col}, CAST(COUNT(DISTINCT term) AS BIGINT)
               AS n_terms_hit
        FROM contribs GROUP BY {id_col}
    ),
    best AS (
        SELECT {id_col}, MAX(fsq) AS maxq, SUM(fsq) AS sumq
        FROM fscores GROUP BY {id_col}
    )
    SELECT b.{id_col},
           (CAST(b.maxq AS DOUBLE)
            + {float(tie_breaker)!r} * CAST(b.sumq - b.maxq AS DOUBLE))
               / {_FP} AS score,
           nt.n_terms_hit
    FROM best b JOIN nt USING ({id_col})"""
    return f"""
    WITH {ctes},
    contribs AS (
        {union}
    ),{final}
    ORDER BY score DESC, {id_col} ASC
    LIMIT {top_k}
    """


def _validate_regexp(pattern: str) -> str:
    """Validate a term-level regexp for the common Java-regex /
    DuckDB-RE2 subset (the Lucene ``regexp`` query's syntax is itself
    a subset of both): literals, ``.``, character classes,
    ``* + ? {n,m}``, alternation and ``(?:…)`` grouping. Rejected:
    backreferences and lookaround/inline-flag groups (Lucene's
    regexp syntax has neither; RE2 cannot execute them), and
    patterns with no literal alphanumeric at all (a bare ``.*``
    would match the whole vocabulary — same guard as
    :func:`wildcard_search`)."""
    import re as _re

    if not pattern:
        raise ValueError("regexp_search needs a non-empty pattern")
    if _re.search(r"\\[0-9]", pattern):
        raise ValueError("backreferences are not in the regexp subset")
    if _re.search(r"\(\?(?!:)", pattern):
        raise ValueError(
            "lookaround / inline-flag groups are not in the regexp subset"
        )
    if not _re.search(r"[a-z0-9]", pattern.lower()):
        raise ValueError(
            "regexp_search needs at least one literal character "
            "(a bare '.*' would match the whole vocabulary)"
        )
    try:
        _re.compile(pattern)
    except _re.error as exc:
        raise ValueError(f"invalid regexp pattern: {exc}") from exc
    return pattern.lower()


def regexp_search(
    spark,
    idx_table: str,
    pattern: str,
    *,
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Regexp term query — the OpenSearch ``regexp`` query (the
    Lucene ``/regex/`` search-bar syntax in Discover, served over the
    reference's Discover-browsed index; reference README.md:451-492):
    documents whose token set contains a term FULLY matching the
    pattern (Lucene regexps are anchored — ``sp.*k`` matches
    ``spark``, not ``sparkly``), ranked by total matching occurrences
    with the sorted matching-term set per doc — the
    :func:`wildcard_search` contract, completing the term-level query
    family (wildcard E146 / fuzzy E152 / prefix E156 / regexp).

    Returns (id, terms array<string>, n_terms, total_tf, rank).

    Scale shape: identical to :func:`wildcard_search` — the regexp
    evaluates JVM-side (``rlike``, whole-stage-codegen'd) on the
    token index's term column; hash buckets cannot prune an
    arbitrary regexp so the scan is index-wide but column-pruned
    (an explicit-literal-prefix pattern becomes range-prunable under
    the range-clustered layout). One doc-keyed aggregate over the
    matching rows follows; the rank window runs after the top-k cut.
    """
    pat = _validate_regexp(pattern)
    anchored = f"^(?:{pat})$"
    hits = spark.table(idx_table).filter(
        F.col("term").rlike(anchored)
    )
    ranked = (
        hits.groupBy(id_col)
        .agg(
            F.sort_array(F.collect_set("term")).alias("terms"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(id_col, "terms", "n_terms", "total_tf", "rank")


def regexp_oracle_sql(
    pattern: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical regexp ranking
    (``regexp_full_match`` is DuckDB's anchored form, mirroring the
    ``^(?:…)$`` wrap on the Spark side)."""
    pat = _validate_regexp(pattern).replace("'", "''")
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    hits AS (SELECT * FROM tok WHERE regexp_full_match(term, '{pat}')),
    ranked AS (
        SELECT {id_col},
               list_sort(list(term)) AS terms,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM hits GROUP BY {id_col}
        ORDER BY total_tf DESC, {id_col} ASC
        LIMIT {top_k}
    )
    SELECT {id_col}, terms, n_terms, total_tf,
           CAST(row_number() OVER (ORDER BY total_tf DESC, {id_col} ASC)
                AS BIGINT) AS rank
    FROM ranked
    """


def fuzzy_search(
    spark,
    idx_table: str,
    term: str,
    *,
    fuzziness: int = 2,
    prefix_length: int = 0,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Fuzzy term query — the OpenSearch ``fuzzy`` query (the
    typo-tolerant search-bar shape served over the reference's
    Discover-browsed index): documents containing vocabulary terms
    within Levenshtein distance ``fuzziness`` of the probe, ranked by
    total matching occurrences (OpenSearch down-weights by distance
    inside BM25; total tf then id is this engine's deterministic
    constant-score analogue, same contract as
    :func:`wildcard_search`), with the sorted matching-term set.

    OpenSearch-parity knobs: ``prefix_length`` (expansion terms must
    share the probe's first N chars — the scale lever: N ≥ 1 turns
    the vocabulary pass into a prefix-prunable range under the
    range-clustered layout), ``max_expansions`` (cap on expanded
    terms, deterministic preference order distance ASC, df DESC,
    term ASC).

    Returns (id, terms array<string>, n_terms, total_tf, rank).

    Scale shape: distance evaluates on the DISTINCT VOCABULARY, not
    the corpus — df per term is a shuffle-free aggregate (the index
    bucketing IS the term partitioning), length-band
    ``|len(t) − len(probe)| ≤ fuzziness`` and prefix predicates prune
    before the Levenshtein kernel runs. The ≤ ``max_expansions``
    surviving terms collect to the driver (bounded, like the IVF
    centroids) and re-enter as an ``isin`` literal so the postings
    read is bucket-prunable; one doc-keyed aggregate follows. The
    rank window runs after the top-k cut — k rows, not the corpus.
    """
    probe = term.lower().strip()
    if not probe:
        raise ValueError("fuzzy_search needs a non-empty term")
    if fuzziness < 0 or fuzziness > 2:
        raise ValueError("fuzziness must be 0..2 (OpenSearch contract)")
    if prefix_length < 0 or max_expansions < 1:
        raise ValueError("prefix_length >= 0 and max_expansions >= 1")
    idx = spark.table(idx_table)
    vocab = idx.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    cand = vocab.filter(
        (F.abs(F.length("term") - F.lit(len(probe))) <= fuzziness)
        & (F.col("term").substr(1, prefix_length) == F.lit(probe[:prefix_length]))
    )
    dist = F.levenshtein(F.col("term"), F.lit(probe))
    expansions = (
        cand.withColumn("_d", dist)
        .filter(F.col("_d") <= fuzziness)
        .orderBy(F.col("_d").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions)
    )
    # bounded driver state (≤ max_expansions strings) → isin literal,
    # so the postings scan bucket-prunes like every other term probe
    terms = [r["term"] for r in expansions.select("term").collect()]
    if not terms:
        return (
            idx.filter(F.lit(False))
            .groupBy(id_col)
            .agg(
                F.sort_array(F.collect_set("term")).alias("terms"),
                F.count(F.lit(1)).cast("long").alias("n_terms"),
                F.sum("tf").cast("long").alias("total_tf"),
            )
            .withColumn("rank", F.lit(0).cast("long"))
        )
    hits = idx.filter(F.col("term").isin(sorted(terms)))
    ranked = (
        hits.groupBy(id_col)
        .agg(
            F.sort_array(F.collect_set("term")).alias("terms"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total_tf").desc(), F.col(id_col).asc())
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(id_col, "terms", "n_terms", "total_tf", "rank")


def rare_terms(
    spark,
    idx_table: str,
    *,
    max_doc_count: int = 1,
) -> DataFrame:
    """Rare-terms bucket aggregation — the OpenSearch ``rare_terms``
    agg (the long-tail complement of ``terms``: buckets for terms
    whose DOCUMENT FREQUENCY is at most ``max_doc_count``, where a
    plain terms agg surfaces only the head). Returns (term, df)
    ordered (df ASC, term ASC) — rarest first, deterministic ties.

    Execution: one shuffle-free aggregate over the term-bucketed
    index (df per term needs no exchange — the bucketing IS the term
    partitioning, same shape as :func:`token_index_stats`), then the
    threshold filter on the ≤|vocabulary| aggregate. Output is
    vocabulary-bounded, corpus-size-independent; OpenSearch
    approximates this with CuckooFilters shard-side — an exact
    distributed aggregate needs no sketch.
    """
    if max_doc_count < 1:
        raise ValueError("rare_terms needs max_doc_count >= 1")
    return (
        spark.table(idx_table)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= max_doc_count)
        .orderBy(F.col("df").asc(), F.col("term").asc())
    )


def rare_terms_oracle_sql(
    *,
    max_doc_count: int = 1,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL computing the identical rare-terms buckets."""
    return f"""
    WITH tok AS (
        SELECT DISTINCT {id_col}, t.term
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM tok GROUP BY term
    HAVING COUNT(*) <= {max_doc_count}
    ORDER BY df ASC, term ASC
    """


def match_phrase_prefix(
    spark,
    pos_table: str,
    phrase: str,
    *,
    max_expansions: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Search-as-you-type phrase matching — the OpenSearch
    ``match_phrase_prefix`` query (the Discover query bar mid-typing:
    all phrase terms must appear consecutively, with the LAST term
    matched as a PREFIX): ``"stream tab"`` matches documents where
    ``stream`` is immediately followed by any ``tab…`` vocabulary
    term. The prefix expands to at most ``max_expansions`` vocabulary
    terms in term-dictionary order (term ASC — the OpenSearch
    expansion contract).

    Returns (id, n_matches), n_matches > 0, ordered
    (n_matches DESC, id ASC) — the :func:`phrase_search` contract.

    Scale shape: the expansion set resolves on the DISTINCT
    vocabulary (prefix terms range-prune under the range-clustered
    layout, same caveat stack as :func:`wildcard_search`), collects
    (bounded by max_expansions) and re-enters as an ``isin`` literal,
    so the positional read stays bucket-prunable; the consecutive-
    position check is the same single lead-window pass as
    :func:`phrase_search` — pruning to phrase terms ∪ expansions
    preserves its consecutiveness-forcing argument. One exchange on
    the doc id; nothing document-sized moves.
    """
    terms = [t for t in _split_phrase(phrase)]
    if not terms:
        raise ValueError("match_phrase_prefix needs at least one token")
    if max_expansions < 1:
        raise ValueError("match_phrase_prefix needs max_expansions >= 1")
    firsts, prefix = terms[:-1], terms[-1]
    idx = spark.table(pos_table)
    expansions = (
        idx.select("term")
        .filter(F.col("term").startswith(prefix))
        .distinct()
        .orderBy(F.col("term").asc())
        .limit(max_expansions)
    )
    exp = sorted(r["term"] for r in expansions.collect())
    empty = (
        idx.filter(F.lit(False))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
    if not exp:
        return empty
    pruned = idx.filter(F.col("term").isin(sorted(set(firsts) | set(exp))))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    cond = F.lit(True)
    for i, t in enumerate(firsts):
        cond = cond & (F.lead("term", i).over(w) == F.lit(t)) & (
            F.lead("pos", i).over(w) == F.col("pos") + F.lit(i)
        )
    n = len(firsts)
    cond = cond & F.lead("term", n).over(w).isin(exp) & (
        F.lead("pos", n).over(w) == F.col("pos") + F.lit(n)
    )
    hits = pruned.withColumn("_m", cond).filter(F.col("_m"))
    return (
        hits.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .orderBy(F.col("n_matches").desc(), F.col(id_col).asc())
    )


def match_phrase_prefix_oracle_sql(
    phrase: str,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL computing the identical search-as-you-type match
    (positional self-joins at consecutive offsets; the last offset
    joins the term-dictionary-ordered expansion set)."""
    terms = [t for t in _split_phrase(phrase)]
    firsts, prefix = terms[:-1], terms[-1]
    n = len(firsts)
    joins = "".join(
        f"\n        JOIN toks t{i + 1} ON t{i + 1}.{id_col} = t0.{id_col}"
        f" AND t{i + 1}.pos = t0.pos + {i + 1}"
        for i in range(n)
    )
    first_conds = "".join(
        f" AND t{i}.term = '{t}'" for i, t in enumerate(firsts)
    )
    return f"""
    WITH dw AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower({text_col}),
                           '[^a-z0-9]+'), x -> x <> '') AS ws
        FROM {table}
    ),
    toks AS (
        SELECT {id_col}, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS term
        FROM dw, UNNEST(generate_series(1, len(ws))) AS s(i)
    ),
    exp AS (
        SELECT DISTINCT term FROM toks WHERE term LIKE '{prefix}%'
        ORDER BY term LIMIT {max_expansions}
    ),
    m AS (
        SELECT t0.{id_col}
        FROM toks t0{joins}
        WHERE TRUE{first_conds}
          AND t{n}.term IN (SELECT term FROM exp)
    )
    SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM m GROUP BY {id_col}
    ORDER BY n_matches DESC, {id_col} ASC
    """


def fuzzy_oracle_sql(
    term: str,
    *,
    fuzziness: int = 2,
    prefix_length: int = 0,
    max_expansions: int = 50,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical fuzzy ranking (same
    expansion preference order, same constant-score total-tf rank)."""
    probe = term.lower().strip().replace("'", "''")
    prefix = probe[:prefix_length]
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tok GROUP BY term),
    expansions AS (
        SELECT term FROM vocab
        WHERE abs(length(term) - {len(probe)}) <= {fuzziness}
          AND substr(term, 1, {prefix_length}) = '{prefix}'
          AND levenshtein(term, '{probe}') <= {fuzziness}
        ORDER BY levenshtein(term, '{probe}') ASC, df DESC, term ASC
        LIMIT {max_expansions}
    ),
    hits AS (SELECT tok.* FROM tok JOIN expansions USING (term)),
    ranked AS (
        SELECT {id_col},
               list_sort(list(term)) AS terms,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM hits GROUP BY {id_col}
        ORDER BY total_tf DESC, {id_col} ASC
        LIMIT {top_k}
    )
    SELECT {id_col}, terms, n_terms, total_tf,
           CAST(row_number() OVER (ORDER BY total_tf DESC, {id_col} ASC)
                AS BIGINT) AS rank
    FROM ranked
    """


def bool_oracle_sql(
    queries: dict[str, dict],
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical bool-query ranking (same
    rational idf, same left-associated boost multiply, same
    fixed-point quantization as :func:`bool_search_many`)."""
    qrows, reqs, fconds = [], [], []
    for qid in sorted(queries):
        rows, n_must, min_should, filters = _normalize_bool_query(
            qid, queries[qid]
        )
        qrows += [(qid, t, k, w) for t, k, w in rows]
        reqs.append(f"('{qid}', {n_must}, {min_should})")
        conj = " AND ".join(
            f"d.{f} = '{v}'" if op == "eq"
            else f"CAST(d.{f} AS DOUBLE) "
                 f"{'>=' if op == 'gte' else '<='} CAST('{v}' AS DOUBLE)"
            for f, op, v in filters
        )
        fconds.append(
            f"(c.query_id = '{qid}'" + (f" AND {conj})" if conj else ")")
        )
    qvals = ", ".join(
        f"('{q}', '{t}', '{k}', {w!r})" for q, t, k, w in sorted(qrows)
    )
    in_list = ", ".join(f"'{t}'" for t in sorted({t for _, t, _, _ in qrows}))
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tok GROUP BY {id_col}),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    qmap(query_id, term, kind, boost) AS (VALUES {qvals}),
    qreq(query_id, n_must, min_should) AS (VALUES {", ".join(reqs)}),
    hits AS (SELECT * FROM tok WHERE term IN ({in_list})),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM hits GROUP BY term),
    contrib AS (
        SELECT q.query_id, h.{id_col}, q.kind,
               CAST(round(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * ({k1} + 1)) /
                      (h.tf + {k1} * ((1 - {b}) + {b} * l.dl
                                      / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))
                   * q.boost * 1000000, 0) AS BIGINT) AS cq
        FROM hits h JOIN qmap q USING (term)
                    JOIN dfs d USING (term)
                    JOIN dl l USING ({id_col})
                    CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT query_id, {id_col},
               SUM(CASE WHEN kind <> 'must_not' THEN cq END) AS sq,
               COUNT(CASE WHEN kind = 'must' THEN 1 END) AS n_must_hit,
               COUNT(CASE WHEN kind = 'should' THEN 1 END) AS n_should_hit,
               CAST(COUNT(CASE WHEN kind <> 'must_not' THEN 1 END)
                    AS BIGINT) AS n_terms_hit,
               MAX(CASE WHEN kind = 'must_not' THEN 1 END) AS ex
        FROM contrib GROUP BY query_id, {id_col}
    ),
    cand AS (
        SELECT p.query_id, p.{id_col},
               CAST(CAST(p.sq AS DECIMAL(38,0)) / 1000000 AS DOUBLE) AS score,
               p.n_terms_hit
        FROM per_doc p JOIN qreq r USING (query_id)
        WHERE p.ex IS NULL AND p.n_must_hit = r.n_must
          AND p.n_should_hit >= r.min_should
    ),
    filt AS (
        SELECT c.* FROM cand c JOIN {table} d USING ({id_col})
        WHERE {" OR ".join(fconds)}
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, {id_col} ASC) AS BIGINT) AS rank
        FROM filt
    )
    SELECT query_id, {id_col}, score, n_terms_hit, rank
    FROM ranked WHERE rank <= {top_k}
    """


def tokenize_positions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, pos): the POSITIONAL token relation (0-based token
    offsets) — the index shape phrase/proximity search needs, where
    :func:`tokenize`'s (id, term, tf) bag loses order."""
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import fan_out_scan

    return (
        fan_out_scan(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.posexplode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("pos", "term"),
        )
    )


def collocations(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent-bigram collocations by pointwise mutual
    information — the corpus-analysis op behind multiword-expression
    mining and tokenizer-merge sanity checks (which adjacent pairs
    co-occur far beyond chance).

    PMI = ln(c(ab)·N / (c(a)·c(b))) over ADJACENT alnum token pairs,
    where c(a)/c(b) are corpus token counts and N the total token
    count; rounded to 6 digits (the tfidf ln-rounding convention —
    absorbs cross-engine libm ulp drift so the DuckDB oracle matches).
    ``min_count`` floors c(ab): PMI's low-frequency bias makes
    unfloored rankings hapax noise.

    Shape: one positional pass builds bigrams with ``lead`` inside the
    per-doc window (the same pruned-postings window machinery phrase
    search uses, but unpruned — this is a corpus sweep by nature),
    then three token-keyed aggregations; every exchange carries
    fixed-width (id/token, pos/count) rows — never document text —
    and top-k compiles to TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    # four consumers (two unigram join legs, the corpus total, the
    # bigram window) would each re-run the tokenize+posexplode pass —
    # persist under the caller-owned plan-keyed cache policy of the
    # BM25 projection.
    toks = tokenize_positions(df, text_col, id_col).persist()
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_tokens = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy(id_col).orderBy("pos")
    bi = (
        toks.withColumn("_next", F.lead("term", 1).over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col("term").alias("term_a"), F.col("_next").alias("term_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    scored = (
        bi.join(uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a")), "term_a")
        .join(uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b")), "term_b")
        .crossJoin(F.broadcast(n_tokens))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("pair_count") * F.col("n")).cast("double")
                    / (F.col("c_a") * F.col("c_b")).cast("double")
                ),
                6,
            ),
        )
    )
    return (
        scored.select("term_a", "term_b", "pair_count", "c_a", "c_b", "pmi")
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(top_k)
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase matching over the positional token relation — the
    capability BM25's bag-of-terms scoring cannot express (OpenSearch
    ``match_phrase`` parity; same alnum tokenization as
    :func:`tokenize`, so punctuation between words does not break a
    phrase).

    Returns (id, n_matches) for documents containing the full token
    sequence, n_matches > 0, ordered (n_matches DESC, id ASC).

    Plan shape: the scan keeps ONLY rows matching the phrase's rarest
    anchor... in fact simpler and stronger — rows matching ANY phrase
    token (a literal isin prune before the only exchange), then one
    per-doc window pass checks that the phrase's terms appear at
    consecutive positions via ``lead(pos, i)``/``lead(term, i)``.
    Shuffle payload is the pruned positional rows (|phrase| terms'
    postings), one exchange total; no self-joins, no arrays of the
    whole document.
    """
    from pyspark.sql import Window

    terms = [t for t in _split_phrase(phrase)]
    if not terms:
        raise ValueError("phrase_search needs at least one token")
    toks = tokenize_positions(docs, text_col, id_col).filter(
        F.col("term").isin(sorted(set(terms)))
    )
    return _phrase_match(toks, terms, id_col)


def phrase_search_indexed(
    spark,
    pos_table: str,
    phrase: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`phrase_search` against a materialized positional index
    (:func:`ensure_position_index`) — identical results, but per-query
    work is the bucket-pruned postings of the phrase's own tokens; the
    corpus text is never re-read."""
    terms = [t for t in _split_phrase(phrase)]
    if not terms:
        raise ValueError("phrase_search_indexed needs at least one token")
    toks = spark.table(pos_table).filter(
        F.col("term").isin(sorted(set(terms)))
    )
    return _phrase_match(toks, terms, id_col)


def phrase_search_many(
    spark,
    pos_table: str,
    phrases: dict[str, str],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Match a BATCH of phrase queries against the positional index in
    ONE job — the positional companion of :func:`bm25_search_many`
    (an alerting/eval workload is hundreds of phrases; per-query jobs
    pay the scheduling floor per phrase).

    Returns (query_id, id, n_matches), n_matches > 0, per-query
    results bit-identical to :func:`phrase_search_indexed` run one
    phrase at a time (asserted in tests).

    Shape: the index prunes ONCE to the union of all phrases' tokens
    (bucket-pruned read); a broadcast (query_id, term, offset) literal
    relation fans each posting row out only to the queries containing
    its term; phrase occurrences then fall out of one ANCHOR
    aggregation — a posting (doc, term, pos) joined at offset ``off``
    votes for anchor ``pos − off``, and an anchor with all
    ``n_terms`` offsets present is exactly a full-phrase match
    (positions are unique per doc, so each (term, offset) map entry
    contributes at most one vote per anchor). No per-query window
    branches, no per-query scans — corpus work is independent of the
    query count.
    """
    parsed = []
    for qid, phrase in phrases.items():
        terms = _split_phrase(phrase)
        if not terms:
            raise ValueError(f"phrase query {qid!r} has no tokens")
        parsed.append((qid, terms))
    if not parsed:
        raise ValueError("phrase_search_many needs at least one phrase")
    all_terms = sorted({t for _, terms in parsed for t in terms})
    toks = spark.table(pos_table).filter(F.col("term").isin(all_terms))
    return _phrase_match_many(toks, parsed, id_col)


def _phrase_match_many(
    toks: DataFrame, queries: list[tuple[str, list[str]]], id_col: str
) -> DataFrame:
    """Shared anchor-vote phrase matcher over a PRUNED (id, term, pos)
    relation: one broadcast join + two aggregations for ANY number of
    phrase queries. A single-term phrase degrades to a term query
    (every occurrence is an anchor, n_matches = tf). Counts are
    identical to :func:`_phrase_match` per query: an anchor ``a``
    collects one vote per satisfied (term, offset) map entry, and
    ``votes == n_terms`` iff every phrase token sits at ``a + off`` —
    the same consecutive-positions condition the window form checks.

    The (term → [(query_id, off, n_terms)]) multi-map rides the plan
    as a CONSTANT-FOLDED map literal probed with ``element_at`` +
    ``explode`` (NULL for a non-standing term explodes to zero rows —
    exactly the inner join's semantics): the former broadcast join
    paid a BroadcastExchange build job per pass for a relation the
    driver already held as a Python list (r17; guide §2.4 remove
    exchanges outright). The literal folds once per plan, not per
    row, and stays bounded by the standing-term count the prune
    already enumerates."""
    entries: dict[str, set] = {}
    for qid, terms in queries:
        for i, t in enumerate(terms):
            entries.setdefault(t, set()).add((qid, i, len(terms)))
    items = []
    for t in sorted(entries):
        structs = ",".join(
            f"named_struct('query_id', '{_sql_str(q)}', "
            f"'off', {i}L, 'n_terms', {n}L)"
            for q, i, n in sorted(entries[t])
        )
        items.append(f"'{_sql_str(t)}', array({structs})")
    map_sql = f"map({', '.join(items)})"
    votes = (
        toks.selectExpr(
            id_col, "pos",
            f"explode(element_at({map_sql}, term)) AS _q",
        )
        .groupBy(
            F.col("_q.query_id").alias("query_id"),
            F.col(id_col),
            (F.col("pos") - F.col("_q.off")).alias("_anchor"),
            F.col("_q.n_terms").alias("n_terms"),
        )
        .agg(F.count(F.lit(1)).alias("_votes"))
    )
    return (
        votes.filter(F.col("_votes") == F.col("n_terms"))
        .groupBy("query_id", id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )


def _bool_match_many(
    toks: DataFrame,
    queries: list[tuple[str, list[tuple[str, str]], int, int]],
    id_col: str,
) -> DataFrame:
    """Shared match-only bool resolver over a PRUNED (id, term, ...)
    relation: one broadcast join + one aggregation for ANY number of
    bool queries. ``queries`` rows are (query_id, [(term, kind)],
    n_must, min_should). A document matches when every must term is
    present, at least min_should should terms are present, and no
    must_not term is (must_not resolves on the HIT SET — absences are
    never scanned for). n_matches = distinct matched must+should
    terms (> 0 by the match conditions)."""
    spark = toks.sparkSession
    rows = sorted(
        {(qid, t, k) for qid, tks, _, _ in queries for t, k in tks}
    )
    qdf = _local_relation(
        spark, rows, "query_id string, term string, kind string"
    )
    qreq = _local_relation(
        spark,
        [(qid, n_must, min_should) for qid, _, n_must, min_should in queries],
        "query_id string, n_must long, min_should long",
    )
    presence = toks.select(F.col(id_col), "term").distinct()
    per_doc = (
        presence.join(F.broadcast(qdf), "term")
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.when(F.col("kind") == "must", 1)).alias("_n_must_hit"),
            F.count(F.when(F.col("kind") == "should", 1)).alias(
                "_n_should_hit"
            ),
            F.max(F.when(F.col("kind") == "must_not", 1)).alias("_ex"),
        )
    )
    return (
        per_doc.join(F.broadcast(qreq), "query_id")
        .filter(
            F.col("_ex").isNull()
            & (F.col("_n_must_hit") == F.col("n_must"))
            & (F.col("_n_should_hit") >= F.col("min_should"))
        )
        .select(
            "query_id",
            F.col(id_col),
            (F.col("_n_must_hit") + F.col("_n_should_hit"))
            .cast("long")
            .alias("n_matches"),
        )
    )


def _phrase_match(toks: DataFrame, terms: list[str], id_col: str) -> DataFrame:
    """Count full-phrase occurrences per doc over a PRUNED (id, term,
    pos) relation containing only the phrase's tokens."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    cond = F.lit(True)
    for i, t in enumerate(terms):
        # the i-th following PRUNED row must hold term_i at pos0 + i:
        # consecutive positions in the pruned relation are consecutive
        # in the document exactly when every intermediate token is
        # also a phrase token — which consecutive positions force.
        cond = cond & (F.lead("term", i).over(w) == F.lit(t)) & (
            F.lead("pos", i).over(w) == F.col("pos") + F.lit(i)
        )
    hits = toks.withColumn("_m", cond).filter(F.col("_m"))
    return (
        hits.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .orderBy(F.col("n_matches").desc(), F.col(id_col).asc())
    )


def proximity_search(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    *,
    slop: int = 5,
    in_order: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-term proximity search (OpenSearch ``span_near`` / Lucene
    SpanNearQuery parity): documents where ``term_a`` and ``term_b``
    occur within ``slop`` token positions of each other, scored by
    the number of qualifying position pairs. ``in_order=True`` is the
    DIRECTIONAL variant (span_near in_order): only pairs where
    ``term_a`` strictly precedes ``term_b`` qualify — "error ...
    before ... rollback" is not "rollback ... before ... error".

    Returns (id, n_pairs, min_distance), ordered (n_pairs DESC, id
    ASC). Execution: the positional relation prunes to the two terms'
    postings at the scan, then a per-doc postings join with the
    ``|pos_a − pos_b| ≤ slop`` band predicate (plus ``pos_a < pos_b``
    when ordered) — worst-case work per doc is tf_a × tf_b, bounded
    by the terms' own frequencies (a stop-word probe is the caller's
    to avoid, same contract as BM25's term list). One exchange on the
    doc id; nothing document-sized moves.
    """
    a, b = term_a.lower(), term_b.lower()
    if not a or not b or a == b:
        raise ValueError("proximity_search needs two distinct terms")
    # persist the PRUNED postings: _proximity_pairs consumes this
    # relation on both sides of the pair join, and without the cache
    # each branch re-tokenizes the whole corpus (branch-recompute);
    # the cached relation is two terms' postings, not the corpus.
    # Plan-keyed (Spark cache), same policy as the BM25 projection.
    toks = (
        tokenize_positions(docs, text_col, id_col)
        .filter(F.col("term").isin([a, b]))
        .persist()
    )
    return _proximity_pairs(toks, a, b, slop, id_col, in_order=in_order)


def proximity_search_indexed(
    spark,
    pos_table: str,
    term_a: str,
    term_b: str,
    *,
    slop: int = 5,
    in_order: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`proximity_search` from the materialized positional index
    (bucket-pruned to the two terms' postings)."""
    a, b = term_a.lower(), term_b.lower()
    if not a or not b or a == b:
        raise ValueError("proximity_search needs two distinct terms")
    toks = spark.table(pos_table).filter(F.col("term").isin([a, b]))
    return _proximity_pairs(toks, a, b, slop, id_col, in_order=in_order)


def _proximity_pairs(
    toks: DataFrame, a: str, b: str, slop: int, id_col: str,
    *, in_order: bool = False
) -> DataFrame:
    pa = toks.filter(F.col("term") == a).select(id_col, F.col("pos").alias("pa"))
    pb = toks.filter(F.col("term") == b).select(id_col, F.col("pos").alias("pb"))
    cond = F.abs(F.col("pa") - F.col("pb")) <= slop
    if in_order:
        cond = cond & (F.col("pa") < F.col("pb"))
    pairs = pa.join(pb, id_col).filter(cond)
    return (
        pairs.groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias("min_distance"),
        )
        .orderBy(F.col("n_pairs").desc(), F.col(id_col).asc())
    )


def proximity_search_many(
    spark,
    pos_table: str,
    queries: dict[str, tuple],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch span_near search against the positional index in ONE job:
    ``queries`` maps query_id → (term_a, term_b, slop[, in_order]).
    Returns (query_id, id, n_pairs, min_distance); per-query results
    bit-identical to :func:`proximity_search_indexed` (tested).

    Shape: the index prunes once to the union of all queries' terms;
    a broadcast (query_id, term_a, term_b, slop, in_order) relation
    fans the A-side postings to their queries, then ONE doc-keyed
    join against the shared pruned postings evaluates every query's
    band predicate — per-query work is its own postings rows, never
    an extra scan or plan branch.
    """
    parsed = []
    for qid, spec in queries.items():
        a, b = spec[0].lower(), spec[1].lower()
        slop = int(spec[2]) if len(spec) > 2 else 5
        in_order = bool(spec[3]) if len(spec) > 3 else False
        if not a or not b or a == b:
            raise ValueError(f"near query {qid!r} needs two distinct terms")
        parsed.append((qid, a, b, slop, in_order))
    if not parsed:
        raise ValueError("proximity_search_many needs at least one query")
    all_terms = sorted({t for _, a, b, _, _ in parsed for t in (a, b)})
    toks = spark.table(pos_table).filter(F.col("term").isin(all_terms))
    return _proximity_pairs_many(toks, parsed, id_col)


def _proximity_pairs_many(
    toks: DataFrame, queries: list[tuple[str, str, str, int, bool]],
    id_col: str,
) -> DataFrame:
    """Shared batched span_near over a pruned (id, term, pos) relation:
    broadcast query map onto the A-side postings, one doc-keyed join
    against the B-side postings, every query's band predicate in the
    join condition."""
    spark = toks.sparkSession
    qdf = _local_relation(
        spark, sorted(set(queries)),
        "query_id string, _ta string, _tb string, _slop long, _ord boolean",
    )
    pa = toks.join(
        F.broadcast(qdf), F.col("term") == F.col("_ta")
    ).select("query_id", "_tb", "_slop", "_ord", F.col(id_col),
             F.col("pos").alias("_pa"))
    pb = toks.select(
        F.col(id_col).alias("_idb"), F.col("term").alias("_termb"),
        F.col("pos").alias("_pb"),
    )
    pairs = pa.join(
        pb,
        (F.col(id_col) == F.col("_idb"))
        & (F.col("_tb") == F.col("_termb"))
        & (F.abs(F.col("_pa") - F.col("_pb")) <= F.col("_slop"))
        & (~F.col("_ord") | (F.col("_pa") < F.col("_pb"))),
    )
    return (
        pairs.groupBy("query_id", F.col(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("_pa") - F.col("_pb"))).cast("long")
            .alias("min_distance"),
        )
    )


def ensure_position_index(
    spark,
    docs: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> str:
    """Materialize the POSITIONAL token relation (id, term, pos) as a
    term-bucketed catalog table ``tokpos_<name>`` — the phrase/
    proximity-search companion of :func:`ensure_token_index`'s
    (id, term, tf) bag index. Idempotent per session."""
    pos_table = f"{_cache_db(spark)}.tokpos_{name}"
    if not spark.catalog.tableExists(pos_table):
        from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

        _drop_stale_location(spark, pos_table)
        write_bucketed(
            tokenize_positions(docs, text_col, id_col),
            pos_table,
            bucket_col="term",
            num_buckets=num_buckets,
        )
    return pos_table


def ensure_forward_index(
    spark,
    idx_table: str,
    name: str,
    *,
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> str:
    """Materialize the FORWARD projection of the token index — the
    same (id, term, tf) rows bucketed BY ID as ``tokfwd_<name>`` —
    so doc-keyed probes (more-like-this seed lookup, per-doc vector
    assembly) bucket-prune instead of scanning the term-bucketed
    index. Derived from the existing index, so the corpus text is
    not re-tokenized. Idempotent per session.

    Caveat that matters in practice: Spark's auto-bucketed-scan
    heuristic keeps a bucketed scan only when some operator needs the
    bucket distribution — a bare point probe has none, so it falls
    back to a full (filter-pushed) scan. A session serving point
    probes should set
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``,
    after which the probe plan shows ``SelectedBucketsCount: 1 out
    of N`` (asserted in tests). Joins/aggregations on the bucket key
    prune either way."""
    fwd_table = f"{_cache_db(spark)}.tokfwd_{name}"
    if not spark.catalog.tableExists(fwd_table):
        from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

        _drop_stale_location(spark, fwd_table)
        write_bucketed(
            spark.table(idx_table), fwd_table, bucket_col=id_col,
            num_buckets=num_buckets,
        )
    return fwd_table


def _split_phrase(phrase: str) -> list[str]:
    import re

    return [t for t in re.split(r"[^a-z0-9]+", phrase.lower()) if t]


def ensure_token_index(
    spark,
    docs: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> tuple[str, str]:
    """Materialize the corpus token index ONCE as bucketed catalog
    tables; every subsequent search/TF-IDF call reads the index and
    never re-tokenizes.

    Two tables (idempotent per session — existing tables are reused):

    - ``tokidx_<name>``: (id, term, tf), bucketed + sorted BY TERM —
      a query's ``term IN (...)`` filter bucket-prunes the read to
      the matching buckets, and df-per-term aggregates shuffle-free
      (the bucketing IS the term partitioning);
    - ``toklen_<name>``: (id, dl), bucketed by id — the score join's
      dl side arrives pre-clustered on the join key.

    This is the production shape the ad-hoc paths document: at 100 TB
    the Java-regex tokenization pass dominates every text query
    (PERF.md sf1 decomposition), and it is a pure function of the
    corpus — paying it per query is the bug. Building costs one
    tokenize + two bucketed writes, amortized over every subsequent
    keyword search, TF-IDF, vocabulary, or df-based filter run.
    """
    db = _cache_db(spark)
    idx_table = f"{db}.tokidx_{name}"
    dl_table = f"{db}.toklen_{name}"
    if not spark.catalog.tableExists(idx_table):
        from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

        _drop_stale_location(spark, idx_table)
        tok = tokenize(docs, text_col, id_col)
        write_bucketed(tok, idx_table, bucket_col="term",
                       num_buckets=num_buckets)
    if not spark.catalog.tableExists(dl_table):
        from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

        _drop_stale_location(spark, dl_table)
        dl = (
            spark.table(idx_table)
            .groupBy(id_col)
            .agg(F.sum("tf").cast("long").alias("dl"))
        )
        write_bucketed(dl, dl_table, bucket_col=id_col,
                       num_buckets=num_buckets)
    return idx_table, dl_table


def append_to_token_index(
    spark,
    new_docs: DataFrame,
    idx_table: str,
    dl_table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
    fwd_table: str | None = None,
) -> None:
    """Incrementally maintain the token index: tokenize ONLY the new
    batch and append its postings + lengths (same bucketing spec, so
    bucket pruning and shuffle-free term aggregation keep working —
    Spark appends per-bucket files). After the append, every indexed
    query (bm25/tfidf) sees the union corpus exactly as if the index
    had been rebuilt (bit-parity tested).

    Contract: ``new_docs`` carries ids NOT already indexed;
    re-appending an id would double-count its term frequencies. Cost
    is O(new batch), never O(corpus): the existing index is not
    read, let alone rewritten — the maintenance shape that makes a
    100 TB corpus index affordable to keep current from the CDC
    stream.

    Pass ``fwd_table`` (from :func:`ensure_forward_index`) to keep
    the doc-keyed forward projection current in the same append —
    otherwise a forward index built before the append silently misses
    the new docs (derived tables don't maintain themselves).
    """
    from concurrent.futures import ThreadPoolExecutor

    from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

    # persist the batch tokenization: it feeds 2-3 consumers (postings
    # write, dl aggregate, optional forward write) and each would
    # otherwise re-run the scan + regex split; MATERIALIZE it before
    # the concurrent writes so neither racing job builds the cache
    tok = tokenize(new_docs, text_col, id_col).persist()
    tok.count()
    # the per-append floor is the table COMMITS, not compute (PERF.md
    # r13 maintainer decomposition: postings 1.0-1.5 s + lengths
    # 0.6-1.0 s per trigger at any batch size) — the writes target
    # DIFFERENT tables with no ordering dependency, so submit them as
    # concurrent driver-thread jobs and pay the slower commit once
    dl = tok.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    jobs = [
        lambda: write_bucketed(tok, idx_table, bucket_col="term",
                               num_buckets=num_buckets, mode="append"),
        lambda: write_bucketed(dl, dl_table, bucket_col=id_col,
                               num_buckets=num_buckets, mode="append"),
    ]
    if fwd_table is not None:
        jobs.append(
            lambda: write_bucketed(tok, fwd_table, bucket_col=id_col,
                                   num_buckets=num_buckets, mode="append")
        )
    try:
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            for fut in [pool.submit(j) for j in jobs]:
                fut.result()
        if fwd_table is not None:
            refresh_token_index(spark, fwd_table)
    finally:
        tok.unpersist()
    # this session's relation cache now reflects the append; OTHER
    # sessions that already read the tables (e.g. the interactive
    # session driving a streaming maintainer) must call
    # refresh_token_index themselves — Spark's table-relation cache
    # is per-session and silently serves the stale file listing.
    refresh_token_index(spark, idx_table, dl_table)


def append_to_position_index(
    spark,
    new_docs: DataFrame,
    pos_table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16,
) -> None:
    """Incrementally maintain the POSITIONAL index
    (:func:`ensure_position_index`): tokenize only the new batch and
    append its (id, term, pos) rows under the same term bucketing —
    phrase/proximity/indexed-percolation queries see the union corpus
    exactly as if the index had been rebuilt (bit-parity tested).
    Same new-ids-only contract and O(batch) cost as
    :func:`append_to_token_index`."""
    from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

    write_bucketed(
        tokenize_positions(new_docs, text_col, id_col),
        pos_table,
        bucket_col="term",
        num_buckets=num_buckets,
        mode="append",
    )
    refresh_token_index(spark, pos_table)


def compact_token_index(
    spark,
    table: str,
    *,
    bucket_col: str,
    num_buckets: int = 16,
) -> dict:
    """Compact an appended index table: every streaming-maintainer
    trigger / incremental append adds one file per written bucket, so
    a long-lived maintained index accumulates small files and every
    query pays their open/footer overhead (the classic small-files
    tax; the archive sink has the same hygiene job in
    maintenance/compact.py). Rewrites the table's rows once under the
    SAME bucketing spec — bucket pruning, shuffle-free term
    aggregation, and co-located joins keep working, and query results
    are bit-identical (tested) — via a staging table + a
    backup-rename commit: original → ``_compact_bak``, staging →
    serving name, drop backup. Every intermediate state is
    recoverable — a failure before the first rename leaves the
    original untouched (stale staging dropped on retry); a failure
    between the renames leaves the original intact under the backup
    name (retry restores it before recompacting); a failure after the
    second rename leaves the already-compacted table serving (retry
    just drops the stale backup). At no point is the only copy of the
    index data deleted. Returns
    ``{"files_before": N, "files_after": M, "rows": R}``.

    Run it off the query path on a cadence keyed to trigger rate —
    e.g. hourly for a 60 s-trigger maintainer (≈60 files/bucket/hour
    at 16 buckets). O(index) I/O, zero corpus work.
    """
    from aws_dms_cdc_data_pipeline_spark.sinks.bucketed import write_bucketed

    tmp = f"{table}_compact_tmp"
    bak = f"{table}_compact_bak"
    # retry recovery: a prior attempt that failed between its two
    # renames left the data under the backup name — restore it first
    # so this attempt starts from the serving-name invariant.
    if spark.catalog.tableExists(bak) and not spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {bak} RENAME TO {table}")
    spark.sql(f"DROP TABLE IF EXISTS {bak}")
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _drop_stale_location(spark, tmp)
    _drop_stale_location(spark, bak)

    src = spark.table(table)
    files_before = len(src.inputFiles())
    rows = src.count()
    # Force the BUCKETED scan for the rewrite: auto-bucketed-scan
    # planning sees no operator that needs the distribution, reads
    # the table as plain file splits, and the write then emits one
    # file per (split, bucket) — output file count tracked the INPUT
    # split count, so compacting a fragmented index could be a no-op
    # (r17: surfaced by the 4 MB split default; an explicit
    # repartition(num_buckets, bucket_col) does not help — the
    # planner elides it as redundant against the table's bucket spec
    # and still disables the bucketed scan). Under a forced bucketed
    # scan each task holds exactly one bucket, so the rewrite lands
    # at one file per bucket with NO exchange at all.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key)
    spark.conf.set(auto_key, "false")
    try:
        write_bucketed(
            spark.table(table), tmp,
            bucket_col=bucket_col, num_buckets=num_buckets,
        )
    finally:
        spark.conf.set(auto_key, prev_auto)
    spark.sql(f"ALTER TABLE {table} RENAME TO {bak}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {bak}")
    refresh_token_index(spark, table)
    files_after = len(spark.table(table).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }


def refresh_token_index(spark, *tables: str) -> None:
    """Invalidate this session's cached file listings for index
    tables appended by ANOTHER session (a streaming maintainer, a
    parallel job). Call before serving queries from a session that
    read the tables before the append; skipping it is not an error —
    it is silently stale results, which is worse."""
    for t in tables:
        spark.catalog.refreshTable(t)


_CACHE_DB = "tokcache"


def _cache_db(spark) -> str:
    """Database holding the derived token-index cache tables, with an
    EXPLICIT repo-anchored location: the default warehouse dir is
    relative to the driver process's cwd, so a harness launched from
    elsewhere would otherwise scatter managed tables outside the
    repo. A database LOCATION pins them regardless of cwd."""
    import os

    loc = os.path.join(_repo_root(), "spark-warehouse", f"{_CACHE_DB}.db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_CACHE_DB} LOCATION '{loc}'")
    return _CACHE_DB


def _repo_root() -> str:
    import os

    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _drop_stale_location(spark, table: str) -> None:
    """Remove a dead session's leftover dir for a derived cache table
    the catalog no longer knows (saveAsTable refuses to reuse the
    location otherwise). Only ever touches OUR tokidx_/toklen_/
    tokpos_/tokfwd_/factbkt_ cache-table paths under the
    repo-anchored cache db."""
    import os
    import shutil

    bare = table.split(".")[-1].lower()
    p = os.path.join(_repo_root(), "spark-warehouse",
                     f"{_CACHE_DB}.db", bare)
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)


def bm25_search_indexed(
    spark,
    idx_table: str,
    dl_table: str,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    textbook: bool = False,
) -> DataFrame:
    """:func:`bm25_search` against a materialized token index —
    bit-identical ranking (same tokens, same rational arithmetic,
    same quantization; asserted in tests), but per-query work is the
    bucket-pruned hit rows plus the pre-aggregated length table
    instead of two corpus tokenization passes."""
    if not query_terms:
        raise ValueError("bm25_search_indexed needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    hits = spark.table(idx_table).filter(F.col("term").isin(terms))
    dl = spark.table(dl_table)
    return _bm25_rank(
        hits, dl, id_col=id_col, k1=k1, b=b, top_k=top_k, textbook=textbook
    )


def tfidf_top_terms_indexed(
    spark,
    idx_table: str,
    dl_table: str,
    *,
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per doc from the materialized
    token index by smoothed TF-IDF, tf · (ln((N+1)/(df+1)) + 1)
    rounded to 6 digits (tokens are the index's alnum tokens and N
    counts indexed docs, i.e. docs with ≥1 token).

    Plan shape against the index: df-per-term aggregates SHUFFLE-FREE
    (index bucketed on term), corpus size is a 1-row broadcast from
    the tiny length table, and the only data-sized exchange is the
    per-doc rank window — which WindowGroupLimit cuts to k rows per
    doc map-side. The corpus text is never re-read, let alone
    re-tokenized.
    """
    from pyspark.sql import Window

    tf = spark.table(idx_table)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = spark.table(dl_table).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
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
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def bm25_oracle_sql(
    query_terms: list[str],
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical ranking (same rational
    arithmetic, same quantization)."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (
        SELECT {id_col}, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM {table},
             LATERAL (SELECT unnest(string_split_regex(lower({text_col}),
                                    '[^a-z0-9]+')) AS term) t
        WHERE t.term <> ''
        GROUP BY {id_col}, t.term
    ),
    dl AS (SELECT {id_col}, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tok GROUP BY {id_col}),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    hits AS (SELECT * FROM tok WHERE term IN ({in_list})),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM hits GROUP BY term),
    contrib AS (
        SELECT h.{id_col},
               CAST(round(
                   ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * ((h.tf * ({k1} + 1)) /
                      (h.tf + {k1} * ((1 - {b}) + {b} * l.dl
                                      / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))
                   * 1000000, 0) AS BIGINT) AS cq
        FROM hits h JOIN dfs d USING (term)
                    JOIN dl l USING ({id_col})
                    CROSS JOIN stats s
    )
    SELECT {id_col},
           CAST(CAST(SUM(cq) AS DECIMAL(38,0)) / 1000000 AS DOUBLE) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM contrib
    GROUP BY {id_col}
    ORDER BY score DESC, {id_col} ASC
    LIMIT {top_k}
    """


def termvectors(
    docs: DataFrame,
    doc_ids: list,
    *,
    term_statistics: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``_termvectors`` / ``_mtermvectors`` endpoint — per-
    document term statistics for the requested ids: term_freq and
    the 0-based positions array (always), plus the corpus-wide
    doc_freq / ttf (total term frequency) when
    ``term_statistics=True`` (the endpoint's opt-in flag, same
    default as ES).

    Scale shape: the positional tokenize runs over the REQUESTED
    documents only (id filter pushed into the scan); the optional
    term statistics aggregate at the distinct-term grain corpus-wide
    and join back on the vocabulary key — the requested side is tiny,
    so the join broadcasts. Nothing corpus-sized is ever collected.

    Returns (id, term, term_freq, positions[, doc_freq, ttf])
    ordered (id, term).
    """
    if not doc_ids:
        raise ValueError("termvectors needs at least one document id")
    wanted = docs.filter(F.col(id_col).isin(list(doc_ids)))
    tv = (
        tokenize_positions(wanted, text_col, id_col)
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("term_freq"),
            F.array_sort(
                F.collect_list(F.col("pos").cast("long"))
            ).alias("positions"),
        )
    )
    if term_statistics:
        stats = tokenize(docs, text_col, id_col).groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("ttf"),
        )
        tv = tv.join(stats, "term").select(
            id_col, "term", "term_freq", "positions", "doc_freq", "ttf"
        )
    return tv.orderBy(F.col(id_col).asc(), F.col("term").asc())


def termvectors_oracle_sql(
    doc_ids: list,
    *,
    term_statistics: bool = False,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    positions_csv: bool = False,
) -> str:
    """DuckDB SQL for the identical termvectors result (same
    tokenizer, same 0-based positions).

    ``positions_csv=True`` serializes the positions array as a
    comma-joined string — the registry's verify projection (the
    driver's pandas canonicalizer cannot sort ``array<long>``
    columns; the r17 verdict's ask #1). Same computation, sortable
    shape; pair it with ``array_join(positions, ',')`` on the Spark
    side."""
    ids = ", ".join(str(int(i)) for i in doc_ids)
    stat_cols = ", s.doc_freq, s.ttf" if term_statistics else ""
    stat_join = "JOIN stats s USING (term)" if term_statistics else ""
    pos_col = (
        "array_to_string(tv.positions, ',') AS positions"
        if positions_csv
        else "tv.positions"
    )
    return f"""
    WITH toks AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower({text_col}),
                                              '[^a-z0-9]+'),
                           x -> x <> '') AS ts
        FROM {table}
    ),
    pos AS (
        SELECT {id_col}, ts[i] AS term, CAST(i - 1 AS BIGINT) AS pos
        FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i)
    ),
    tv AS (
        SELECT {id_col}, term,
               CAST(COUNT(*) AS BIGINT) AS term_freq,
               list_sort(list(pos)) AS positions
        FROM pos WHERE {id_col} IN ({ids})
        GROUP BY {id_col}, term
    ),
    stats AS (
        SELECT term,
               CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS doc_freq,
               CAST(COUNT(*) AS BIGINT) AS ttf
        FROM pos GROUP BY term
    )
    SELECT tv.{id_col}, tv.term, tv.term_freq, {pos_col}{stat_cols}
    FROM tv {stat_join}
    ORDER BY tv.{id_col} ASC, tv.term ASC
    """


__all__ = [
    "append_to_position_index",
    "append_to_token_index",
    "bm25_search",
    "bm25_search_indexed",
    "bm25_search_many",
    "bm25_oracle_sql",
    "bool_oracle_sql",
    "bool_search_many",
    "compact_token_index",
    "ensure_forward_index",
    "ensure_position_index",
    "ensure_token_index",
    "function_score",
    "function_score_oracle_sql",
    "phrase_search",
    "phrase_search_indexed",
    "phrase_search_many",
    "refresh_token_index",
    "span_first",
    "span_first_indexed",
    "span_first_oracle_sql",
    "proximity_search",
    "proximity_search_indexed",
    "proximity_search_many",
    "tfidf_top_terms_indexed",
    "token_index_stats",
    "token_index_stats_oracle_sql",
    "termvectors",
    "termvectors_oracle_sql",
    "tokenize",
    "tokenize_positions",
    "wildcard_oracle_sql",
    "wildcard_search",
]
