"""OpenSearch ``aggs`` over a hit relation — the Discover read.

The reference's Discover surface is filter, sort and aggregate over
the replicated table (README.md:451-492). :func:`execute_aggs_dsl`
runs an OpenSearch ``aggs`` body against any DataFrame of hits — the
replicated state (``StateStore.table()``) or a search result — and
returns one DataFrame per named aggregation. The bucket, metric and
pipeline operators it routes to live here too, each with the
``*_oracle_sql`` DuckDB reference the query registry and the tests
compare against. Every one is exact where OpenSearch sketches
(decimal or 6-decimal fixed-point sums, nearest-rank quantiles).

This module imports nothing from the search stack, so loading the
Discover read costs only this module and operators/partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _idx_relation(spark, idx_table) -> DataFrame:
    """Resolve a token-index argument: a catalog table NAME (the
    ensure_token_index serving path) or a DataFrame carrying the
    same (id, term, tf) shape (the DSL dispatcher's index_tables
    entries — the suggest-block wiring)."""
    if isinstance(idx_table, DataFrame):
        return idx_table
    return spark.table(idx_table)


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


def _meta_sql(node: dict) -> str:
    """DuckDB predicate for a metadata filter leaf (mirror of
    :func:`_meta_condition`)."""
    kind, body = next(iter(node.items()))

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    if kind == "range":
        ((field, spec),) = body.items()
        ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
        parts = [
            f"{field} {op} {lit(spec[key])}"
            for key, op in ops.items() if key in spec
        ]
        if not parts:
            raise ValueError(f"range filter needs gte/gt/lte/lt: {spec}")
        return "(" + " AND ".join(parts) + ")"
    if kind == "terms":
        ((field, vals),) = body.items()
        return f"{field} IN ({', '.join(lit(v) for v in vals)})"
    if kind == "exists":
        return f"{body['field']} IS NOT NULL"
    raise ValueError(f"not a metadata leaf: {kind!r}")


def _interval_seconds(spec: str) -> int:
    """Parse an ES fixed_interval string (a multiple of s/m/h/d/w) to
    whole seconds. Calendar intervals are not fixed lengths; see
    :func:`_date_bucket`."""
    import re as _re

    m = _re.fullmatch(r"(\d+)(s|m|h|d|w)", spec)
    if not m:
        raise ValueError(f"unsupported interval {spec!r}")
    mult = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}
    return int(m.group(1)) * mult[m.group(2)]


# calendar_interval values OpenSearch accepts: a unit name or ONE of
# the unit (a multiple such as "2d" is a fixed_interval there)
_CALENDAR_UNITS = {
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "1w": "week",
    "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter",
    "year": "year", "1y": "year",
}


def _date_bucket(field: str, body: dict) -> Column:
    """The bucket start of a ``date_histogram`` agg or composite
    source. ``fixed_interval`` floors epoch seconds (exact for any
    instant, pre-1970 included); ``calendar_interval`` truncates in
    the session time zone (UTC), so weeks start on Monday and months,
    quarters and years have their true lengths."""
    if "fixed_interval" in body:
        iv = _interval_seconds(body["fixed_interval"])
        uts = F.unix_timestamp(F.col(field))
        return F.timestamp_seconds(
            uts - ((uts % F.lit(iv) + F.lit(iv)) % F.lit(iv))
        )
    spec = body.get("calendar_interval")
    if spec is None:
        raise ValueError(
            "date_histogram needs fixed_interval or calendar_interval"
        )
    if spec not in _CALENDAR_UNITS:
        raise ValueError(
            f"unsupported calendar_interval {spec!r}: calendar intervals "
            "are one minute/hour/day/week/month/quarter/year (1m, 1h, "
            "1d, 1w, 1M, 1q, 1y); use fixed_interval for multiples"
        )
    return F.date_trunc(_CALENDAR_UNITS[spec], F.col(field))


def _hit_score_col(rows) -> "str | None":
    """Resolve which column carries the QUERY score on a hit
    relation: execute_search_request joins it in as `_query_score`
    when the doc relation has its own `score` FIELD (so the two
    never collide); direct callers pass plain `score`. None → the
    relation is unscored."""
    if "_query_score" in rows.columns:
        return "_query_score"
    if "score" in rows.columns:
        return "score"
    return None


def execute_aggs_dsl(
    rows: DataFrame,
    aggs: dict,
    *,
    background: DataFrame | None = None,
    id_col: str = "doc_id",
    index_tables: dict | None = None,
) -> dict:
    """Execute an OpenSearch ``aggs`` body against a hit relation
    (the rows a query produced, carrying their fields) — the
    aggregation half of the switch-over surface. Returns
    {agg_name: DataFrame}, one result per named aggregation, each
    delegating to the engine's dedicated operator (exact where
    OpenSearch sketches — the repo-wide stance).

    Supported types: terms, date_histogram (fixed_interval multiples
    of s/m/h/d/w, or a calendar_interval unit minute through year via
    date_trunc), histogram
    (explicit interval), range, filters (term-filter leaves),
    percentiles (exact nearest-rank via the range-partitioned
    prefix), stats, extended_stats, cardinality (EXACT distinct),
    value_count, sum, avg, min, max, missing, rare_terms
    (categorical field of the hit relation — exact where OpenSearch
    runs CuckooFilters), multi_terms, weighted_avg,
    boxplot, median_absolute_deviation, string_stats,
    percentile_ranks — the sketch-backed OpenSearch metrics all
    compute EXACT here (the repo-wide stance). composite (terms +
    date_histogram sources, after-key paging) and the PIPELINE aggs
    (derivative / cumulative_sum / moving_fn via buckets_path;
    bucket_script / bucket_selector with painless params.X
    translation; bucket_sort) route to their operators over the
    bounded bucket relations.

    SUB-AGGREGATIONS (the standard Kibana body — buckets carrying
    per-bucket metrics): terms / date_histogram / histogram accept a
    sibling ``aggs`` key whose entries are METRIC aggs (value_count /
    sum / avg / min / max / cardinality); each lands as one output
    column named by its agg name, computed in the SAME map-side-
    combined groupBy — nesting adds zero extra shuffles. Bucket
    aggs under buckets (and sub-aggs on range/filters/percentiles)
    raise a reasoned error.

    SCORE-DEPENDENT compositions route to their dedicated operators
    and need ``rows`` to carry a ``score`` column (pass the body
    through :func:`execute_search_request`, which joins the query
    scores into the hit relation): ``top_hits`` as the single
    sub-agg of a terms bucket → top_hits_per_facet; ``sampler`` /
    ``diversified_sampler`` with one terms sub-agg → the global
    top-shard_size (resp. per-dedup-capped) sample feeding
    sampler_agg's per-facet count + exact mean score.
    """
    if not aggs:
        raise ValueError("aggs body is empty")

    def metric_cols(sub: dict) -> list:
        cols = []
        for sname, sspec in sub.items():
            if len(sspec) != 1:
                raise ValueError(
                    f"sub-agg {sname!r} must have exactly one type"
                )
            skind, sbody = next(iter(sspec.items()))
            sf = sbody.get("field")
            v = F.col(sf).cast("double")
            if skind == "value_count":
                cols.append(F.count(F.col(sf)).cast("long").alias(sname))
            elif skind == "sum":
                cols.append(
                    F.sum(v.cast("decimal(18,6)")).cast("double")
                    .alias(sname)
                )
            elif skind == "avg":
                cols.append(
                    (
                        F.sum(v.cast("decimal(18,6)")).cast("double")
                        / F.count(v)
                    ).alias(sname)
                )
            elif skind == "min":
                cols.append(F.min(v).alias(sname))
            elif skind == "max":
                cols.append(F.max(v).alias(sname))
            elif skind == "cardinality":
                cols.append(
                    F.count_distinct(F.col(sf)).cast("long").alias(sname)
                )
            else:
                raise ValueError(
                    f"sub-agg type {skind!r} not supported under a "
                    "bucket agg (metric sub-aggs only: value_count/"
                    "sum/avg/min/max/cardinality)"
                )
        return cols

    out = {}
    pipeline = []
    for name, spec in aggs.items():
        spec = dict(spec)
        sub = spec.pop("aggs", None) or spec.pop("aggregations", None)
        if len(spec) != 1:
            raise ValueError(
                f"agg {name!r} must have exactly one agg type"
            )
        kind, body = next(iter(spec.items()))
        # score-dependent bucket compositions (top_hits under terms,
        # sampler / diversified_sampler) consume the QUERY SCORES,
        # which ride `rows` as a `score` column when the caller
        # passes a scored hit relation — execute_search_request does
        if kind == "terms" and sub and any(
            next(iter(s)) == "top_hits" for s in sub.values()
        ):
            if len(sub) != 1:
                raise ValueError(
                    "top_hits must be the only sub-agg of its terms "
                    "bucket (mixing it with metric sub-aggs would "
                    "need two result shapes under one name)"
                )
            score_col = _hit_score_col(rows)
            if score_col is None:
                raise ValueError(
                    "top_hits needs a scored hit relation — run the "
                    "body through execute_search_request, which "
                    "carries the query scores into the aggs"
                )
            ((_hname, hspec),) = sub.items()
            out[name] = top_hits_per_facet(
                rows.select(
                    id_col, F.col(score_col).alias("score")
                ),
                rows, [body["field"]],
                id_col=id_col,
                hits_per_bucket=int(hspec["top_hits"].get("size", 3)),
            )
            continue
        if kind in ("sampler", "diversified_sampler"):
            if (
                not sub or len(sub) != 1
                or next(iter(next(iter(sub.values())))) != "terms"
            ):
                raise ValueError(
                    f"{kind} routes with exactly one terms sub-agg "
                    "(the facet leg the sample feeds)"
                )
            score_col = _hit_score_col(rows)
            if score_col is None:
                raise ValueError(
                    f"{kind} needs a scored hit relation — run the "
                    "body through execute_search_request, which "
                    "carries the query scores into the aggs"
                )
            ((_sname, sspec),) = sub.items()
            facet = sspec["terms"]["field"]
            shard = int(body.get("shard_size", 100))
            scored = rows.select(id_col, F.col(score_col).alias("score"))
            if kind == "sampler":
                sample = (
                    scored
                    .orderBy(F.col("score").desc(), F.col(id_col).asc())
                    .limit(shard)
                )
            else:
                sample = diversified_sampler(
                    scored, rows, body["field"],
                    id_col=id_col, shard_size=shard,
                    max_docs_per_value=int(
                        body.get("max_docs_per_value", 1)
                    ),
                ).select(id_col, "score")
            out[name] = sampler_agg(
                rows, sample, facet_col=facet, id_col=id_col
            )
            continue
        if sub is not None and kind not in (
            "terms", "date_histogram", "histogram"
        ):
            raise ValueError(
                f"sub-aggs are supported under terms/date_histogram/"
                f"histogram buckets (and the sampler family), not "
                f"{kind!r}"
            )
        subcols = metric_cols(sub) if sub else []
        field = body.get("field")
        if kind == "terms":
            size = int(body.get("size", 10))
            out[name] = (
                rows.groupBy(F.col(field).alias("key"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("doc_count"),
                    *subcols,
                )
                .orderBy(F.col("doc_count").desc(), F.col("key").asc())
                .limit(size)
            )
        elif kind == "date_histogram":
            out[name] = (
                rows.filter(F.col(field).isNotNull())
                .groupBy(_date_bucket(field, body).alias("bucket_start"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("doc_count"),
                    *subcols,
                )
                .orderBy("bucket_start")
            )
        elif kind == "histogram":
            iv = float(body["interval"])
            if iv <= 0:
                raise ValueError("histogram interval must be positive")
            # 6-dp fixed-point flooring: bucket edges never depend on
            # float division
            ivq = int(round(iv * 1_000_000))
            vq = F.floor(F.col(field).cast("double") * 1_000_000.0).cast(
                "long"
            )
            # pure-integer floor (double-mod): exact for any long,
            # negative values included
            bucket = (
                vq - ((vq % F.lit(ivq) + F.lit(ivq)) % F.lit(ivq))
            ).cast("double") / F.lit(1_000_000.0)
            v = F.col(field).cast("double")
            out[name] = (
                rows.filter(
                    v.isNotNull() & ~F.isnan(v)
                    & (F.abs(v) != F.lit(float("inf")))
                )
                .groupBy(bucket.alias("bucket_start"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("doc_count"),
                    *subcols,
                )
                .orderBy("bucket_start")
            )
        elif kind == "range":
            ranges = [
                (
                    r.get("key")
                    or f"{r.get('from', '*')}-{r.get('to', '*')}",
                    r.get("from"),
                    r.get("to"),
                )
                for r in body["ranges"]
            ]
            out[name] = range_buckets(rows, field, ranges)
        elif kind == "filters":
            preds = []
            for key, node in body["filters"].items():
                fkind, fbody = next(iter(node.items()))
                if fkind in ("range", "terms", "exists"):
                    preds.append((key, _meta_sql(node)))
                    continue
                if fkind != "term":
                    raise ValueError(
                        "filters agg supports term / range / terms "
                        "/ exists leaves"
                    )
                ((ffield, fval),) = fbody.items()
                fval = fval["value"] if isinstance(fval, dict) else fval
                lit = (
                    "'" + str(fval).replace("'", "''") + "'"
                    if isinstance(fval, str) else repr(fval)
                )
                preds.append((key, f"{ffield} = {lit}"))
            out[name] = filters_agg(
                rows, preds,
                other_bucket_key=(
                    "_other" if body.get("other_bucket") else None
                ),
            )
        elif kind == "percentiles":
            percents = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
            v = F.col(field).cast("double")
            clean = rows.filter(
                v.isNotNull() & ~F.isnan(v)
                & (F.abs(v) != F.lit(float("inf")))
            )
            dist = clean.groupBy(
                F.floor(v * 1_000_000.0).cast("long").alias("qv")
            ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

            def ranks(total):
                return {
                    f"p{str(p).replace('.', '_')}": max(
                        1, -(-int(round(p * 10)) * total // 1000)
                    )
                    for p in percents
                }

            vals, _total = _quantile_at_ranks(dist, ranks)
            spark = rows.sparkSession
            out[name] = spark.createDataFrame(
                [
                    (
                        float(p),
                        None
                        if vals[f"p{str(p).replace('.', '_')}"] is None
                        else vals[f"p{str(p).replace('.', '_')}"]
                        / 1_000_000.0,
                    )
                    for p in percents
                ],
                "percent double, value double",
            )
        elif kind == "extended_stats":
            out[name] = extended_stats(
                rows, field, sigma=float(body.get("sigma", 2.0))
            )
        elif kind == "stats":
            v = F.col(field).cast("double")
            clean = rows.filter(
                v.isNotNull() & ~F.isnan(v)
                & (F.abs(v) != F.lit(float("inf")))
            )
            out[name] = clean.agg(
                F.count(F.lit(1)).cast("long").alias("count"),
                F.min(v).alias("min"),
                F.max(v).alias("max"),
                F.sum(v.cast("decimal(18,6)")).cast("double").alias("sum"),
                (
                    F.sum(v.cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("avg"),
            )
        elif kind == "cardinality":
            out[name] = rows.agg(
                F.count_distinct(F.col(field)).cast("long").alias("value")
            )
        elif kind in ("value_count", "sum", "avg", "min", "max"):
            v = F.col(field).cast("double")
            clean = rows.filter(v.isNotNull())
            expr = {
                "value_count": F.count(F.col(field)).cast("long"),
                "sum": F.sum(v.cast("decimal(18,6)")).cast("double"),
                "avg": (
                    F.sum(v.cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ),
                "min": F.min(v),
                "max": F.max(v),
            }[kind]
            out[name] = clean.agg(expr.alias("value"))
        elif kind == "missing":
            # missing agg: docs where the field is null/absent —
            # one bucket, one row
            out[name] = rows.agg(
                F.sum(F.col(field).isNull().cast("long"))
                .cast("long").alias("doc_count")
            )
        elif kind == "rare_terms":
            # rare_terms over a CATEGORICAL field of the hit
            # relation: buckets whose doc count <= max_doc_count —
            # the long-tail complement of terms, exact where
            # OpenSearch runs CuckooFilters. The tokenized-text form
            # (corpus-wide term df) is the dedicated indexed
            # operator, not a hit-scoped agg — reasoned error.
            if field not in rows.columns:
                raise ValueError(
                    f"rare_terms field {field!r} is not a column of "
                    "the hit relation; for tokenized-text rare terms "
                    "call operators/search.py:rare_terms on the "
                    "token index (corpus-wide df semantics)"
                )
            mdc = int(body.get("max_doc_count", 1))
            if mdc < 1:
                raise ValueError("max_doc_count must be >= 1")
            out[name] = (
                rows.filter(F.col(field).isNotNull())
                .groupBy(F.col(field).alias("key"))
                .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
                .filter(F.col("doc_count") <= mdc)
                .orderBy(F.col("doc_count").asc(), F.col("key").asc())
            )
        elif kind == "composite":
            src_names = []
            proj = rows
            for src in body["sources"]:
                ((sname, sspec),) = src.items()
                skind, sbody = next(iter(sspec.items()))
                if skind == "terms":
                    proj = proj.withColumn(
                        sname, F.col(sbody["field"])
                    )
                elif skind == "date_histogram":
                    proj = proj.withColumn(
                        sname, _date_bucket(sbody["field"], sbody)
                    )
                else:
                    raise ValueError(
                        "composite sources support terms / "
                        f"date_histogram, got {skind!r}"
                    )
                src_names.append(sname)
            after = body.get("after")
            out[name] = composite_agg_page(
                proj,
                src_names,
                {"doc_count": F.count(F.lit(1)).cast("long")},
                after=(
                    tuple(after[n] for n in src_names)
                    if after is not None else None
                ),
                size=int(body.get("size", 10)),
            )
        elif kind == "multi_terms":
            keys = [t["field"] for t in body["terms"]]
            out[name] = multi_terms(
                rows, keys, size=int(body.get("size", 10))
            )
        elif kind == "weighted_avg":
            out[name] = weighted_avg(
                rows, body["value"]["field"], body["weight"]["field"]
            )
        elif kind == "boxplot":
            out[name] = boxplot_agg(rows, field)
        elif kind == "median_absolute_deviation":
            out[name] = mad_agg(rows, field)
        elif kind == "string_stats":
            out[name] = string_stats(rows, field)
        elif kind == "percentile_ranks":
            out[name] = percentile_ranks(
                rows, field, [float(v) for v in body["values"]]
            )
        elif kind == "significant_terms":
            if not index_tables or not {"tokens", "dl"} <= set(
                index_tables
            ):
                raise ValueError(
                    "significant_terms routes through the token "
                    "index — pass index_tables={'tokens': ..., "
                    "'dl': ...} (or use significant_text for the "
                    "ad-hoc path)"
                )
            out[name] = significant_terms(
                rows.sparkSession,
                index_tables["tokens"],
                index_tables["dl"],
                rows.select(id_col),
                id_col=id_col,
                top_k=int(body.get("size", 10)),
                min_doc_count=int(body.get("min_doc_count", 2)),
            )
        elif kind == "significant_text":
            if background is None:
                raise ValueError(
                    "significant_text needs the BACKGROUND corpus "
                    "(JLH compares hit-set term shares against it) — "
                    "run it through execute_search_request, which "
                    "passes the full relation, or call "
                    "execute_aggs_dsl(background=...)"
                )
            out[name] = significant_text(
                background, rows.select(id_col),
                text_col=field, id_col=id_col,
                top_k=int(body.get("size", 10)),
                min_doc_count=int(body.get("min_doc_count", 2)),
                filter_duplicate_text=bool(
                    body.get("filter_duplicate_text", True)
                ),
            )
        elif kind in ("derivative", "cumulative_sum", "moving_fn",
                      "moving_avg", "bucket_script", "bucket_selector",
                      "bucket_sort"):
            pipeline.append((name, kind, body))
            continue
        else:
            raise ValueError(f"unsupported agg type {kind!r}")
    # second pass: PIPELINE aggs reference a sibling bucket agg via
    # buckets_path ("daily>doc_count") — computed over that sibling's
    # bounded bucket relation (never the corpus), the E153 contract
    for name, kind, body in pipeline:
        if kind in ("bucket_script", "bucket_selector"):
            # painless params.X -> the referenced metric column; all
            # paths must reference ONE sibling agg (cross-sibling
            # scripts would need a bucket-key join — not routed)
            paths = body["buckets_path"]
            srcs = {p.partition(">")[0] for p in paths.values()}
            if len(srcs) != 1:
                raise ValueError(
                    "bucket_script/selector paths must reference one "
                    f"sibling agg, got {sorted(srcs)}"
                )
            (src_name,) = srcs
            if src_name not in out:
                raise ValueError(
                    f"buckets_path references unknown sibling "
                    f"{src_name!r}"
                )
            src = out[src_name]
            script = body["script"]
            # word-boundary substitution: plain replace() mangled a
            # param whose name prefixes another (params.a / params.ab)
            import re as _re

            for var, p in paths.items():
                metric = p.partition(">")[2] or "doc_count"
                script = _re.sub(
                    rf"params\.{_re.escape(var)}\b", metric, script
                )
            order_col = (
                "bucket_start" if "bucket_start" in src.columns
                else "key"
            )
            if kind == "bucket_script":
                out[name] = bucket_script_selector(
                    src, script=script, script_alias=name,
                    order_col=order_col,
                )
            else:
                out[name] = bucket_script_selector(
                    src, script=f"CAST(({script}) AS BOOLEAN)",
                    script_alias="_sel", selector="_sel",
                    order_col=order_col,
                ).drop("_sel")
            continue
        if kind == "bucket_sort":
            src_name = body["buckets_path"]
            if src_name not in out:
                raise ValueError(
                    f"bucket_sort buckets_path references unknown "
                    f"sibling {src_name!r}"
                )
            sort = []
            for entry in body.get("sort", []):
                ((col, spec_),) = entry.items()
                order = (
                    spec_.get("order", "asc")
                    if isinstance(spec_, dict) else spec_
                )
                sort.append((col, order))
            out[name] = bucket_sort(
                out[src_name], sort,
                from_=int(body.get("from", 0)),
                size=(
                    int(body["size"]) if "size" in body else None
                ),
            )
            continue
        path = body["buckets_path"]
        src_name, _, metric = path.partition(">")
        if src_name not in out:
            raise ValueError(
                f"buckets_path {path!r} references unknown sibling "
                f"agg {src_name!r} (pipeline aggs come AFTER their "
                "source in the body)"
            )
        src = out[src_name]
        metric = metric or "doc_count"
        order_col = (
            "bucket_start" if "bucket_start" in src.columns else "key"
        )
        piped = histogram_pipeline(
            src, value_col=metric, order_col=order_col,
            window=int(body.get("window", 3)),
        )
        col = {
            "derivative": "derivative",
            "cumulative_sum": "cumulative_sum",
            "moving_fn": "moving_avg",
            "moving_avg": "moving_avg",
        }[kind]
        out[name] = piped.select(
            order_col, F.col(col).alias("value")
        )
    return out



__all__ = [
    "bucket_script_selector",
    "bucket_script_selector_oracle_sql",
    "bucket_sort",
    "bucket_sort_oracle_sql",
    "boxplot_agg",
    "boxplot_oracle_sql",
    "composite_agg_page",
    "diversified_sampler",
    "diversified_sampler_oracle_sql",
    "execute_aggs_dsl",
    "extended_stats",
    "extended_stats_oracle_sql",
    "filters_agg",
    "filters_agg_oracle_sql",
    "histogram_pipeline",
    "histogram_pipeline_oracle_sql",
    "mad_agg",
    "mad_oracle_sql",
    "multi_terms",
    "multi_terms_oracle_sql",
    "percentile_ranks",
    "percentile_ranks_oracle_sql",
    "range_buckets",
    "range_buckets_oracle_sql",
    "sampler_agg",
    "sampler_oracle_sql",
    "significant_terms",
    "significant_terms_oracle_sql",
    "significant_text",
    "significant_text_oracle_sql",
    "string_stats",
    "string_stats_oracle_sql",
    "top_hits_oracle_sql",
    "top_hits_per_facet",
    "weighted_avg",
    "weighted_avg_oracle_sql",
]
