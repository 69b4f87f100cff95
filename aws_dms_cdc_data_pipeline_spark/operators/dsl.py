"""OpenSearch query-DSL dispatcher — run a JSON query body against
the engine.

This is the switch-over surface: a user of the reference queries the
terminal OpenSearch store with JSON DSL bodies (README.md:388-441);
this module accepts those bodies and routes them to the engine's
operators, so existing saved queries run unchanged.

Supported query shapes (each delegating to its dedicated operator —
the dispatcher adds NO new semantics):

- ``match`` (operator and|or), ``term``, ``match_phrase`` — compiled
  into the generalized clause executor below
- ``bool`` with ``must`` / ``should`` / ``must_not`` / ``filter`` /
  ``minimum_should_match`` (one nesting level, the overwhelmingly
  common body). ``filter`` is the ES FILTER CONTEXT: text leaves
  (term/match_phrase) and METADATA leaves (range/terms/exists over
  the relation's other columns — the Kibana time-range + field-
  filter shape) are required for membership but contribute zero
  score; BM25 stats stay corpus-wide (ES never lets filter context
  touch index statistics)
- standalone ``range`` / ``terms`` / ``ids`` / ``exists`` /
  ``match_all`` — constant-score membership
- ``simple_query_string`` → :func:`...querystring.simple_query_string`
- ``dis_max`` → :func:`...querystring.dis_max_search` — each
  sub-query compiles to ONE dis_max group (a multi-term match sums
  its term contributions within the group; the max runs across
  sub-queries, exactly ES)
- ``function_score`` (field_value_factor) → :func:`...search.function_score`
- ``rank_feature`` bool-should shape → :func:`...scoring.rank_feature_search`
- ``pinned`` → :func:`...scoring.pinned_search`
- ``boosting`` → :func:`...search.boosting_search`
- ``span_first`` / ``span_not`` (span_term legs) →
  :func:`...search.span_first` / :func:`...querystring.span_not_search`
- ``terms_set`` (needs ``index_tables={'tokens': ...}``) →
  :func:`...search.terms_set_search`
- ``more_like_this`` seed-document form (needs ``index_tables=
  {'tokens': ..., 'dl': ...}``) → :func:`...retrieval.more_like_this`
- ``knn`` with optional term ``filter`` (pre-filter semantics) →
  :func:`...similarity.brute_force_topk` / ``filtered_topk`` — pass
  the relation carrying the vector column
- ``wildcard`` / ``fuzzy`` / ``regexp`` / ``prefix`` (need
  ``index_tables={'tokens': ...}``; prefix is the trailing-star
  wildcard, the same Lucene term-dictionary walk),
  ``match_phrase_prefix`` (needs ``{'positions': ...}``),
  ``multi_match`` (best_fields / cross_fields with ``field^boost``
  syntax) → their operators
- ``constant_score`` — the ES filter-context wrapper: the inner
  filter query (any filterable shape, evaluated uncut through this
  dispatcher) decides membership; every hit scores exactly
  ``boost``
- ``hybrid`` (the OpenSearch 2.x neural-search compound: >= 2
  sub-queries, min_max leg normalization + weighted arithmetic-mean
  combination; weights ride the body) →
  :func:`...retrieval.normalized_hybrid_fuse`
- ``script_score`` — restricted-Painless arithmetic rescoring of an
  uncut inner query (min_score cuts AFTER rescoring) →
  :func:`...painless.script_score_search`
- ``terms`` LOOKUP form (``{field: {index/id/path}}``, standalone;
  lookup relation via ``index_tables``) — constant-score token
  overlap / isin membership
- ``percolate`` — the search-time dual of the streaming percolator:
  inline ``document``/``documents`` (slot = list index) or a stored
  document by ``index``/``id``; standing queries via
  ``index_tables[field]`` → :func:`...streaming.percolate.percolate`
- search-request ``runtime_mappings`` — script-computed columns
  (same grammar, minus ``_score``) attached before execution, so
  filters / sort / _source / aggs consume them
- ``intervals`` two-term ordered ``match`` rule (slop = max_gaps+1)
  → :func:`...search.proximity_search`; other rules are reasoned
  rejections naming the serving alternative
- search-request ``highlight`` block — the best snippet window per
  page hit (:func:`...retrieval.search_snippets`) left-joined onto
  the scored page; must_not terms never highlight
- the ``_count`` endpoint → :func:`execute_count_request` (uncut
  kinds, map-side-reduced single long); the ``_field_caps`` endpoint
  → :func:`field_caps` (schema → ES capabilities vocabulary)
- search-request ``rescore`` block (flat term/match base +
  match_phrase rescore_query) → :func:`...querystring.rescore_search`
- the ``_explain`` endpoint form →
  :func:`execute_explain_request` → :func:`...querystring.bm25_explain`
  (search-body ``"explain": true`` is rejected with a pointer — the
  per-hit envelope is the endpoint's contract here)

NOT routable from JSON (reasoned errors, by scope): ColBERT late
interaction (E227 — its query is a token-embedding MATRIX, which no
OpenSearch JSON body carries; call
:func:`...retrieval.late_interaction_topk` directly); scored
re-rankers at percolator registration (percolation emits matches,
not scores).

Scoring and membership semantics are exactly the per-operator
contracts (quantized-exact BM25, Lucene phrase weights); the
generalized executor is the :func:`...querystring.simple_query_string`
machinery with explicit clause ROLES — must (all required), should
(≥ minimum_should_match required; defaults to 0 when must clauses
exist, else 1 — the ES default), must_not (excluding). must and
matching should clauses both contribute score (ES bool scoring).

One tokenize pass for the whole compiled query, the repo-standard
single-pass shape.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
    _interval_seconds,
    _meta_sql,
    execute_aggs_dsl,
)
from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
    local_relation as _local_relation,
    stats_memo_key,
)

from aws_dms_cdc_data_pipeline_spark.operators.search import (
    _ADHOC_STATS_MEMO,
    _FP,
)
from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
    _TOKEN_RE,
    _phrase_count_sql,
    _sql_str,
)


def _leaf_clauses(node: dict) -> list[list[str]]:
    """Compile one leaf query dict into term/phrase clause lists."""
    if len(node) != 1:
        raise ValueError(f"leaf query must have exactly one key: {node}")
    kind, body = next(iter(node.items()))
    if kind == "term":
        ((_field, val),) = body.items()
        val = val["value"] if isinstance(val, dict) else val
        terms = _TOKEN_RE.findall(str(val).lower())
        if len(terms) != 1:
            raise ValueError(f"term query needs one token: {val!r}")
        return [terms]
    if kind == "match":
        ((_field, spec),) = body.items()
        q = spec["query"] if isinstance(spec, dict) else spec
        terms = _TOKEN_RE.findall(str(q).lower())
        if not terms:
            raise ValueError(f"match query has no tokens: {q!r}")
        return [[t] for t in terms]
    if kind == "match_phrase":
        ((_field, spec),) = body.items()
        q = spec["query"] if isinstance(spec, dict) else spec
        terms = _TOKEN_RE.findall(str(q).lower())
        if len(terms) < 1:
            raise ValueError(f"match_phrase has no tokens: {q!r}")
        return [terms]
    raise ValueError(f"unsupported leaf query type {kind!r}")


def _match_terms(node: dict, position: str) -> list[str]:
    """Single tokens of a match/term inner query, for operators that
    take a flat term list (function_score / rank_feature / pinned).
    match_phrase is REJECTED here — silently keeping the first token
    would drop phrase semantics."""
    kind = next(iter(node))
    if kind == "match_phrase":
        raise ValueError(
            f"match_phrase is not supported as the {position} inner "
            "query (its operator scores flat terms; phrase semantics "
            "would be silently dropped) — use match or term"
        )
    return [c[0] for c in _leaf_clauses(node)]



def _meta_condition(node: dict):
    """Compile a METADATA filter leaf (range / terms / exists) into a
    boolean Column, or return None when the leaf is a text clause
    (term / match / match_phrase — handled by the clause executor).
    The range bounds compare on the column's own type (timestamps
    compare as timestamps — the Kibana time-range shape)."""
    kind, body = next(iter(node.items()))
    if kind == "range":
        ((field, spec),) = body.items()
        cond = F.lit(True)
        ops = {"gte": "__ge__", "gt": "__gt__",
               "lte": "__le__", "lt": "__lt__"}
        seen = False
        for key, dunder in ops.items():
            if key in spec:
                cond = cond & getattr(F.col(field), dunder)(
                    F.lit(spec[key])
                )
                seen = True
        if not seen:
            raise ValueError(f"range filter needs gte/gt/lte/lt: {spec}")
        return cond
    if kind == "terms":
        ((field, vals),) = body.items()
        if isinstance(vals, dict):
            raise ValueError(
                "terms LOOKUP is supported standalone only — resolve "
                "the lookup into a literal terms list before placing "
                "it inside a bool (execute_search_dsl routes the "
                "standalone {'terms': {field: {index/id/path}}} form)"
            )
        if not isinstance(vals, list) or not vals:
            raise ValueError("terms filter needs a non-empty value list")
        return F.col(field).isin(vals)
    if kind == "exists":
        return F.col(body["field"]).isNotNull()
    return None


def _match_operator(node: dict) -> str:
    kind, body = next(iter(node.items()))
    if kind == "match":
        ((_f, spec),) = body.items()
        if isinstance(spec, dict):
            return spec.get("operator", "or")
    return "or"


def clause_search(
    docs: DataFrame,
    *,
    must: list | None = None,
    should: list | None = None,
    must_not: list | None = None,
    filters: list | None = None,
    extra_filter=None,
    minimum_should_match: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Generalized clause executor: clauses are term lists (len 1 =
    term, >1 = exact phrase), grouped by bool role. Membership = all
    ``must`` hit AND ≥ ``minimum_should_match`` ``should`` hit AND no
    ``must_not`` hit AND all ``filters`` hit; score = Σ BM25
    contributions of must + hitting should clauses (Lucene phrase
    weight for phrases) — ``filters`` is the ES FILTER CONTEXT:
    required for membership, contributes NOTHING to score or
    n_clauses_hit (a filters-only query scores every hit 0.0, the ES
    bool-with-only-filter behavior). Single-pass (module docstring).
    Returns (id, score, n_clauses_hit).

    ``extra_filter`` is the METADATA leg of the filter context — a
    boolean Column over the docs relation's other fields (range /
    terms / exists leaves: the Kibana time-range + field-filter
    shape). Membership only; BM25 stats (df, avgdl, N) stay
    CORPUS-WIDE exactly as ES computes them (filter context never
    changes index statistics), so the same document scores
    identically with or without the filter."""
    must = [list(c) for c in (must or [])]
    should = [list(c) for c in (should or [])]
    must_not = [list(c) for c in (must_not or [])]
    filters = [list(c) for c in (filters or [])]
    if not must and not should and not filters and extra_filter is None:
        raise ValueError("need at least one must/should/filter clause")
    if minimum_should_match is None:
        minimum_should_match = 0 if (must or filters) else 1
    score_terms = sorted({t for c in must + should for t in c})
    neg_only = sorted(
        {c[0] for c in must_not + filters if len(c) == 1}
        - set(score_terms)
    )

    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    base_cols = [F.col(id_col), F.col(text_col)]
    if extra_filter is not None:
        base_cols.append(
            F.coalesce(extra_filter.cast("boolean"), F.lit(False))
            .alias("_meta_ok")
        )
    meta = [F.col("_meta_ok")] if extra_filter is not None else []
    toks = fan_out_scan(docs.select(*base_cols)).select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("_toks"),
        *meta,
    )
    # Projection, stats aggregate and the whole scoring chain below
    # are built as SQL STRINGS parsed JVM-side (the bool_tree_search
    # rewrite, applied to the flat executor): the Column-DSL loops
    # cost ~1 ms of py4j round trips per expression node and
    # dominated the driver side of every flat-clause consumer
    # (retriever/hybrid request legs, the flat DSL routes). The
    # strings parse to the identical resolved expressions (double
    # literals via repr() + D suffix round-trip IEEE exactly; all
    # score arithmetic stays quantized longs).
    cols = [
        "cast(size(_toks) as long) AS dl",
        *(["_meta_ok"] if extra_filter is not None else []),
    ]
    for i, t in enumerate(score_terms):
        cols.append(
            f"cast(size(filter(_toks, x -> x = '{_sql_str(t)}')) "
            f"as long) AS _tf{i}"
        )
    for j, t in enumerate(neg_only):
        cols.append(
            f"cast(size(filter(_toks, x -> x = '{_sql_str(t)}')) "
            f"as long) AS _ntf{j}"
        )
    all_clauses = must + should + must_not + filters
    for ci, terms in enumerate(all_clauses):
        if len(terms) > 1:
            cols.append(f"{_phrase_count_sql('_toks', terms)} AS _pc{ci}")
    proj = toks.selectExpr(id_col, *cols).persist()

    memo_key = stats_memo_key(
        proj,
        ("dsl",) + tuple(score_terms),
    )
    row = _ADHOC_STATS_MEMO.get(memo_key)
    if row is None:
        aggs = [
            F.expr("cast(sum(cast(dl > 0 as long)) as long) AS n_docs"),
            F.expr("cast(sum(dl) as long) AS total_dl"),
            *[
                F.expr(
                    f"cast(sum(cast(_tf{i} > 0 as long)) as long) AS _df{i}"
                )
                for i in range(len(score_terms))
            ],
        ]
        row = proj.agg(*aggs).collect()[0]
        if len(_ADHOC_STATS_MEMO) >= 256:
            _ADHOC_STATS_MEMO.pop(next(iter(_ADHOC_STATS_MEMO)))
        _ADHOC_STATS_MEMO[memo_key] = row
    n_docs = int(row["n_docs"] or 0)
    total_dl = int(row["total_dl"] or 0)
    if n_docs == 0:
        return proj.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        ).filter(F.lit(False))
    avgdl = total_dl / n_docs
    tidx = {t: i for i, t in enumerate(score_terms)}
    nidx = {t: j for j, t in enumerate(neg_only)}

    def idf_of(t: str) -> float:
        df_ = int(row[f"_df{tidx[t]}"] or 0)
        return (float(n_docs - df_) + 0.5) / (float(df_) + 0.5)

    def clause_tf_idf(ci: int, terms: list[str]):
        if len(terms) == 1:
            return f"_tf{tidx[terms[0]]}", idf_of(terms[0])
        return f"_pc{ci}", sum(idf_of(t) for t in terms)

    k1f, bf = float(k1), float(b)
    total = "0L"
    must_member = "true"
    n_hit = "0L"
    should_hits = "0L"
    for ci, terms in enumerate(all_clauses[: len(must) + len(should)]):
        tf, idf = clause_tf_idf(ci, terms)
        tf_part = (
            f"({tf} * {k1f + 1!r}D) / ({tf} + {k1f!r}D * "
            f"({1 - bf!r}D + {bf!r}D * dl / {avgdl!r}D))"
        )
        cq = (
            f"cast(round({idf!r}D * {tf_part} * "
            f"{float(_FP)!r}D, 0) as long)"
        )
        hit = f"({tf} > 0)"
        total = f"({total} + (CASE WHEN {hit} THEN {cq} ELSE 0L END))"
        n_hit = f"({n_hit} + cast({hit} as long))"
        if ci < len(must):
            must_member = f"({must_member} AND {hit})"
        else:
            should_hits = f"({should_hits} + cast({hit} as long))"
    member = (
        f"({must_member} AND "
        f"({should_hits} >= {int(minimum_should_match)}))"
    )
    excl = "false"
    for off, terms in enumerate(must_not):
        ci = len(must) + len(should) + off
        if len(terms) == 1:
            t = terms[0]
            col = (
                f"_tf{tidx[t]}" if t in tidx else f"_ntf{nidx[t]}"
            )
            excl = f"({excl} OR ({col} > 0))"
        else:
            excl = f"({excl} OR (_pc{ci} > 0))"
    # filter context: required presence, zero score contribution
    for off, terms in enumerate(filters):
        ci = len(must) + len(should) + len(must_not) + off
        if len(terms) == 1:
            t = terms[0]
            col = (
                f"_tf{tidx[t]}" if t in tidx else f"_ntf{nidx[t]}"
            )
            member = f"({member} AND ({col} > 0))"
        else:
            member = f"({member} AND (_pc{ci} > 0))"
    if extra_filter is not None:
        member = f"({member} AND _meta_ok)"
    out = proj.filter(F.expr(f"({member}) AND (NOT ({excl}))")).selectExpr(
        id_col,
        f"cast(cast(({total}) as decimal(38,0)) / {_FP} as double) "
        "AS score",
        f"({n_hit}) AS n_clauses_hit",
    )
    if top_k is None:  # UNCUT hit relation (the aggs-scope contract)
        return out
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(
        top_k
    )



def _indexed_flat_route(docs, dsl, index_tables, *, id_col, top_k):
    """Serve FLAT single-token term/match/bool bodies from the
    materialized token index (bool_search_many) — the serving-rate
    shape: per-query work is the probe terms' bucket-pruned postings,
    the corpus is never re-tokenized. Scores are bit-identical to
    the ad-hoc clause executor (same BM25 arithmetic and quantized
    longs — asserted in tests); returns None when the body needs the
    ad-hoc path (phrases, filter context, metadata leaves)."""
    kind, body = next(iter(dsl.items()))

    def single(node):
        k2 = next(iter(node))
        if k2 not in ("term", "match"):
            return None
        cls = _leaf_clauses(node)
        if any(len(c) != 1 for c in cls):
            return None
        return [c[0] for c in cls]

    spec = {"must": [], "should": [], "must_not": []}
    msm = None
    if kind == "bool":
        if set(body) - {"must", "should", "must_not",
                        "minimum_should_match"}:
            return None  # filter context -> ad-hoc path
        for role in ("must", "should", "must_not"):
            items = body.get(role, [])
            items = items if isinstance(items, list) else [items]
            for node in items:
                ts = single(node)
                if ts is None:
                    return None
                if len(ts) > 1 and next(iter(node)) == "match":
                    # multi-term match inside a bool desugars to its
                    # ES bool form (or -> should/msm=1, and -> must)
                    # — a NESTED group the flat spec can't express;
                    # fall through to bool_tree_search (flattening it
                    # per-term turned or-matches into AND)
                    return None
                spec[role].extend(ts)
        msm = body.get("minimum_should_match")
    else:
        ts = single(dsl)
        if ts is None:
            return None
        if kind == "match" and _match_operator(dsl) == "and":
            spec["must"] = ts
        else:
            spec["should"] = ts
    if not spec["must"] and not spec["should"]:
        return None
    if msm is not None:
        spec["minimum_should_match"] = msm
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        bool_search_many,
    )

    spark = docs.sparkSession
    out = bool_search_many(
        spark, index_tables["tokens"], index_tables["dl"],
        {"q": spec}, id_col=id_col,
        top_k=top_k if top_k is not None else (1 << 31) - 1,
    )
    return out.select(
        F.col(id_col), F.col("score"),
        F.col("n_terms_hit").alias("n_clauses_hit"),
    )


def _span_term(node: dict, position: str) -> str:
    """Extract the single token of a ``span_term`` leaf."""
    if next(iter(node)) != "span_term":
        raise ValueError(f"{position} expects a span_term leaf: {node}")
    ((_field, val),) = node["span_term"].items()
    val = val["value"] if isinstance(val, dict) else val
    terms = _TOKEN_RE.findall(str(val).lower())
    if len(terms) != 1:
        raise ValueError(f"span_term needs one token: {val!r}")
    return terms[0]


def execute_search_dsl(
    docs: DataFrame,
    dsl: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
    index_tables: dict | None = None,
) -> DataFrame:
    """Execute an OpenSearch query-DSL body (the ``query`` object of
    a search request) against the document corpus. See the module
    docstring for the supported shapes; every shape delegates to its
    dedicated operator, so results are bit-identical to calling that
    operator directly (asserted in tests)."""
    if len(dsl) != 1:
        raise ValueError("query body must have exactly one top-level key")
    kind, body = next(iter(dsl.items()))
    common = dict(text_col=text_col, id_col=id_col, top_k=top_k)
    if kind == "ids":
        # ids query: filter by document id, constant score (ES
        # returns score 1 per match)
        vals = [int(i) for i in body["values"]]
        out = docs.filter(F.col(id_col).isin(vals)).select(
            F.col(id_col),
            F.lit(1.0).alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind == "exists":
        # exists query: docs with a non-null field, constant score
        out = docs.filter(F.col(body["field"]).isNotNull()).select(
            F.col(id_col),
            F.lit(1.0).alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind == "terms" and isinstance(next(iter(body.values())), dict):
        # terms LOOKUP (ES): the term list lives in another indexed
        # document — {"terms": {field: {"index": ..., "id": ...,
        # "path": ...}}}. The lookup relation arrives via
        # index_tables[index]; the fetch is a 1-row bounded head()
        # (the same bounded-collect budget as the 1-row corpus
        # stats). Membership is constant-score like literal terms
        # (the ES contract); an absent lookup doc or a NULL path
        # value matches NOTHING (ES: empty terms). On the text
        # field, membership = the doc's analyzed tokens overlap the
        # looked-up terms (one scan, arrays_overlap in codegen —
        # never a corpus join); on a metadata field it is isin().
        # Supported STANDALONE only: inside a bool, resolve the
        # lookup client-side into a literal terms list first.
        ((field, spec),) = body.items()
        missing = [k for k in ("index", "id", "path") if k not in spec]
        if missing:
            raise ValueError(
                f"terms lookup needs index/id/path keys ({missing} "
                "missing)"
            )
        if not index_tables or spec["index"] not in index_tables:
            raise ValueError(
                f"terms lookup index {spec['index']!r}: pass the "
                "lookup relation via index_tables={name: DataFrame}"
            )
        lk = index_tables[spec["index"]]
        row = (
            lk.filter(F.col(id_col) == F.lit(spec["id"]))
            .select(spec["path"])
            .head()
        )
        val = row[0] if row is not None else None
        if val is None:
            lookup_terms: list = []
        elif isinstance(val, (list, tuple)):
            lookup_terms = [v for v in val if v is not None]
        elif isinstance(val, str) and field == text_col:
            lookup_terms = sorted(
                {t for t in re.split(r"[^a-z0-9]+", val.lower()) if t}
            )
        else:
            lookup_terms = [val]
        if not lookup_terms:
            cond = F.lit(False)
        elif field == text_col:
            cond = F.arrays_overlap(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                F.array(*[F.lit(t) for t in lookup_terms]),
            )
        else:
            cond = F.col(field).isin(lookup_terms)
        out = docs.filter(cond).select(
            F.col(id_col),
            F.lit(1.0).alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind in ("range", "terms"):
        # metadata membership queries: constant score (ES filter-ish
        # shapes used standalone), deterministic id order
        cond = _meta_condition(dsl)
        out = docs.filter(cond).select(
            F.col(id_col),
            F.lit(1.0).alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind == "match_all":
        out = docs.select(
            F.col(id_col),
            F.lit(1.0).alias("score"),  # ES constant score
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind in ("term", "match", "bool") and index_tables and {
        "tokens", "dl"
    } <= set(index_tables):
        # indexed serving FIRST: flat single-token term/match/bool
        # bodies must reach the token index before the ad-hoc
        # term/match branches below can swallow them (checking after
        # those branches made the index route unreachable for the
        # commonest Discover shapes — the r15 dead-route defect)
        routed = _indexed_flat_route(
            docs, dsl, index_tables, id_col=id_col, top_k=top_k
        )
        if routed is not None:
            return routed
    if kind in ("term", "match_phrase"):
        return clause_search(docs, should=_leaf_clauses(dsl), **common)
    if kind == "match":
        clauses = _leaf_clauses(dsl)
        if _match_operator(dsl) == "and":
            return clause_search(docs, must=clauses, **common)
        return clause_search(docs, should=clauses, **common)
    if kind == "bool":
        def items_of(key):
            v = body.get(key, [])
            return v if isinstance(v, list) else [v]

        # query_string leaves inside a bool (the Kibana Discover
        # request shape: DQL bar + filter pills in one body) compile
        # inline to their ES trees and re-dispatch (operators/
        # lucene.py:inline_query_strings; multi-term shapes are
        # reasoned-rejected there — expansion needs the top-level
        # route)
        def _has_qs(node):
            k2, b2 = next(iter(node.items()))
            if k2 == "query_string":
                return True
            if k2 == "bool":
                return any(
                    _has_qs(n)
                    for r in ("must", "should", "must_not", "filter")
                    for n in (
                        b2.get(r, []) if isinstance(b2.get(r, []), list)
                        else [b2[r]]
                    )
                )
            return False

        if _has_qs(dsl):
            from aws_dms_cdc_data_pipeline_spark.operators.lucene import (
                inline_query_strings,
            )

            return execute_search_dsl(
                docs, inline_query_strings(dsl, text_col=text_col),
                text_col=text_col, id_col=id_col, top_k=top_k,
                index_tables=index_tables,
            )

        # nested bool sub-queries AND multi-term match leaves route
        # to the recursive tree executor (any depth, same single-pass
        # machinery). A multi-term match inside a bool is ES-desugared
        # there to ONE child of its role (or -> should/msm=1,
        # and -> must); flattening it into one flat clause per term
        # turned or-matches into AND and miscounted
        # minimum_should_match (r15 ADVICE).
        def _needs_tree(n, role):
            k2 = next(iter(n))
            if k2 == "bool":
                return True
            if k2 in ("range", "terms", "exists") and role != "filter":
                # metadata leaf in a SCORING role (e.g. `lang:en OR
                # merge` from the query_string compiler, or a direct
                # ES body): only the tree executor carries
                # membership-only meta children outside filter
                # context
                return True
            return k2 == "match" and len(_leaf_clauses(n)) > 1

        if any(
            _needs_tree(n, role)
            for role in ("must", "should", "must_not", "filter")
            for n in items_of(role)
        ):
            return bool_tree_search(
                docs, dsl, text_col=text_col, id_col=id_col,
                top_k=top_k,
            )

        def many(key):
            items = body.get(key, [])
            items = items if isinstance(items, list) else [items]
            return [c for node in items for c in _leaf_clauses(node)]

        # filter context splits into text clauses (term/match_phrase
        # -> presence columns) and METADATA leaves (range/terms/
        # exists -> one boolean Column ANDed into membership; BM25
        # stats stay corpus-wide, the ES filter-context contract)
        flt_nodes = body.get("filter", [])
        flt_nodes = (
            flt_nodes if isinstance(flt_nodes, list) else [flt_nodes]
        )
        text_flt, meta_cond = [], None
        for node in flt_nodes:
            cond = _meta_condition(node)
            if cond is not None:
                meta_cond = (
                    cond if meta_cond is None else meta_cond & cond
                )
            else:
                text_flt.extend(_leaf_clauses(node))
        return clause_search(
            docs,
            must=many("must"),
            should=many("should"),
            must_not=many("must_not"),
            filters=text_flt,
            extra_filter=meta_cond,
            minimum_should_match=body.get("minimum_should_match"),
            **common,
        )
    if kind == "simple_query_string":
        from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
            simple_query_string,
        )

        return simple_query_string(
            docs,
            body["query"],
            default_operator=body.get("default_operator", "or"),
            **common,
        )
    if kind == "query_string":
        # the Discover query bar's default language (Lucene
        # query_string / Kibana DQL) — operators/lucene.py
        from aws_dms_cdc_data_pipeline_spark.operators.lucene import (
            query_string_search,
        )

        qs = body["query"] if isinstance(body, dict) else body
        kwargs = {}
        if isinstance(body, dict):
            unknown = set(body) - {
                "query", "default_operator", "max_expansions",
            }
            if unknown:
                # never silently drop a semantic option (the r15
                # dead-route lesson applied to options): fields /
                # boost / analyzer etc. would change results
                raise ValueError(
                    f"query_string options {sorted(unknown)} are not "
                    "supported (supported: query, default_operator, "
                    "max_expansions; fielded search is spelled "
                    "field:value inside the query itself)"
                )
            if "default_operator" in body:
                kwargs["default_operator"] = (
                    body["default_operator"].lower()
                )
            if "max_expansions" in body:
                kwargs["max_expansions"] = int(body["max_expansions"])
        return query_string_search(docs, qs, **common, **kwargs)
    if kind == "dis_max":
        from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
            dis_max_search,
        )

        # each sub-query is ONE dis_max group: a multi-term match
        # sums its term contributions WITHIN the group (ES bool-sum
        # inside the sub-query) and the max runs across groups
        groups = [
            [" ".join(c) for c in _leaf_clauses(sub)]
            for sub in body["queries"]
        ]
        return dis_max_search(
            docs,
            None,
            groups=groups,
            tie_breaker=float(body.get("tie_breaker", 0.0)),
            **common,
        )
    if kind == "percolate":
        # the ES percolate QUERY — "which stored queries match this
        # document", the search-time dual of the streaming
        # percolator (streaming/percolate.py). The standing-query
        # list arrives via index_tables[field] (the ES `field` names
        # where queries are indexed); the document comes inline
        # (`document` / `documents`, slot = list index — the ES
        # _percolator_document_slot) or fetched from a relation by
        # id (`index`/`id`, also via index_tables — the ES stored-
        # document form). Matching reuses percolate()'s single-pass
        # batch machinery (one tokenize, corpus work independent of
        # query count); hits are the stored queries, constant score
        # 1.0 (documented simplification of ES's per-query
        # relevance), n_matches as the engine diagnostic.
        from aws_dms_cdc_data_pipeline_spark.streaming.percolate import (
            percolate,
        )

        field = body.get("field", "query")
        if not index_tables or field not in index_tables:
            raise ValueError(
                f"percolate field {field!r}: pass the standing-query "
                "list via index_tables={field: [standing dicts]} "
                "(dsl_to_standing converts ES bodies)"
            )
        standing = index_tables[field]
        spark = docs.sparkSession
        if "index" in body or "id" in body:
            for k in ("index", "id"):
                if k not in body:
                    raise ValueError(
                        "stored-document percolate needs BOTH index "
                        "and id"
                    )
            if body["index"] not in index_tables:
                raise ValueError(
                    f"percolate index {body['index']!r}: pass the "
                    "document relation via index_tables"
                )
            batch = (
                index_tables[body["index"]]
                .filter(F.col(id_col) == F.lit(body["id"]))
                .select(
                    F.lit(0).cast("long").alias(id_col),
                    F.col(text_col),
                )
            )
        else:
            inline = body.get("documents")
            if inline is None and "document" in body:
                inline = [body["document"]]
            if not inline:
                raise ValueError(
                    "percolate needs document / documents inline or "
                    "index+id"
                )
            rows = [(i, d.get(text_col)) for i, d in enumerate(inline)]
            if any(t is None for _, t in rows):
                raise ValueError(
                    f"every percolate document needs the {text_col!r} "
                    "field"
                )
            batch = _local_relation(
                spark, rows, f"{id_col} long, {text_col} string"
            )
        out = percolate(
            batch, standing, text_col=text_col, id_col=id_col
        ).select(
            F.col("query_id"),
            F.col(id_col).alias("slot"),
            F.lit(1.0).alias("score"),
            F.col("n_matches"),
        ).orderBy(F.col("query_id").asc(), F.col("slot").asc())
        return out if top_k is None else out.limit(top_k)
    if kind == "script_score":
        # custom-ranking escape hatch: rescore an inner query's
        # UNCUT hit relation with a restricted Painless arithmetic
        # script (operators/painless.py for the grammar and the
        # cross-engine determinism stance). Inner queries follow the
        # aggs-scope contract — they must support top_k=None.
        from aws_dms_cdc_data_pipeline_spark.operators.painless import (
            script_score_search,
        )

        inner = body["query"]
        ik = next(iter(inner)) if len(inner) == 1 else None
        if ik not in _UNCUT_KINDS:
            raise ValueError(
                f"script_score needs an uncut inner hit relation; "
                f"query type {ik!r} is not supported (supported: "
                f"{_UNCUT_KINDS})"
            )
        hits = execute_search_dsl(
            docs, inner, text_col=text_col, id_col=id_col,
            top_k=None, index_tables=index_tables,
        )
        script = body["script"]
        return script_score_search(
            docs,
            hits,
            script["source"],
            params=script.get("params"),
            min_score=body.get("min_score"),
            id_col=id_col,
            top_k=top_k,
        )
    if kind == "function_score":
        if "functions" in body:
            # decay functions (gauss|exp|linear over a date field):
            # the recency-ranking shape — routes to the dedicated
            # decay operator over the full relation (match_all);
            # combining decay with a scored text query is not routed
            from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
                decay_function_score,
            )

            fns = body["functions"]
            if len(fns) != 1:
                raise ValueError("function_score routes ONE function")
            fkind, fbody = next(iter(fns[0].items()))
            if fkind not in ("gauss", "exp", "linear"):
                raise ValueError(
                    f"unsupported function_score function {fkind!r}"
                )
            inner = body.get("query", {"match_all": {}})
            if next(iter(inner)) != "match_all":
                raise ValueError(
                    "decay function_score routes match_all queries "
                    "(the operator ranks the whole relation by "
                    "recency); filter first, then rank"
                )
            ((field_, spec),) = fbody.items()
            return decay_function_score(
                docs,
                date_col=field_,
                origin=spec["origin"],
                scale_seconds=_interval_seconds(spec["scale"]),
                offset_seconds=(
                    _interval_seconds(spec["offset"])
                    if "offset" in spec else 0
                ),
                decay=float(spec.get("decay", 0.5)),
                kind=fkind,
                id_col=id_col,
                top_k=top_k if top_k is not None else (1 << 31) - 1,
            )
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            function_score,
        )

        fvf = body["field_value_factor"]
        terms = _match_terms(body["query"], "function_score")
        return function_score(
            docs,
            terms,
            field_col=fvf["field"],
            factor=float(fvf.get("factor", 1.0)),
            modifier=fvf.get("modifier", "none"),
            missing=float(fvf.get("missing", 1.0)),
            boost_mode=body.get("boost_mode", "multiply"),
            **common,
        )
    if kind == "rank_feature":
        from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
            rank_feature_search,
        )

        terms = _match_terms(body["query"], "rank_feature")
        return rank_feature_search(
            docs,
            terms,
            feature_col=body["field"],
            pivot=float(body["saturation"]["pivot"]),
            boost=float(body.get("boost", 1.0)),
            **common,
        )
    if kind == "pinned":
        from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
            pinned_search,
        )

        terms = _match_terms(body["organic"], "pinned organic")
        return pinned_search(
            docs, terms, pinned_ids=[int(i) for i in body["ids"]], **common
        )
    if kind == "boosting":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            boosting_search,
        )

        return boosting_search(
            docs,
            _match_terms(body["positive"], "boosting positive"),
            _match_terms(body["negative"], "boosting negative"),
            negative_boost=float(body.get("negative_boost", 0.5)),
            **common,
        )
    if kind == "span_first":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            span_first,
        )

        term = _span_term(body["match"], "span_first match")
        out = span_first(
            docs, term, end=int(body["end"]),
            text_col=text_col, id_col=id_col,
        )
        return out if top_k is None else out.limit(top_k)
    if kind == "span_not":
        from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
            span_not_search,
        )

        return span_not_search(
            docs,
            _span_term(body["include"], "span_not include"),
            _span_term(body["exclude"], "span_not exclude"),
            pre=int(body.get("pre", 0)),
            post=int(body.get("post", 0)),
            text_col=text_col,
            id_col=id_col,
            top_k=top_k if top_k is not None else (1 << 31) - 1,
        )
    if kind == "terms_set":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            terms_set_search,
        )

        if not index_tables or "tokens" not in index_tables:
            raise ValueError(
                "terms_set routing needs index_tables={'tokens': ...} "
                "(the materialized token index — ensure_token_index)"
            )
        ((_field, spec),) = body.items()
        terms = [
            t for v in spec["terms"]
            for t in _TOKEN_RE.findall(str(v).lower())
        ]
        msm = spec.get("minimum_should_match_field") or spec.get(
            "minimum_should_match_script", {}
        ).get("source")
        if not msm:
            raise ValueError(
                "terms_set needs minimum_should_match_field or a "
                "portable-SQL minimum_should_match_script.source"
            )
        return terms_set_search(
            docs.sparkSession,
            index_tables["tokens"],
            docs,
            terms,
            msm_expr=msm,
            id_col=id_col,
            top_k=top_k if top_k is not None else (1 << 31) - 1,
        )
    if kind == "more_like_this":
        from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
            more_like_this,
        )

        if not index_tables or not {"tokens", "dl"} <= set(index_tables):
            raise ValueError(
                "more_like_this routing needs index_tables={'tokens': "
                "..., 'dl': ...} (ensure_token_index)"
            )
        like = body["like"]
        like = like[0] if isinstance(like, list) else like
        if not (isinstance(like, dict) and "_id" in like):
            raise ValueError(
                "more_like_this supports like=[{'_id': ...}] (seed-"
                "document form); free-text like is not routed"
            )
        return more_like_this(
            docs.sparkSession,
            index_tables["tokens"],
            index_tables["dl"],
            like["_id"],
            id_col=id_col,
            m_terms=int(body.get("max_query_terms", 8)),
            top_k=top_k if top_k is not None else (1 << 31) - 1,
            fwd_table=index_tables.get("fwd"),
        )
    if kind == "knn":
        from aws_dms_cdc_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
            filtered_topk,
        )

        field = body["field"]
        if field not in docs.columns:
            raise ValueError(
                f"knn field {field!r} is not a column of the passed "
                "relation — pass the table carrying the vectors"
            )
        qvec = [float(x) for x in body["query_vector"]]
        queries = _local_relation(
            docs.sparkSession,
            [(0, qvec)], "query_id long, query_vec array<double>"
        )
        kk = int(body.get("k", 10))
        flt = body.get("filter")
        kw = dict(
            k=kk, id_col=id_col, vec_col=field,
            query_id_col="query_id", query_vec_col="query_vec",
            # the query vector is ALREADY driver-side (it came in the
            # JSON body) — hand it through so the blas path skips its
            # queries.collect() job (guide §5.3)
            query_rows=[(0, qvec)],
        )
        if flt is None:
            return brute_force_topk(docs, queries, **kw)
        fkind, fbody = next(iter(flt.items()))
        if fkind != "term":
            raise ValueError(
                "knn filter supports term leaves (pre-filter "
                "semantics); got " + repr(fkind)
            )
        ((ffield, fval),) = fbody.items()
        fval = fval["value"] if isinstance(fval, dict) else fval
        return filtered_topk(
            docs, queries, F.col(ffield) == F.lit(fval), **kw
        )
    if kind == "intervals":
        # the modern ES replacement for span queries. Routed rule:
        # the two-term `match` interval — {"intervals": {field:
        # {"match": {"query": "a b", "max_gaps": N, "ordered":
        # bool}}}} — compiles onto the proximity operator with
        # slop = max_gaps + 1 (max_gaps counts positions BETWEEN the
        # terms; slop is the position distance; ES default
        # max_gaps=-1 = unlimited). Other rules are reasoned
        # rejections naming the serving alternative.
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            proximity_search,
        )

        ((_field, rules),) = body.items()
        rkind = next(iter(rules)) if len(rules) == 1 else None
        if rkind != "match":
            raise ValueError(
                f"intervals rule {rkind!r} is not routed (match is; "
                "all_of/any_of compose via bool/span_near, "
                "prefix/wildcard/fuzzy serve from their indexed "
                "term-set operators)"
            )
        spec = rules["match"]
        terms = [
            t for t in re.split(
                r"[^a-z0-9]+", str(spec.get("query", "")).lower()
            ) if t
        ]
        if len(terms) == 1:
            raise ValueError(
                "single-term intervals match is the term query"
            )
        if len(terms) != 2:
            raise ValueError(
                "intervals match routes TWO analyzed terms (the "
                "proximity pair shape); an exact multi-term "
                "sequence is the match_phrase query"
            )
        max_gaps = int(spec.get("max_gaps", -1))
        slop = (1 << 30) if max_gaps < 0 else max_gaps + 1
        out = proximity_search(
            docs, terms[0], terms[1],
            slop=slop,
            in_order=bool(spec.get("ordered", False)),
            text_col=text_col, id_col=id_col,
        )
        return out if top_k is None else out.limit(top_k)
    if kind == "span_near":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            proximity_search,
        )

        clauses = body["clauses"]
        if len(clauses) != 2:
            raise ValueError(
                "span_near routes two span_term clauses (the "
                "proximity operator's pair shape); got "
                f"{len(clauses)}"
            )
        a = _span_term(clauses[0], "span_near clause")
        b_ = _span_term(clauses[1], "span_near clause")
        out = proximity_search(
            docs, a, b_,
            # ES SpanNearQueryBuilder defaults: slop=0, in_order=true
            slop=int(body.get("slop", 0)),
            in_order=bool(body.get("in_order", True)),
            text_col=text_col, id_col=id_col,
        )
        return out if top_k is None else out.limit(top_k)
    if kind in ("wildcard", "fuzzy", "regexp", "prefix"):
        if not index_tables or "tokens" not in index_tables:
            raise ValueError(
                f"{kind} routing needs index_tables={{'tokens': ...}} "
                "(the materialized token index — ensure_token_index)"
            )
        spark = docs.sparkSession
        idx = index_tables["tokens"]
        ((_field, spec),) = body.items()
        val = spec["value"] if isinstance(spec, dict) else spec
        kk = top_k if top_k is not None else (1 << 31) - 1
        if kind in ("wildcard", "prefix"):
            from aws_dms_cdc_data_pipeline_spark.operators.search import (
                wildcard_search,
            )

            # prefix IS the trailing-star wildcard (ES PrefixQuery =
            # Lucene's same term-dictionary walk); reject embedded
            # wildcard metacharacters in a prefix value
            pat = str(val)
            if kind == "prefix":
                if "*" in pat or "?" in pat:
                    raise ValueError(
                        "prefix value must be a literal (use "
                        "wildcard for patterns)"
                    )
                pat = pat + "*"
            return wildcard_search(
                spark, idx, pat, id_col=id_col, top_k=kk
            )
        if kind == "regexp":
            from aws_dms_cdc_data_pipeline_spark.operators.search import (
                regexp_search,
            )

            return regexp_search(
                spark, idx, str(val), id_col=id_col, top_k=kk
            )
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            fuzzy_search,
        )

        kw = {}
        if isinstance(spec, dict):
            if "fuzziness" in spec:
                kw["fuzziness"] = int(spec["fuzziness"])
            if "prefix_length" in spec:
                kw["prefix_length"] = int(spec["prefix_length"])
            if "max_expansions" in spec:
                kw["max_expansions"] = int(spec["max_expansions"])
        return fuzzy_search(
            spark, idx, str(val), id_col=id_col, top_k=kk, **kw
        )
    if kind == "match_phrase_prefix":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            match_phrase_prefix,
        )

        if not index_tables or "positions" not in index_tables:
            raise ValueError(
                "match_phrase_prefix routing needs index_tables="
                "{'positions': ...} (ensure_position_index)"
            )
        ((_field, spec),) = body.items()
        q = spec["query"] if isinstance(spec, dict) else spec
        kw = {}
        if isinstance(spec, dict) and "max_expansions" in spec:
            kw["max_expansions"] = int(spec["max_expansions"])
        out = match_phrase_prefix(
            docs.sparkSession, index_tables["positions"], str(q),
            id_col=id_col, **kw,
        )
        return out if top_k is None else out.limit(top_k)
    if kind == "multi_match":
        from aws_dms_cdc_data_pipeline_spark.operators.search import (
            multi_match,
        )

        terms = _TOKEN_RE.findall(str(body["query"]).lower())
        if not terms:
            raise ValueError("multi_match query has no tokens")
        fields = {}
        for f_ in body["fields"]:
            name, _, boost = str(f_).partition("^")
            fields[name] = float(boost) if boost else 1.0
        mode = body.get("type", "best_fields")
        return multi_match(
            docs, terms, fields,
            mode=mode,
            tie_breaker=float(body.get("tie_breaker", 0.0)),
            id_col=id_col, top_k=top_k if top_k is not None
            else (1 << 31) - 1,
        )
    if kind == "constant_score":
        # constant_score: the inner filter decides MEMBERSHIP only;
        # every hit scores exactly `boost` (the ES FILTER-CONTEXT
        # wrapper — BM25 never runs). The inner query executes UNCUT
        # through this same dispatcher, so any filterable shape
        # (term/match/bool/range/terms/exists/...) is accepted.
        inner = body.get("filter")
        if not isinstance(inner, dict) or len(inner) != 1:
            raise ValueError(
                "constant_score needs a single-key filter query"
            )
        boost = float(body.get("boost", 1.0))
        members = execute_search_dsl(
            docs, inner, text_col=text_col, id_col=id_col,
            top_k=None, index_tables=index_tables,
        ).select(id_col)
        out = members.select(
            F.col(id_col),
            F.lit(boost).alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        )
        if top_k is None:
            return out
        # all scores equal -> deterministic id order (the ES
        # tie-break this engine ships everywhere)
        return out.orderBy(F.col(id_col).asc()).limit(top_k)
    if kind == "hybrid":
        # OpenSearch 2.x hybrid query (the neural-search plugin's
        # compound shape): each sub-query runs independently, scores
        # min_max-normalize WITHIN each leg, and legs combine as the
        # weighted arithmetic mean — the search-pipeline
        # normalization-processor defaults (min_max +
        # arithmetic_mean). The pipeline config is out-of-band in
        # OpenSearch; its combination weights ride the body as
        # "weights" here (the routable form). Rank-based fusion
        # stays the rrf retriever / knn+rank request shapes.
        from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
            normalized_hybrid_fuse,
        )

        subqs = body.get("queries")
        if not isinstance(subqs, list) or len(subqs) < 2:
            raise ValueError(
                "hybrid needs a queries list with >= 2 sub-queries"
            )
        weights = body.get("weights")
        if weights is None:
            weights = [1.0 / len(subqs)] * len(subqs)
        if len(weights) != len(subqs):
            raise ValueError(
                "hybrid weights must match queries 1:1"
            )
        depth = int(body.get(
            "pagination_depth",
            max(top_k if top_k is not None else 10, 10),
        ))
        legs = []
        for sub in subqs:
            res = execute_search_dsl(
                docs, sub, text_col=text_col, id_col=id_col,
                top_k=depth, index_tables=index_tables,
            )
            score = "cosine" if "cosine" in res.columns else "score"
            legs.append(
                res.select(F.col(id_col), F.col(score).alias("score"))
            )
        return normalized_hybrid_fuse(
            legs, [float(w) for w in weights], id_col=id_col,
            top_k=top_k if top_k is not None else (1 << 31) - 1,
        )
    raise ValueError(f"unsupported query type {kind!r}")


def clause_search_oracle_sql(
    *,
    must: list | None = None,
    should: list | None = None,
    must_not: list | None = None,
    filters: list | None = None,
    extra_where: str | None = None,
    minimum_should_match: int | None = None,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical generalized clause search.
    ``extra_where`` mirrors clause_search's extra_filter: a SQL
    predicate over the table's other columns, ANDed into membership
    AFTER the corpus-wide stats (never into the stats themselves)."""
    must = [list(c) for c in (must or [])]
    should = [list(c) for c in (should or [])]
    must_not = [list(c) for c in (must_not or [])]
    filters = [list(c) for c in (filters or [])]
    if minimum_should_match is None:
        minimum_should_match = 0 if (must or filters) else 1
    score_terms = sorted({t for c in must + should for t in c})
    neg_only = sorted(
        {c[0] for c in must_not + filters if len(c) == 1}
        - set(score_terms)
    )
    tidx = {t: i for i, t in enumerate(score_terms)}
    nidx = {t: j for j, t in enumerate(neg_only)}
    all_clauses = must + should + must_not + filters

    def tf_sql(t: str) -> str:
        return f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT)"

    def pc_sql(terms: list[str]) -> str:
        L = len(terms)
        conds = " AND ".join(
            f"toks[i + {j}] = '{terms[j]}'" for j in range(L)
        )
        return (
            f"CASE WHEN len(toks) >= {L} THEN "
            f"CAST(len(list_filter(range(1, len(toks) - {L - 2}), "
            f"i -> {conds})) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )

    proj_cols = ["CAST(len(toks) AS BIGINT) AS dl"]
    for i, t in enumerate(score_terms):
        proj_cols.append(f"{tf_sql(t)} AS _tf{i}")
    for j, t in enumerate(neg_only):
        proj_cols.append(f"{tf_sql(t)} AS _ntf{j}")
    for ci, terms in enumerate(all_clauses):
        if len(terms) > 1:
            proj_cols.append(f"{pc_sql(terms)} AS _pc{ci}")
    stats_cols = [
        "CAST(SUM(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs",
        "CAST(SUM(dl) AS BIGINT) AS total_dl",
    ]
    for i in range(len(score_terms)):
        stats_cols.append(
            f"CAST(SUM(CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS _df{i}"
        )

    def idf_expr(t: str) -> str:
        i = tidx[t]
        return f"((s.n_docs - s._df{i} + 0.5) / (s._df{i} + 0.5))"

    contribs, hits = [], []
    for ci, terms in enumerate(all_clauses[: len(must) + len(should)]):
        if len(terms) == 1:
            tf = f"p._tf{tidx[terms[0]]}"
            idf = idf_expr(terms[0])
        else:
            tf = f"p._pc{ci}"
            idf = " + ".join(idf_expr(t) for t in terms)
        tf_part = (
            f"(({tf}) * ({k1} + 1)) / (({tf}) + {k1} * ((1 - {b}) "
            f"+ {b} * p.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))"
        )
        contribs.append(
            f"CASE WHEN ({tf}) > 0 THEN CAST(round(({idf}) * ({tf_part}) "
            f"* 1000000, 0) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
        hits.append(f"(({tf}) > 0)")
    total = (
        " + ".join(f"({c})" for c in contribs)
        if contribs else "CAST(0 AS BIGINT)"
    )
    n_hit = (
        " + ".join(f"CAST({h} AS BIGINT)" for h in hits)
        if hits else "CAST(0 AS BIGINT)"
    )
    must_member = (
        " AND ".join(hits[: len(must)]) if must else "TRUE"
    )
    should_hits = (
        " + ".join(
            f"CAST({h} AS BIGINT)" for h in hits[len(must):]
        )
        if should
        else "0"
    )
    excls = []
    for off, terms in enumerate(must_not):
        ci = len(must) + len(should) + off
        if len(terms) == 1:
            t = terms[0]
            col = f"p._tf{tidx[t]}" if t in tidx else f"p._ntf{nidx[t]}"
            excls.append(f"({col} > 0)")
        else:
            excls.append(f"(p._pc{ci} > 0)")
    not_excl = f"NOT ({' OR '.join(excls)})" if excls else "TRUE"
    # filter context: required presence, no score contribution
    flt_hits = []
    for off, terms in enumerate(filters):
        ci = len(must) + len(should) + len(must_not) + off
        if len(terms) == 1:
            t = terms[0]
            col = f"p._tf{tidx[t]}" if t in tidx else f"p._ntf{nidx[t]}"
            flt_hits.append(f"({col} > 0)")
        else:
            flt_hits.append(f"(p._pc{ci} > 0)")
    flt_member = " AND ".join(flt_hits) if flt_hits else "TRUE"
    meta_sel = (
        f", COALESCE(CAST(({extra_where}) AS BOOLEAN), FALSE) AS _meta_ok"
        if extra_where else ""
    )
    meta_proj = ", _meta_ok" if extra_where else ""
    meta_member = "p._meta_ok" if extra_where else "TRUE"
    return f"""
    WITH tokarr AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower({text_col}),
                           '[^a-z0-9]+'), x -> x <> '') AS toks{meta_sel}
        FROM {table}
    ),
    p AS (SELECT {id_col}{meta_proj}, {', '.join(proj_cols)} FROM tokarr),
    s AS (SELECT {', '.join(stats_cols)} FROM p)
    SELECT p.{id_col},
           CAST(CAST({total} AS DECIMAL(38,0)) / 1000000 AS DOUBLE)
               AS score,
           CAST({n_hit} AS BIGINT) AS n_clauses_hit
    FROM p CROSS JOIN s
    WHERE ({must_member}) AND (({should_hits}) >= {minimum_should_match})
          AND {not_excl} AND ({flt_member}) AND ({meta_member})
    ORDER BY score DESC, p.{id_col} ASC
    LIMIT {top_k}
    """




# --------------------------------------------------------------------
# Recursive bool trees — nested bool at ANY depth, still single-pass.
# The clause executor's machinery already yields per-leaf hit/score
# columns off one shared tokenize; a nested bool is just a recursive
# member/score EXPRESSION over those columns, so the plan stays one
# projection + one 1-row stats collect + one filter, no matter how
# deep the JSON nests (where ES walks a query tree per document, the
# whole tree compiles into whole-stage-codegen'd column algebra).
# --------------------------------------------------------------------


def _parse_bool_tree(node: dict):
    """JSON query node → internal tree: ("clause", terms) leaves,
    ("meta", json) leaves, ("bool", must, should, must_not, f_text,
    f_meta, msm) internal nodes. match desugars to its ES bool form
    (or → should/msm=1, and → must) so scoring is sum-of-hitting-
    terms exactly like the flat executor."""
    kind = next(iter(node))
    if kind == "bool":
        b = node["bool"]

        def lst(key):
            v = b.get(key, [])
            return v if isinstance(v, list) else [v]

        def child(n):
            # metadata leaves (range / terms / exists) are legal in
            # ANY role, not just filter context: membership follows
            # the predicate, score contribution is 0 (the engine's
            # Kibana-filter semantic — metadata never changes BM25
            # stats or scores; the query_string compiler relies on
            # this for `lang:en OR merge` shapes)
            if next(iter(n)) in ("range", "terms", "exists"):
                return ("metaleaf", n)
            return _parse_bool_tree(n)

        must = [child(n) for n in lst("must")]
        should = [child(n) for n in lst("should")]
        must_not = [child(n) for n in lst("must_not")]
        f_text, f_meta = [], []
        for n in lst("filter"):
            if next(iter(n)) in ("range", "terms", "exists"):
                f_meta.append(n)
            else:
                f_text.append(_parse_bool_tree(n))
        return ("bool", must, should, must_not, f_text, f_meta,
                b.get("minimum_should_match"))
    if kind in ("term", "match", "match_phrase"):
        clauses = _leaf_clauses(node)
        if kind == "match" and len(clauses) > 1:
            leaves = [("clause", c) for c in clauses]
            if _match_operator(node) == "and":
                return ("bool", leaves, [], [], [], [], None)
            return ("bool", [], leaves, [], [], [], 1)
        return ("clause", clauses[0])
    raise ValueError(
        f"query type {kind!r} is not supported inside a bool tree "
        "(term / match / match_phrase / bool / range / terms / exists)"
    )


def _tree_leaves(tree, clauses, metas):
    """Collect clause and meta leaves in deterministic walk order."""
    if tree[0] == "clause":
        clauses.append(tree[1])
        return
    if tree[0] == "metaleaf":
        metas.append(tree[1])
        return
    _, must, should, must_not, f_text, f_meta, _msm = tree
    for ch in must + should + must_not + f_text:
        _tree_leaves(ch, clauses, metas)
    metas.extend(f_meta)


def bool_tree_search(
    docs: DataFrame,
    dsl: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Execute a bool query with NESTED bool sub-queries (any depth)
    in one pass. ES semantics per node: must all match (scores sum),
    should ≥ minimum_should_match match (hitting scores sum; msm
    defaults 0-with-must/filter, 1 otherwise), must_not none match,
    filter matches without scoring (text leaves and range/terms/
    exists metadata leaves). A nested bool contributes its summed
    score when it matches, nothing otherwise. BM25 stats are
    corpus-wide. Returns (id, score, n_clauses_hit) — n_clauses_hit
    counts TOP-LEVEL must/should children hit."""
    tree = _parse_bool_tree(dsl)
    leaf_clauses: list[list[str]] = []
    meta_nodes: list[dict] = []
    _tree_leaves(tree, leaf_clauses, meta_nodes)
    if not leaf_clauses and not meta_nodes:
        raise ValueError("bool tree has no leaves")
    score_terms = sorted({t for c in leaf_clauses for t in c})

    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    base_cols = [F.col(id_col), F.col(text_col)]
    for j, mnode in enumerate(meta_nodes):
        base_cols.append(
            F.coalesce(
                _meta_condition(mnode).cast("boolean"), F.lit(False)
            ).alias(f"_m{j}")
        )
    mcols = [F.col(f"_m{j}") for j in range(len(meta_nodes))]
    toks = fan_out_scan(docs.select(*base_cols)).select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        ).alias("_toks"),
        *mcols,
    )
    # Projection and scoring tree are built as SQL STRINGS: the
    # per-term/per-clause Python-DSL loops cost ~1 ms of py4j round
    # trips per expression node, which for expanded trees (wildcard
    # rewrites, multi_match) dominated the query wall at bench scale
    # (profiled r17 — driver build was half the total; guide §7.3
    # planning-cost class). The strings parse to the identical
    # resolved expressions (verified against every oracle-gated DSL
    # query).
    cols = [
        "cast(size(_toks) as long) AS dl",
        *[f"_m{j}" for j in range(len(meta_nodes))],
    ]
    for i, t in enumerate(score_terms):
        cols.append(
            f"cast(size(filter(_toks, x -> x = '{_sql_str(t)}')) "
            f"as long) AS _tf{i}"
        )
    for ci, terms in enumerate(leaf_clauses):
        if len(terms) > 1:
            cols.append(f"{_phrase_count_sql('_toks', terms)} AS _pc{ci}")
    proj = toks.selectExpr(id_col, *cols).persist()

    memo_key = stats_memo_key(
        proj,
        ("dsl_tree",) + tuple(score_terms),
    )
    row = _ADHOC_STATS_MEMO.get(memo_key)
    if row is None:
        aggs = [
            F.expr("cast(sum(cast(dl > 0 as long)) as long) AS n_docs"),
            F.expr("cast(sum(dl) as long) AS total_dl"),
            *[
                F.expr(
                    f"cast(sum(cast(_tf{i} > 0 as long)) as long) AS _df{i}"
                )
                for i in range(len(score_terms))
            ],
        ]
        row = proj.agg(*aggs).collect()[0]
        if len(_ADHOC_STATS_MEMO) >= 256:
            _ADHOC_STATS_MEMO.pop(next(iter(_ADHOC_STATS_MEMO)))
        _ADHOC_STATS_MEMO[memo_key] = row
    n_docs = int(row["n_docs"] or 0)
    total_dl = int(row["total_dl"] or 0)
    if n_docs == 0:
        return proj.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).cast("long").alias("n_clauses_hit"),
        ).filter(F.lit(False))
    avgdl = total_dl / n_docs
    tidx = {t: i for i, t in enumerate(score_terms)}
    k1f, bf = float(k1), float(b)

    def idf_of(t: str) -> float:
        df_ = int(row[f"_df{tidx[t]}"] or 0)
        return (float(n_docs - df_) + 0.5) / (float(df_) + 0.5)

    zero = "0L"
    clause_iter = iter(range(len(leaf_clauses)))
    meta_iter = iter(range(len(meta_nodes)))

    def eval_node(node):
        """→ (member SQL, quantized score SQL) — strings, composed
        with zero py4j traffic; the float literals carry a D suffix
        so the parsed arithmetic is the same double chain the Column
        DSL built (repr() round-trips doubles exactly)."""
        if node[0] == "clause":
            ci = next(clause_iter)
            terms = leaf_clauses[ci]
            if len(terms) == 1:
                tf = f"_tf{tidx[terms[0]]}"
                idf = idf_of(terms[0])
            else:
                tf = f"_pc{ci}"
                idf = sum(idf_of(t) for t in terms)
            tf_part = (
                f"({tf} * {k1f + 1!r}D) / ({tf} + {k1f!r}D * "
                f"({1 - bf!r}D + {bf!r}D * dl / {avgdl!r}D))"
            )
            cq = (
                f"cast(round({idf!r}D * {tf_part} * "
                f"{float(_FP)!r}D, 0) as long)"
            )
            hit = f"({tf} > 0)"
            return hit, f"(CASE WHEN {hit} THEN {cq} ELSE 0L END)"
        if node[0] == "metaleaf":
            # metadata leaf in a scoring role: membership only
            return f"_m{next(meta_iter)}", zero
        _, must, should, must_not, f_text, f_meta, msm = node
        if msm is None:
            msm = 0 if (must or f_text or f_meta) else 1
        member = "true"
        scoreq = zero
        should_hits = zero
        for ch in must:
            m, sq = eval_node(ch)
            member = f"({member} AND {m})"
            scoreq = f"({scoreq} + (CASE WHEN {m} THEN {sq} ELSE 0L END))"
        for ch in should:
            m, sq = eval_node(ch)
            should_hits = f"({should_hits} + cast({m} as long))"
            scoreq = f"({scoreq} + (CASE WHEN {m} THEN {sq} ELSE 0L END))"
        for ch in must_not:
            m, _sq = eval_node(ch)
            member = f"({member} AND (NOT {m}))"
        for ch in f_text:
            m, _sq = eval_node(ch)
            member = f"({member} AND {m})"
        for _ in f_meta:
            member = f"({member} AND _m{next(meta_iter)})"
        member = f"({member} AND ({should_hits} >= {int(msm)}))"
        return member, scoreq

    # n_clauses_hit: top-level must/should children hit — evaluate
    # the tree ONCE (the iterators walk leaves in _tree_leaves order)
    _, t_must, t_should, t_must_not, t_ftext, t_fmeta, t_msm = tree
    if t_msm is None:
        t_msm = 0 if (t_must or t_ftext or t_fmeta) else 1
    member = "true"
    scoreq = zero
    n_hit = zero
    should_hits = zero
    for ch in t_must:
        m, sq = eval_node(ch)
        member = f"({member} AND {m})"
        scoreq = f"({scoreq} + (CASE WHEN {m} THEN {sq} ELSE 0L END))"
        n_hit = f"({n_hit} + cast({m} as long))"
    for ch in t_should:
        m, sq = eval_node(ch)
        should_hits = f"({should_hits} + cast({m} as long))"
        scoreq = f"({scoreq} + (CASE WHEN {m} THEN {sq} ELSE 0L END))"
        n_hit = f"({n_hit} + cast({m} as long))"
    for ch in t_must_not:
        m, _sq = eval_node(ch)
        member = f"({member} AND (NOT {m}))"
    for ch in t_ftext:
        m, _sq = eval_node(ch)
        member = f"({member} AND {m})"
    for _ in t_fmeta:
        member = f"({member} AND _m{next(meta_iter)})"
    member = f"({member} AND ({should_hits} >= {int(t_msm)}))"
    out = proj.filter(F.expr(member)).selectExpr(
        id_col,
        f"cast(cast(({scoreq}) as decimal(38,0)) / {_FP} as double) "
        "AS score",
        f"({n_hit}) AS n_clauses_hit",
    )
    if top_k is None:
        return out
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(
        top_k
    )


def bool_tree_oracle_sql(
    dsl: dict,
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> str:
    """DuckDB SQL computing the identical nested-bool search (same
    recursion over the same per-leaf columns)."""
    tree = _parse_bool_tree(dsl)
    leaf_clauses: list[list[str]] = []
    meta_nodes: list[dict] = []
    _tree_leaves(tree, leaf_clauses, meta_nodes)
    score_terms = sorted({t for c in leaf_clauses for t in c})
    tidx = {t: i for i, t in enumerate(score_terms)}

    def tf_sql(t: str) -> str:
        return f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT)"

    def pc_sql(terms: list[str]) -> str:
        L = len(terms)
        conds = " AND ".join(
            f"toks[i + {j}] = '{terms[j]}'" for j in range(L)
        )
        return (
            f"CASE WHEN len(toks) >= {L} THEN "
            f"CAST(len(list_filter(range(1, len(toks) - {L - 2}), "
            f"i -> {conds})) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )

    meta_sel = "".join(
        f", COALESCE(CAST(({_meta_sql(mn)}) AS BOOLEAN), FALSE) AS _m{j}"
        for j, mn in enumerate(meta_nodes)
    )
    meta_proj = "".join(f", _m{j}" for j in range(len(meta_nodes)))
    proj_cols = ["CAST(len(toks) AS BIGINT) AS dl"]
    for i, t in enumerate(score_terms):
        proj_cols.append(f"{tf_sql(t)} AS _tf{i}")
    for ci, terms in enumerate(leaf_clauses):
        if len(terms) > 1:
            proj_cols.append(f"{pc_sql(terms)} AS _pc{ci}")
    stats_cols = [
        "CAST(SUM(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs",
        "CAST(SUM(dl) AS BIGINT) AS total_dl",
    ]
    for i in range(len(score_terms)):
        stats_cols.append(
            f"CAST(SUM(CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS _df{i}"
        )

    def idf_expr(t: str) -> str:
        i = tidx[t]
        return f"((s.n_docs - s._df{i} + 0.5) / (s._df{i} + 0.5))"

    clause_iter = iter(range(len(leaf_clauses)))
    meta_iter = iter(range(len(meta_nodes)))

    def eval_node(node):
        """→ (member SQL, quantized-score SQL)."""
        if node[0] == "clause":
            ci = next(clause_iter)
            terms = leaf_clauses[ci]
            if len(terms) == 1:
                tf = f"p._tf{tidx[terms[0]]}"
                idf = idf_expr(terms[0])
            else:
                tf = f"p._pc{ci}"
                idf = " + ".join(idf_expr(t) for t in terms)
            tf_part = (
                f"(({tf}) * ({k1} + 1)) / (({tf}) + {k1} * ((1 - {b}) "
                f"+ {b} * p.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))"
            )
            cq = (
                f"CASE WHEN ({tf}) > 0 THEN CAST(round(({idf}) * "
                f"({tf_part}) * 1000000, 0) AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END"
            )
            return f"(({tf}) > 0)", cq
        if node[0] == "metaleaf":
            return f"p._m{next(meta_iter)}", "CAST(0 AS BIGINT)"
        _, must, should, must_not, f_text, f_meta, msm = node
        if msm is None:
            msm = 0 if (must or f_text or f_meta) else 1
        members, scores, shoulds = [], [], []
        for ch in must:
            m, sq = eval_node(ch)
            members.append(m)
            scores.append(f"CASE WHEN {m} THEN ({sq}) "
                          f"ELSE CAST(0 AS BIGINT) END")
        for ch in should:
            m, sq = eval_node(ch)
            shoulds.append(f"CAST({m} AS BIGINT)")
            scores.append(f"CASE WHEN {m} THEN ({sq}) "
                          f"ELSE CAST(0 AS BIGINT) END")
        for ch in must_not:
            m, _sq = eval_node(ch)
            members.append(f"(NOT {m})")
        for ch in f_text:
            m, _sq = eval_node(ch)
            members.append(m)
        for _ in f_meta:
            members.append(f"p._m{next(meta_iter)}")
        sh = " + ".join(shoulds) if shoulds else "0"
        members.append(f"(({sh}) >= {int(msm)})")
        member = "(" + " AND ".join(members) + ")"
        score = (
            "(" + " + ".join(f"({c})" for c in scores) + ")"
            if scores else "CAST(0 AS BIGINT)"
        )
        return member, score

    _, t_must, t_should, t_must_not, t_ftext, t_fmeta, t_msm = tree
    if t_msm is None:
        t_msm = 0 if (t_must or t_ftext or t_fmeta) else 1
    members, scores, shoulds, hits = [], [], [], []
    for ch in t_must:
        m, sq = eval_node(ch)
        members.append(m)
        hits.append(f"CAST({m} AS BIGINT)")
        scores.append(f"CASE WHEN {m} THEN ({sq}) "
                      f"ELSE CAST(0 AS BIGINT) END")
    for ch in t_should:
        m, sq = eval_node(ch)
        shoulds.append(f"CAST({m} AS BIGINT)")
        hits.append(f"CAST({m} AS BIGINT)")
        scores.append(f"CASE WHEN {m} THEN ({sq}) "
                      f"ELSE CAST(0 AS BIGINT) END")
    for ch in t_must_not:
        m, _sq = eval_node(ch)
        members.append(f"(NOT {m})")
    for ch in t_ftext:
        m, _sq = eval_node(ch)
        members.append(m)
    for _ in t_fmeta:
        members.append(f"p._m{next(meta_iter)}")
    sh = " + ".join(shoulds) if shoulds else "0"
    members.append(f"(({sh}) >= {int(t_msm)})")
    member = " AND ".join(members)
    total = (
        " + ".join(f"({c})" for c in scores)
        if scores else "CAST(0 AS BIGINT)"
    )
    n_hit = " + ".join(hits) if hits else "CAST(0 AS BIGINT)"
    return f"""
    WITH tokarr AS (
        SELECT {id_col},
               list_filter(string_split_regex(lower({text_col}),
                           '[^a-z0-9]+'), x -> x <> '') AS toks{meta_sel}
        FROM {table}
    ),
    p AS (SELECT {id_col}{meta_proj}, {', '.join(proj_cols)} FROM tokarr),
    s AS (SELECT {', '.join(stats_cols)} FROM p)
    SELECT p.{id_col},
           CAST(CAST({total} AS DECIMAL(38,0)) / 1000000 AS DOUBLE)
               AS score,
           CAST({n_hit} AS BIGINT) AS n_clauses_hit
    FROM p CROSS JOIN s
    WHERE {member}
    ORDER BY score DESC, p.{id_col} ASC
    LIMIT {top_k}
    """


_UNCUT_KINDS = (
    "match_all", "match", "term", "match_phrase", "bool", "ids",
    "exists", "range", "terms", "query_string",
)




def _ranked_leg(docs, retriever, *, window, text_col, id_col):
    """Evaluate one retriever to a ranked (id, rank) leg."""
    kind, rbody = next(iter(retriever.items()))
    from pyspark.sql import Window as _W

    if kind == "standard":
        hits = execute_search_dsl(
            docs, rbody["query"], text_col=text_col, id_col=id_col,
            top_k=window,
        )
        w = _W.orderBy(F.col("score").desc(), F.col(id_col).asc())
        return hits.select(
            F.col(id_col), F.row_number().over(w).alias("rank")
        )
    if kind == "knn":
        res = execute_search_dsl(
            docs, {"knn": rbody}, text_col=text_col, id_col=id_col,
            top_k=None,
        )
        return res.select(F.col(id_col), F.col("rank"))
    if kind == "rrf":
        fused = _rrf_retriever(
            docs, rbody, text_col=text_col, id_col=id_col,
            size=window,
        )
        w = _W.orderBy(F.col("score").desc(), F.col(id_col).asc())
        return fused.select(
            F.col(id_col), F.row_number().over(w).alias("rank")
        )
    raise ValueError(f"unsupported retriever type {kind!r}")


def _rrf_retriever(docs, rbody, *, text_col, id_col, size):
    from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
        rrf_fuse,
    )

    retrievers = rbody["retrievers"]
    if len(retrievers) < 2:
        raise ValueError("rrf retriever needs >= 2 child retrievers")
    window = int(rbody.get("rank_window_size", max(size, 10)))
    legs = [
        _ranked_leg(docs, r, window=window, text_col=text_col,
                    id_col=id_col)
        for r in retrievers
    ]
    fused = rrf_fuse(
        legs, id_col=id_col,
        k_const=int(rbody.get("rank_constant", 60)),
        top_k=size,
    )
    return fused.select(
        F.col(id_col), F.col("rrf_score").alias("score"), "n_legs_hit"
    )


def _retriever_request(
    docs: DataFrame,
    body: dict,
    *,
    text_col: str,
    id_col: str,
) -> tuple:
    """The ES 8.14 RETRIEVER API — compositional ranking in one JSON
    body: ``{"retriever": {"rrf": {"retrievers": [{"standard":
    {"query": ...}}, {"knn": ...}], "rank_constant": N,
    "rank_window_size": W}}, "size": k}``. standard legs rank by
    their operator scores, knn legs by exact cosine, and rrf fuses
    ANY number of legs (nested rrf recurses). Pages score-sorted;
    aggs/sort do not combine (the hybrid-body contract)."""
    for bad in ("aggs", "aggregations", "sort", "query", "knn"):
        if bad in body:
            raise ValueError(
                f"retriever bodies do not combine with {bad!r}"
            )
    size = int(body.get("size", 10))
    retriever = body["retriever"]
    kind = next(iter(retriever))
    if kind == "rrf":
        return _rrf_retriever(
            docs, retriever["rrf"], text_col=text_col,
            id_col=id_col, size=size,
        ), {}
    if kind == "standard":
        return execute_search_dsl(
            docs, retriever["standard"]["query"],
            text_col=text_col, id_col=id_col, top_k=size,
        ), {}
    if kind == "knn":
        res = execute_search_dsl(
            docs, {"knn": retriever["knn"]},
            text_col=text_col, id_col=id_col, top_k=None,
        )
        return res.select(
            F.col(id_col), F.col("cosine").alias("score")
        ).orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(
            size
        ), {}
    raise ValueError(f"unsupported retriever type {kind!r}")


def _hybrid_knn_request(
    docs: DataFrame,
    body: dict,
    *,
    text_col: str,
    id_col: str,
) -> tuple:
    """The ES 8 HYBRID search request: a top-level ``knn`` clause
    beside (or instead of) ``query``. Semantics follow ES:

    - knn only → the page is the vector result (score = cosine);
    - query + knn, no ``rank`` → scores COMBINE BY SUM per document
      (the ES default: a doc found by both legs adds its BM25 and
      its cosine — scales differ by design, exactly as ES documents);
    - query + knn + ``rank: {rrf: {...}}`` → reciprocal-rank fusion
      via the dedicated operator (E135), rank_constant /
      rank_window_size honored.

    aggs/sort/_source are not combined with hybrid bodies (reasoned
    error) — ES computes hybrid pages score-sorted; facet them with
    a follow-up ids query.
    """
    for bad in ("aggs", "aggregations", "sort", "_source"):
        if bad in body:
            raise ValueError(
                f"hybrid knn bodies do not combine with {bad!r} — "
                "page first, then run aggs over an ids query"
            )
    size = int(body.get("size", 10))
    knn = body["knn"]
    window = int(
        body.get("rank", {}).get("rrf", {}).get(
            "rank_window_size", max(size, int(knn.get("k", 10)))
        )
    )
    knn_res = execute_search_dsl(
        docs, {"knn": knn}, text_col=text_col, id_col=id_col,
        top_k=None,
    )
    if "query" not in body:
        page = (
            knn_res.select(
                F.col(id_col), F.col("cosine").alias("score")
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(size)
        )
        return page, {}
    lex = execute_search_dsl(
        docs, body["query"], text_col=text_col, id_col=id_col,
        top_k=window,
    )
    rank_spec = body.get("rank")
    if rank_spec is not None:
        from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
            rrf_fuse,
        )

        if "rrf" not in rank_spec:
            raise ValueError("rank supports the rrf method")
        from pyspark.sql import Window as _W

        w = _W.orderBy(F.col("score").desc(), F.col(id_col).asc())
        lex_ranked = lex.select(
            F.col(id_col), F.row_number().over(w).alias("rank")
        )
        knn_ranked = knn_res.select(F.col(id_col), F.col("rank"))
        fused = rrf_fuse(
            [lex_ranked, knn_ranked],
            id_col=id_col,
            k_const=int(rank_spec["rrf"].get("rank_constant", 60)),
            top_k=size,
        )
        return fused.select(
            F.col(id_col), F.col("rrf_score").alias("score"),
            "n_legs_hit",
        ), {}
    # no rank: ES sums the legs' scores per document
    lexs = lex.select(F.col(id_col), F.col("score").alias("_lex"))
    knns = knn_res.select(F.col(id_col), F.col("cosine").alias("_knn"))
    page = (
        lexs.join(knns, id_col, "full_outer")
        .select(
            F.col(id_col),
            (
                F.coalesce(F.col("_lex"), F.lit(0.0))
                + F.coalesce(F.col("_knn"), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(size)
    )
    return page, {}


def _rescore_request(
    docs: DataFrame,
    body: dict,
    *,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The search-request ``rescore`` block — OpenSearch two-phase
    ranking from JSON: the base ``query`` (flat term/match — the
    loose retriever) ranks everything, then only the top
    ``window_size`` hits re-rank by ``query_weight · base +
    rescore_query_weight · phrase_score`` where ``rescore_query`` is
    a match_phrase (the precise re-ranker). Routes to
    :func:`...querystring.rescore_search` — bit-identical to the
    direct call. ES defaults honored: window_size 10, query_weight
    1.0, rescore_query_weight 1.0."""
    for bad in ("aggs", "aggregations", "sort"):
        if bad in body:
            raise ValueError(
                f"rescore bodies do not combine with {bad!r} — the "
                "rescored page is score-sorted"
            )
    rs = body["rescore"]
    if isinstance(rs, list):
        if len(rs) != 1:
            raise ValueError(
                "one rescore stage is routed (ES chains are rare "
                "and each stage re-cuts the window — compose "
                "rescore_search calls directly for chains)"
            )
        rs = rs[0]
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    if from_ < 0:
        raise ValueError("from must be >= 0")
    rq = rs["query"]
    resq = rq["rescore_query"]
    if next(iter(resq)) != "match_phrase":
        raise ValueError(
            "rescore_query routes match_phrase bodies (the Lucene "
            "phrase re-ranker); other shapes compose "
            "rescore_search directly"
        )
    ((_f, spec),) = resq["match_phrase"].items()
    phrase = spec["query"] if isinstance(spec, dict) else spec
    base = body.get("query")
    if base is None or next(iter(base)) not in ("term", "match"):
        raise ValueError(
            "the rescore base query routes flat term/match bodies "
            "(the loose first-phase retriever)"
        )
    terms = [c[0] for c in _leaf_clauses(base)]
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        rescore_search,
    )

    page = rescore_search(
        docs, terms, str(phrase),
        window_size=int(rs.get("window_size", 10)),
        query_weight=float(rq.get("query_weight", 1.0)),
        rescore_weight=float(rq.get("rescore_query_weight", 1.0)),
        text_col=text_col, id_col=id_col, top_k=from_ + size,
    )
    return page.offset(from_) if from_ else page


def execute_explain_request(
    docs: DataFrame,
    doc_id,
    body: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``_explain`` endpoint — ``GET /<index>/_explain/<id>``
    with a query body: the per-(query, document) scoring breakdown.
    Flat term/match bodies route to
    :func:`...querystring.bm25_explain` (one row per query term:
    tf, df, idf, saturated tf component, quantized contribution,
    and the document's total score on every row — the explain
    envelope). Other query shapes raise a reasoned error."""
    query = body["query"]
    kind = next(iter(query))
    if kind not in ("term", "match"):
        raise ValueError(
            "_explain routes flat term/match bodies (the per-term "
            "BM25 breakdown); compound shapes have no per-term "
            "envelope here"
        )
    terms = [c[0] for c in _leaf_clauses(query)]
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        bm25_explain,
    )

    return bm25_explain(
        docs, terms, doc_id, text_col=text_col, id_col=id_col
    )


def execute_search_request(
    docs: DataFrame,
    body: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_tables: dict | None = None,
) -> tuple:
    """Execute a complete OpenSearch search REQUEST body — the full
    switch-over call: ``{"query": ..., "aggs": ..., "size": ...,
    "sort": ..., "_source": [...]}`` → ``(hits_page, aggs_results)``.

    ES semantics honored exactly:

    - aggregations run over the FULL query hit set (``size`` only
      cuts the returned page) — so aggs require a query shape the
      engine can evaluate uncut (match_all / match / term /
      match_phrase / bool); the scored-top-k shapes
      (simple_query_string, dis_max, …) work query-only.
    - ``sort`` is a list of ``{field: {"order": ...}}`` entries or
      the string ``"_score"`` (the default: score DESC, id ASC —
      every sort closes with the id for determinism). Sort fields
      and ``_source`` columns resolve from the document relation via
      one id join of the already-cut page (or pre-cut relation for
      field sorts).
    - ``_source`` selects the returned document columns; the page
      always carries (id, score).
    - ``from`` pages by offset (top-k shapes cut at from+size).
    - a top-level ``knn`` clause makes the body HYBRID (sum combine
      or rank.rrf — :func:`_hybrid_knn_request`); a ``retriever``
      body routes to the ES 8.14 compositional-ranking API
      (:func:`_retriever_request`).

    Returns ``(page_df, {agg_name: DataFrame})`` — the aggs dict is
    empty when the body has no aggs.
    """
    if "retriever" in body:
        return _retriever_request(
            docs, body, text_col=text_col, id_col=id_col
        )
    if "knn" in body:
        return _hybrid_knn_request(
            docs, body, text_col=text_col, id_col=id_col
        )
    if "rescore" in body:
        return _rescore_request(
            docs, body, text_col=text_col, id_col=id_col
        ), {}
    if body.get("explain"):
        raise ValueError(
            "per-hit explain is not routed from _search — use "
            "execute_explain_request(docs, doc_id, body), the "
            "_explain endpoint form"
        )
    rtm = body.get("runtime_mappings") or {}
    if rtm:
        # ES runtime fields: script-computed columns defined in the
        # request and usable everywhere downstream — query metadata
        # leaves (range/terms/exists), sort, _source, aggs. The
        # script is the same restricted-Painless grammar as
        # script_score (operators/painless.py) minus _score (not
        # defined at mapping time, the ES contract). A runtime field
        # SHADOWS an index field of the same name (ES semantics —
        # withColumn replaces). type long floors (documented: Spark
        # double→long truncation vs DuckDB rounding makes a bare
        # cast non-portable; ES's long runtime fields floor too).
        from aws_dms_cdc_data_pipeline_spark.operators.painless import (
            parse_script,
            to_column,
            uses_score,
        )

        for name, spec in rtm.items():
            ftype = spec.get("type", "double")
            if ftype not in ("double", "long"):
                raise ValueError(
                    f"runtime field {name!r}: type must be double or "
                    f"long (got {ftype!r})"
                )
            script = spec.get("script")
            if not script or "source" not in script:
                raise ValueError(
                    f"runtime field {name!r} needs a script.source"
                )
            ast = parse_script(script["source"], script.get("params"))
            if uses_score(ast):
                raise ValueError(
                    f"runtime field {name!r}: _score is not defined "
                    "at mapping time (use script_score to rescore)"
                )
            col = to_column(ast)
            if ftype == "long":
                col = F.floor(col).cast("long")
            docs = docs.withColumn(name, col)
    query = body.get("query", {"match_all": {}})
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))
    if from_ < 0:
        raise ValueError("from must be >= 0")
    aggs = body.get("aggs") or body.get("aggregations") or {}
    kind = next(iter(query)) if len(query) == 1 else None
    sort_spec = body.get("sort", "_score")
    wants_uncut = bool(aggs) or (
        "sort" in body and sort_spec not in ("_score", ["_score"])
    )
    if wants_uncut and kind not in _UNCUT_KINDS:
        raise ValueError(
            f"aggs/sort need an uncut hit relation; query type "
            f"{kind!r} supports query-only bodies (supported with "
            f"{_UNCUT_KINDS})"
        )
    if wants_uncut:
        hits = execute_search_dsl(
            docs, query, text_col=text_col, id_col=id_col, top_k=None,
            index_tables=index_tables,
        )
    else:
        # offset paging: the top-k shapes cut at from+size, then the
        # page slices the cut (ES from/size — deep paging stays the
        # keyset search_after operator's job, E143)
        hits = execute_search_dsl(
            docs, query, text_col=text_col, id_col=id_col,
            top_k=from_ + size, index_tables=index_tables,
        )
    if "hybrid_score" in hits.columns:
        # hybrid pages return _score like any other (ES contract)
        hits = hits.withColumnRenamed("hybrid_score", "score")
    hits = hits.persist() if wants_uncut else hits

    agg_out = {}
    if aggs:
        # carry the query scores into the hit relation: the
        # score-dependent aggs (top_hits / sampler /
        # diversified_sampler) consume them; field aggs ignore the
        # extra column. The QUERY score rides the reserved
        # `_query_score` alias so a pre-existing docs `score` FIELD
        # never collides (ambiguous-reference, r16 ADVICE); the agg
        # branches prefer the alias when present.
        hit_rows = docs.join(
            hits.select(id_col, F.col("score").alias("_query_score")),
            id_col,
        )
        if "score" not in docs.columns:
            hit_rows = hit_rows.withColumnRenamed("_query_score", "score")
        agg_out = execute_aggs_dsl(
            hit_rows, aggs, background=docs, id_col=id_col,
            index_tables=index_tables,
        )

    sugg = body.get("suggest") or {}
    for sname, sbody in sugg.items():
        # ES suggest block: named term / phrase suggesters computed
        # over the corpus vocabulary (ES semantics — suggesters are
        # independent of the query's hit set). Results ride the
        # returned dict under the reserved "suggest:<name>" keys so
        # the (page, aggs) contract stays intact. Both suggesters
        # serve from the token-index relation (index_tables).
        if not isinstance(sbody, dict) or "text" not in sbody:
            raise ValueError(f"suggest {sname!r} needs a text")
        if not index_tables or "tokens" not in index_tables:
            raise ValueError(
                "suggesters need index_tables={'tokens': ...} (the "
                "materialized token index — ensure_token_index)"
            )
        stext = str(sbody["text"])
        if "term" in sbody:
            from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
                spell_suggest,
            )

            spec = sbody["term"] or {}
            if spec.get("field", text_col) != text_col:
                raise ValueError(
                    f"term suggester routes the analyzed {text_col!r} "
                    "field"
                )
            sterms = [
                t for t in re.split(r"[^a-z0-9]+", stext.lower()) if t
            ]
            agg_out[f"suggest:{sname}"] = spell_suggest(
                docs.sparkSession, index_tables["tokens"], sterms,
                max_dist=int(spec.get("max_edits", 2)),
                top_k=int(spec.get("size", 3)),
            )
        elif "phrase" in sbody:
            from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
                phrase_suggest,
            )

            spec = sbody["phrase"] or {}
            agg_out[f"suggest:{sname}"] = phrase_suggest(
                docs.sparkSession, index_tables["tokens"], docs, stext,
                max_edit=int(spec.get("max_errors", 1)),
                text_col=text_col, id_col=id_col,
                top_k=int(spec.get("size", 10)),
            )
        else:
            raise ValueError(
                f"suggest {sname!r}: only the term and phrase "
                "suggesters are routed"
            )

    def slice_page(ordered):
        return ordered.offset(from_).limit(size) if from_ else (
            ordered.limit(size)
        )

    hl = body.get("highlight")

    def attach_highlight(page):
        # ES highlight block: the best snippet window per page hit
        # (the Discover result-list highlighting). Routed onto the
        # E137 positional highlighter — fragment_size is in TOKEN
        # positions here (the operator's deterministic window
        # contract; ES's is a char target, documented divergence).
        # Highlight terms are the query's text clauses (must/should/
        # filter roles; must_not terms never highlight). The snippet
        # relation covers only page-sized output after the join.
        if not hl:
            return page
        hfields = hl.get("fields") or {}
        if list(hfields) != [text_col]:
            raise ValueError(
                f"highlight routes exactly the analyzed {text_col!r} "
                "field"
            )
        spec = hfields[text_col] or {}
        terms = sorted(_highlight_terms(query))
        if not terms:
            raise ValueError(
                "highlight needs text clauses in the query "
                "(term/match/match_phrase/bool)"
            )
        from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
            search_snippets,
        )

        snip = search_snippets(
            docs, terms,
            width=int(spec.get("fragment_size", 10)),
            text_col=text_col, id_col=id_col,
        ).select(
            F.col(id_col),
            F.col("start_pos").alias("hl_start"),
            F.col("end_pos").alias("hl_end"),
            F.col("n_hits").alias("hl_hits"),
        )
        return page.join(snip, id_col, "left")

    source = body.get("_source")
    sort = body.get("sort", "_score")
    if sort == "_score" or sort == ["_score"]:
        page = slice_page(
            hits.orderBy(F.col("score").desc(), F.col(id_col).asc())
        )
        if source:
            page = page.join(
                docs.select(id_col, *source), id_col, "left"
            )
        page = attach_highlight(page).orderBy(
            F.col("score").desc(), F.col(id_col).asc()
        )
        return page, agg_out
    # field sorts: resolve fields from the doc relation BEFORE the cut
    order_cols = []
    fields = []
    for entry in sort:
        ((f_, spec),) = entry.items()
        order = (
            spec.get("order", "asc") if isinstance(spec, dict) else spec
        )
        if order not in ("asc", "desc"):
            raise ValueError(f"sort order must be asc|desc: {order!r}")
        fields.append(f_)
        col = F.col(f_)
        order_cols.append(col.asc() if order == "asc" else col.desc())
    order_cols.append(F.col(id_col).asc())  # deterministic close
    need = sorted(set(fields) | set(source or []))
    joined = hits.join(docs.select(id_col, *need), id_col, "left")
    page = slice_page(joined.orderBy(*order_cols))
    keep = [id_col, "score"] + (source or [])
    if hl:
        # join before the projection cut (sort fields must survive
        # for the post-join re-order), then keep the hl columns
        page = attach_highlight(page).orderBy(*order_cols)
        keep += ["hl_start", "hl_end", "hl_hits"]
    return page.select(*dict.fromkeys(keep)), agg_out


def _highlight_terms(node: dict) -> set:
    """Terms to highlight for a query body: the text-clause terms of
    term/match/match_phrase leaves and bool must/should/filter roles
    (recursively) — never must_not (excluded terms don't appear in
    hits)."""
    kind, b = next(iter(node.items()))
    if kind in ("term", "match", "match_phrase"):
        return {t for c in _leaf_clauses(node) for t in c}
    if kind == "bool":
        out: set = set()
        for role in ("must", "should", "filter"):
            v = b.get(role, [])
            for n in (v if isinstance(v, list) else [v]):
                out |= _highlight_terms(n)
        return out
    return set()


def execute_count_request(
    docs: DataFrame,
    body: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_tables: dict | None = None,
) -> DataFrame:
    """The ES ``_count`` endpoint — the match count of a query body
    with no hits materialized: ``{"query": ...}`` → one row
    ``(count)``. The query must support the uncut contract (the same
    ``_UNCUT_KINDS`` rule as aggs — a scored-top-k shape has no
    well-defined total). The count reduces map-side; no text, score,
    or id column ever reaches the driver beyond the single long."""
    query = body.get("query", {"match_all": {}})
    kind = next(iter(query)) if len(query) == 1 else None
    if kind not in _UNCUT_KINDS:
        raise ValueError(
            f"_count needs an uncut hit relation; query type "
            f"{kind!r} is not supported (supported: {_UNCUT_KINDS})"
        )
    hits = execute_search_dsl(
        docs, query, text_col=text_col, id_col=id_col, top_k=None,
        index_tables=index_tables,
    )
    return hits.agg(F.count(F.lit(1)).cast("long").alias("count"))


def field_caps(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """The ES ``_field_caps`` endpoint — field capabilities of the
    document relation: (field, type, searchable, aggregatable)
    ordered by field. Types map from the Spark schema to the ES
    vocabulary (string→text for the analyzed text column / keyword
    otherwise, integral→long, fractional→double, timestamp→date,
    array<float>→dense_vector, binary→binary). The analyzed text
    column is searchable-not-aggregatable; keyword/numeric/date
    fields are both — the Discover field-picker contract."""
    spark = docs.sparkSession

    def es_type(name, dt):
        s = dt.simpleString()
        if s == "string":
            return "text" if name == text_col else "keyword"
        if s in ("int", "bigint", "smallint", "tinyint", "long"):
            return "long"
        if s in ("double", "float"):
            return "double"
        if s == "timestamp":
            return "date"
        if s.startswith("array<float>") or s.startswith("array<double>"):
            return "dense_vector"
        if s == "binary":
            return "binary"
        if s == "boolean":
            return "boolean"
        return s
    rows = []
    for f in docs.schema.fields:
        t = es_type(f.name, f.dataType)
        rows.append((
            f.name, t,
            t != "binary",
            t not in ("text", "binary"),
        ))
    rows.sort()
    return spark.createDataFrame(
        rows,
        "field string, type string, searchable boolean, "
        "aggregatable boolean",
    )


__all__ = [
    "bool_tree_oracle_sql",
    "bool_tree_search",
    "clause_search",
    "clause_search_oracle_sql",
    "execute_count_request",
    "execute_explain_request",
    "execute_search_dsl",
    "execute_search_request",
    "field_caps",
]
