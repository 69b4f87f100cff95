"""Referential-integrity audit: FK orphan counts across table relations.

A CDC replica is only trustworthy if its relationships survived the
trip: the reference replicates parent and child tables independently
(table mappings in cdk_stacks/dms_serverless.py select tables one by
one), so out-of-order application or partial loads can leave child
rows pointing at missing parents. This operator measures that as a
query: for each declared relation it reports child row count, NULL
foreign keys, and orphans (non-NULL FK with no matching parent key).

Execution shape (scale notes):

- Relations are GROUPED BY CHILD TABLE: each child is scanned once,
  projected to the union of its FK columns, annotated with one hit
  flag per parent via chained LEFT joins against DISTINCT parent key
  sets (distinct guards fan-out, so row multiplicity — and n_child —
  is preserved through the chain), and aggregated in a single pass
  producing all of that child's per-FK counts as columns, which then
  stack to one row per relation. A child with three FKs (lineitem)
  costs one scan + one aggregate, not three of each.
- Every table participating in 2+ roles (several FKs, or both child
  and parent — nation is a child of region AND the parent of
  customer/supplier) is projected once to exactly the columns all its
  roles need and persisted, so every consuming branch reads the one
  materialized projection instead of re-scanning the file. The cache
  is plan-keyed and caller-owned (same policy as the BM25 projection
  cache, operators/search.py): repeated audits reuse it; sweeps clear
  between families. The persisted payload is a few pruned key columns
  — for dimension tables it is trivially small, and even for a
  fact-sized parent (orders as parent of lineitem) two int64 columns
  cache in ~16 B/row, cheaper than a second remote-storage scan.
- Parent key sets are deduplicated by (parent, key column): nation's
  key set is built once and reused by both the customer and supplier
  relations.
- Dimension-sized parent key sets broadcast (Catalyst/AQE decide from
  stats); the fact side never shuffles for them. A fact-sized parent
  key set (orders under lineitem) is a genuine shuffle join at scale
  — counts-only output keeps it cheap.
- Counts, not row dumps: output size is O(#relations) regardless of
  data scale. Pair with an anti-join query on a flagged relation to
  fetch the offending rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (relation_name, child_df, child_fk_col, parent_df, parent_key_col)
Relation = tuple[str, DataFrame, str, DataFrame, str]


def fk_orphan_audit(
    relations: list[Relation], *, persist_shared: bool = True
) -> DataFrame:
    """One row per relation: ``(relation, n_child, n_null_fk, n_orphans)``.

    ``n_orphans`` counts child rows whose FK is non-NULL but matches
    no parent key; NULL FKs are counted separately (SQL FK semantics:
    NULL references violate nothing). ``persist_shared=False`` skips
    caching multi-role table projections (useful when the caller
    already persisted its inputs).
    """
    if not relations:
        raise ValueError("fk_orphan_audit: no relations given")
    import re as _re

    # the audit generates _pk_<i>/_hit_<i>/_null_<i>/_orph_<i>/_n_child
    # working columns alongside the (un-aliased) FK columns — an input
    # column spelled like one of them would silently collide
    reserved = _re.compile(r"^(_pk_\d+|_hit_\d+|_null_\d+|_orph_\d+|_n_child)$")
    for name, child, fk, parent, pk in relations:
        if fk not in child.columns:
            raise ValueError(f"{name}: child column {fk!r} missing")
        if pk not in parent.columns:
            raise ValueError(f"{name}: parent column {pk!r} missing")
        for col in (fk, pk):
            if reserved.match(col):
                raise ValueError(
                    f"{name}: column {col!r} collides with the audit's "
                    "reserved _pk_N/_hit_N/_null_N/_orph_N/_n_child "
                    "working names — rename it first"
                )

    # One projection per distinct input DataFrame, spanning every
    # column any of its roles needs; persisted when 2+ plan BRANCHES
    # would otherwise each re-scan it. A branch is a child group (all
    # of one child's FKs share one annotated relation, so lineitem's
    # three FKs are ONE consumer) or a distinct (parent, key) set —
    # parent roles dedup by (parent, pk), so nation consumed as
    # region's child plus customer's and supplier's parent is TWO
    # branches (child role + one shared parent key set) and persists;
    # lineitem, child-only, is one branch and does not.
    needed: dict[int, set[str]] = {}
    dfs: dict[int, DataFrame] = {}
    branches: dict[int, set[tuple]] = {}
    for name, child, fk, parent, pk in relations:
        for df, col, branch in (
            (child, fk, ("child", id(child))),
            (parent, pk, ("parent", id(parent), pk)),
        ):
            k = id(df)
            dfs[k] = df
            needed.setdefault(k, set()).add(col)
            branches.setdefault(k, set()).add(branch)
    base: dict[int, DataFrame] = {}
    for k, df in dfs.items():
        proj = df.select(*sorted(needed[k]))
        if persist_shared and len(branches[k]) > 1:
            proj = proj.persist()
        base[k] = proj

    # distinct parent key sets, shared across relations
    pkeys: dict[tuple[int, str], DataFrame] = {}

    # group relations by child table, preserving first-seen order
    group_order: list[int] = []
    groups: dict[int, list[Relation]] = {}
    for rel in relations:
        k = id(rel[1])
        if k not in groups:
            group_order.append(k)
            groups[k] = []
        groups[k].append(rel)

    parts = []
    for k in group_order:
        rels = groups[k]
        j = base[k]
        for i, (name, _child, fk, parent, pk) in enumerate(rels):
            key = (id(parent), pk)
            if key not in pkeys:
                pkeys[key] = base[id(parent)].select(pk).distinct()
            p = pkeys[key].select(
                F.col(pk).alias(f"_pk_{i}"), F.lit(1).alias(f"_hit_{i}")
            )
            # parent keys are distinct, so this left join preserves
            # the child's row multiplicity — n_child stays exact
            j = j.join(p, F.col(fk) == F.col(f"_pk_{i}"), "left")
        aggs = [F.count(F.lit(1)).alias("_n_child")]
        for i, (_name, _child, fk, _parent, _pk) in enumerate(rels):
            aggs.append(
                F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0)).alias(
                    f"_null_{i}"
                )
            )
            aggs.append(
                F.sum(
                    F.when(
                        F.col(fk).isNotNull() & F.col(f"_hit_{i}").isNull(), 1
                    ).otherwise(0)
                ).alias(f"_orph_{i}")
            )
        row = j.agg(*aggs)
        parts.append(
            row.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(name).alias("relation"),
                                F.col("_n_child").alias("n_child"),
                                F.col(f"_null_{i}").alias("n_null_fk"),
                                F.col(f"_orph_{i}").alias("n_orphans"),
                            )
                            for i, (name, *_rest) in enumerate(rels)
                        ]
                    )
                ).alias("_r")
            ).select("_r.*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
