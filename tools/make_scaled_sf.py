"""Build a scaled-up copy of a testdata sf directory for bench runs.

The fixtures top out at sf0.1 (600k lineitem), where a 17-query Spark
sweep is scheduling-floor-dominated (~0.3-0.5 s/stage constant cost vs
sub-second real work — PERF.md's gap decomposition). This tool
replicates the FACT tables ``factor``× with key offsets so the floor
amortizes and per-query times measure real work:

- ``orders``/``lineitem``: both key spaces shift by
  ``replica * (max(o_orderkey)+1)`` so replicas join exactly like the
  original (same per-order line counts, same dim fan-out per order).
- ``events``: ``event_id`` shifts; ``ts`` shifts by ``replica`` hours
  so sessionization/windows see new activity, not duplicate instants;
  ``user_id`` stays — the same user population generating 10× events
  is the realistic growth axis.
- Dimensions (``region nation customer supplier part``) copy as-is:
  dims grow slower than facts, and fixed dims keep broadcast-join
  plan shapes honest at scale.
- ``documents``: replica tokens are WORD-WISE HASH REPLACEMENTS
  (word → ``md5(word|i)[:max(len(word), min_token)]`` for i>0,
  LENGTH-PRESERVING with a ``min_token`` floor, default 4). The
  mapping is a per-replica bijection (whp): same-length words are
  the only collision candidates, so the effective space is
  16^max(len, min_token) per length bucket — negligible collisions
  for this fixture's vocabulary, and raise ``min_token`` to 6–8 for
  realistic 10^5-word vocabularies (a fixed 4-hex token's 2^16
  space birthday-collides there). Each replica's INTERNAL near-dup
  structure is preserved exactly, while replicas share NO tokens
  with each other or the originals. Three properties, all
  load-bearing and all violated by earlier salt forms: (1) tokens
  are alnum-contiguous (hex), so the ``[^a-z0-9]+`` tokenizer sees
  10× vocabulary growth — the ``~r<i>`` suffix split apart under
  it, making bm25/tfidf sf1 numbers measure volume only; (2)
  CHARACTER k-shingles carry no shared salt substrings — a constant
  suffix (``saltr<i>``) put identical 5-grams like ``saltr`` inside
  every salted word, driving cross-replica char-shingle Jaccard to
  ~0.45 and exploding minhash LSH candidates 50× (measured); hash
  replacement measures J=0.000 cross-replica; (3) LENGTH
  PRESERVATION keeps within-replica char-shingle similarity
  tracking the base corpus — a fixed-WIDTH token distorts it in
  either direction (measured on this corpus, avg/max sample J:
  base 0.17/0.31; fixed 8-hex 0.27/0.45 — every widened token adds
  order-independent internal shingles that a 31-word vocabulary
  repeats across docs; length-preserving floor-4: see PERF.md salt
  note). Naive replication would
  make every replica a near-dup of its original — candidate pairs
  would grow ×factor² (an adversarial workload, not a scale-up);
  salting preserves each replica's INTERNAL dup structure, so pair
  work grows linearly with the corpus, which is what a 10× crawl
  actually looks like.
- ``embeddings``: replicas shift ids and add a small deterministic
  per-replica offset to one coordinate — new near-neighbor structure
  without degenerate exact duplicates.

Usage: python tools/make_scaled_sf.py [src_dir] [dst_dir] [factor] [min_token]
Defaults: /root/testdata/sf0.1 → <repo>/.benchdata/sf1, factor 10,
min_token 4.
"""

from __future__ import annotations

import os
import sys

import duckdb

_COPY_AS_IS = ["region", "nation", "customer", "supplier", "part"]


def build(src: str, dst: str, factor: int, min_token: int = 4) -> None:
    """Write every table of ``src`` into ``dst``, facts scaled ``factor``×."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    # Row-group size must satisfy BOTH scan pathologies:
    # - too FEW groups: a single-row-group file scans as ONE task no
    #   matter the cluster size, which serialized every sf1 text
    #   query's tokenize/shingle stage on one of 32 cores (measured
    #   37 s of a 50 s cold minhash);
    # - too MANY groups: Spark's vectorized parquet reader pays a
    #   per-row-group setup cost (footer/page/dictionary re-init)
    #   that DuckDB does not — 4096-row groups put 1,465 groups in
    #   the sf1 lineitem and 14,600 in the sf10 one, and the "TPC-H
    #   star-query gap" the r5-r12 benches attributed to a
    #   scheduling floor was ~85% THIS: the sf10 7-column lineitem
    #   scan dropped 7.4 s → 0.6 s when rewritten at 262k-row groups
    #   (PERF.md r13). Any real 100 TB layout uses 64-512 MB groups.
    # Facts get 32k-row groups (sf1 lineitem → 183 groups, sf10 →
    # 1,832: plenty of splits, amortized setup); wide text/vector
    # rows keep 1024 (per-row downstream work dominates there and
    # 50 k docs still need >=32 splits).
    def copy(sql: str, table: str) -> None:
        out = os.path.join(dst, f"{table}.parquet")
        rg = 1024 if table in ("documents", "embeddings") else 32768
        con.execute(
            f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
        )

    for t in _COPY_AS_IS:
        copy(f"SELECT * FROM read_parquet('{src}/{t}.parquet')", t)

    stride = con.execute(
        f"SELECT MAX(o_orderkey) + 1 FROM read_parquet('{src}/orders.parquet')"
    ).fetchone()[0]

    copy(
        f"""
        SELECT o_orderkey + r.i * {stride} AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM read_parquet('{src}/orders.parquet')
        CROSS JOIN range({factor}) r(i)
        """,
        "orders",
    )
    copy(
        f"""
        SELECT l_orderkey + r.i * {stride} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM read_parquet('{src}/lineitem.parquet')
        CROSS JOIN range({factor}) r(i)
        """,
        "lineitem",
    )
    ev_stride = con.execute(
        f"SELECT MAX(event_id) + 1 FROM read_parquet('{src}/events.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT event_id + r.i * {ev_stride} AS event_id,
               ts + INTERVAL (r.i) HOUR AS ts,
               user_id, event_type, value, props
        FROM read_parquet('{src}/events.parquet')
        CROSS JOIN range({factor}) r(i)
        """,
        "events",
    )
    doc_stride = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM read_parquet('{src}/documents.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT doc_id + r.i * {doc_stride} AS doc_id,
               CASE WHEN r.i = 0 THEN text
                    ELSE array_to_string(
                        list_transform(string_split(text, ' '),
                                       x -> substr(md5(x || '|' || r.i),
                                                   1, greatest(length(x),
                                                               {min_token}))),
                        ' ')
               END AS text,
               lang, source, n_chars
        FROM read_parquet('{src}/documents.parquet')
        CROSS JOIN range({factor}) r(i)
        """,
        "documents",
    )
    vec_stride = con.execute(
        f"SELECT MAX(vec_id) + 1 FROM read_parquet('{src}/embeddings.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT vec_id + r.i * {vec_stride} AS vec_id,
               CASE WHEN r.i = 0 THEN embedding
                    ELSE list_transform(embedding,
                         x -> CAST(x + 0.01 * r.i AS FLOAT))
               END AS embedding,
               label
        FROM read_parquet('{src}/embeddings.parquet')
        CROSS JOIN range({factor}) r(i)
        """,
        "embeddings",
    )
    for t in ["orders", "lineitem", "events", "documents", "embeddings"]:
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{dst}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(repo, ".benchdata", "sf1")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    min_token = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    build(src, dst, factor, min_token)
