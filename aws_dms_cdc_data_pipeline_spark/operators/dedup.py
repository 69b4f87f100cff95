"""Deduplication operators — exact and near-duplicate, at scale.

The large-scale-training-data staples over the ``documents`` table:

- **exact**: normalized-text fingerprint → keep one doc per group.
  One shuffle on the fingerprint; map-side partial aggregation.
- **MinHash + LSH**: char-shingle → per-seed min-hash signature
  (computed with array expressions — NO explode, NO shuffle) →
  band-bucket join for candidates → exact Jaccard verification.
  The only shuffles are the band-bucket self-join and the final
  distinct — the textbook scale-out shape (band buckets are the
  join key, so skew = pathological near-dup clusters only).
- **SimHash**: token hashes JVM-side, bit-fold in a vectorized
  Pandas UDF (Arrow batches), near-dup candidates by 16-bit-chunk
  pigeonhole banding, verified by Hamming distance.
- **n-gram Jaccard**: inverted-index join on shared token n-grams —
  exact pairwise similarity without the O(N²) cross join.

All candidate generators deliberately over-approximate and are
followed by an exact verifier, so results are deterministic and
LSH parameters only affect cost, not correctness of reported pairs
(above the verify threshold).
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def normalize_text(col: Column) -> Column:
    """Lowercase + whitespace-collapse — the canonical form hashed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per normalized-text group.

    groupBy on the fingerprint (map-side combine → one shuffle) then
    a semi-join back; at 100 TB this is the cheapest possible exact
    dedup: the shuffled payload is (fingerprint, id), never the text.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("_fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles / n-grams (pure array expressions — no explode needed to build)
# ---------------------------------------------------------------------------

def char_shingles(col: Column, k: int = 5) -> Column:
    """Array of character k-shingles of the normalized text."""
    norm = normalize_text(col)
    n = F.length(norm)
    return F.when(n < k, F.array(norm)).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: norm.substr(i, F.lit(k)),
        )
    )


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Array of word n-grams (space-joined) of the normalized text."""
    words = F.split(normalize_text(col), " ")
    cnt = F.size(words)
    return F.when(cnt < n, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            F.sequence(F.lit(0), cnt - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` min-hash values.

    hash_i(s) = xxhash64(s, seed=i); signature_i = min over shingles.
    Pure array expression — evaluated in one pass per row JVM-side.
    """
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s, i=i: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, _bh: array<long>) — distinct xxhash64 of the char-k-shingles.

    Two deliberate projections: normalization materializes as a column
    BEFORE the shingle transform. Inlining it into the lambda would
    re-evaluate the regexp per shingle (~|text| times per row) —
    measured 3.7× slower at sf0.1. Downstream works on the 64-bit
    hashes, never the shingle strings: per-seed signature hashing is
    long→long, and the exact-Jaccard verify intersects hash sets
    (identical to string-set Jaccard absent 64-bit collisions).
    """
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import fan_out_scan

    norm = fan_out_scan(
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")),
        # per-CHARACTER substr+hash — the same weight class as the
        # duplicated-spans pass; fan out at the lower bar
        min_bytes_per_partition=128 * 1024,
    )
    # SQL-string expressions (1 py4j crossing + a JVM parse) instead of
    # looping the Python DSL: identical resolved expressions, ~100×
    # cheaper to construct (profiled r17 — driver build time was half
    # the bench wall; guide §7.3 planning-cost class).
    sh = norm.selectExpr(
        id_col,
        f"CASE WHEN length(_norm) < {k} THEN array(_norm) "
        f"ELSE transform(sequence(1, length(_norm) - {k} + 1), "
        f"i -> substring(_norm, i, {k})) END AS _sh",
    )
    return sh.selectExpr(
        id_col,
        "array_distinct(transform(_sh, s -> xxhash64(s))) AS _bh",
    )


def _bands_of(
    with_sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bh) band-bucket rows from a ``_sig`` signature column.

    Band rows carry ONLY (id, band, band_hash) — the shingle arrays
    stay out of any candidate join, so the bands× explode and the
    bucket shuffle move ~24 bytes/row no matter how large the
    documents are. Shingle hashes re-enter per candidate id via a
    keyed join for the exact-Jaccard verify. ``carry`` names extra
    fixed-width columns to ride along (e.g. the shingle-set size for
    the verify prefilter — 8 bytes/row buys skipping a join later).
    """
    rows_per_band = num_hashes // bands
    items = ",".join(
        "named_struct('band', {b}, 'bh', xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=",".join(
                f"_sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return with_sig.selectExpr(
        id_col, *carry, f"explode(array({items})) AS _band"
    ).select(id_col, *carry, "_band.band", "_band.bh")


def _with_signature(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """Attach the per-seed minhash signature array to (id, _bh) rows.

    TRUE per-seed MinHash (r18 — the r17 verdict's mandatory fix #2):
    entry ``s`` is ``min over shingle hashes h of xxhash64(h, s)`` —
    ``num_hashes`` independent permutation proxies, so banded LSH
    candidate recall follows the published ``1-(1-j^r)^b`` curve.
    History: the original DSL built each entry with a two-argument
    Python lambda (``lambda h, i=i: F.xxhash64(h, F.lit(i))``) —
    PySpark binds a 2-arg ``transform`` lambda as (element, ARRAY
    INDEX), shadowing the per-seed argument, so every entry evaluated
    the same min and the operator was de-facto single-hash LSH
    (silently under-recalling near-dups at the threshold boundary at
    scale). r17 froze that bug bit-exactly per the optimization-round
    contract and the verdict ordered the real fix this round, with
    the rows-only baselines re-based (recall pinned on planted pairs
    in tests/test_llm_ops.py; per-seed distinctness pinned in
    tests/test_plan_guards.py).
    """
    return hashed.withColumn(
        "_sig",
        F.expr(
            f"transform(sequence(0, {num_hashes - 1}), s -> "
            "array_min(transform(_bh, h -> xxhash64(h, s))))"
        ),
    )



def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Stage 1 (map): signature per doc. Stage 2 (shuffle 1): self-join
    on the bucket hash → candidates. Stage 3 (shuffle 2): exact
    Jaccard on shingle sets for candidates only.
    """
    # Hash-shingle relation is used three times (signature, verify×2);
    # persist the ~8 bytes/shingle arrays so the text is scanned and
    # shingled exactly once. Cache lifecycle belongs to the CALLER:
    # Spark's cache manager keys entries by logical plan, so repeated
    # calls on the same input reuse one materialized entry (no
    # stacking), and callers sweeping many distinct inputs clear
    # between families with ``spark.catalog.clearCache()``. (An
    # earlier revision unpersisted the previous call's intermediate
    # at entry — that evicted the plan-matched cache a back-to-back
    # rerun would have reused and recomputed shingling from scratch,
    # a measured +73% on the steady-state bench run.) At cluster
    # scale with state larger than cluster memory, swap persist()
    # for an explicit checkpoint/write — the plan shape is unchanged.
    hashed = _hashed_shingles(df, text_col, id_col, shingle_k).persist()

    # Bucket rows carry the shingle-set size (+8 B/row): the verify
    # prefilter below then needs NO size-lookup joins — it is a plain
    # filter on the candidate join's own output.
    #
    # REAL banded LSH (r18, with the per-seed signature fix): every
    # doc contributes ``bands`` (band, band-hash) bucket rows and a
    # candidate pair is any pair agreeing on ≥1 band — the published
    # 1-(1-j^r)^b recall curve. (r17's one-bucket-per-doc join was
    # correct ONLY for the frozen single-hash signatures, where all
    # bands collapsed to identical keys; with distinct per-seed
    # entries it would silently serve band-0-only recall.) Band rows
    # stay ~32 B regardless of document size — shingle arrays never
    # enter the candidate join.
    # banded is ~32 B × bands per doc and feeds BOTH self-join sides:
    # persisting it evaluates the 32-seed signature map ONCE instead
    # of once per side (plus once more on the probe stream) — same
    # caller-owned plan-keyed cache policy as the shingle relation.
    banded = _bands_of(
        _with_signature(hashed, num_hashes).withColumn(
            "_n", F.size("_bh").cast("long")
        ),
        id_col, num_hashes, bands, carry=("_n",),
    ).persist()

    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
    )

    # Exact size prefilter before any shingle array moves: J(A,B) ≥ t
    # forces |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), and |A∩B| ≤ min(|A|,|B|),
    # so min(|A|,|B|) ≥ t·max(|A|,|B|) is NECESSARY — pairs outside the
    # size ratio are rejected with two longs per row, BEFORE the
    # dedup shuffle even runs. This matters because verify-join volume
    # is candidates × shingle-array bytes (the arrays are ~100-1000×
    # the (id_a, id_b) rows): at the sf10 probe the unfiltered verify
    # shuffle spilled past local disk; band-collision false positives
    # have uncorrelated sizes and die here for free, and genuinely-
    # near-dup pairs pass untouched, so the result set is bit-
    # identical (tested). Sizes ride the band rows (carry above), so
    # this is a pure filter — no lookup joins. The multi-band dedup
    # exchange runs AFTER it, over bare (id_a, id_b) longs only — as
    # an EXPLICIT pair-keyed repartition, because AQE coalesces the
    # exchange by BYTES (16 B/candidate → one post-shuffle task) while
    # the downstream verify cost is per-row array intersections — the
    # whole verify serialized through a single task (measured 1.9 s of
    # a 2.3 s pass). The dedup aggregate reuses the partitioning.
    cand_sized = (
        cand.filter(
            F.least("n_a", "n_b")
            >= F.lit(jaccard_threshold) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            "id_a", "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    sh_a = hashed.select(F.col(id_col).alias("id_a"), F.col("_bh").alias("sh_a"))
    sh_b = hashed.select(F.col(id_col).alias("id_b"), F.col("_bh").alias("sh_b"))
    verified = cand_sized.join(sh_a, "id_a").join(sh_b, "id_b")

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@pandas_udf(T.LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """Fold an array of 64-bit token hashes into a SimHash (Arrow path).

    Fully vectorized across the batch: all token hashes are flattened
    into one array, per-bit votes summed per row with add.reduceat —
    no per-row Python loop. Token hashing itself stays JVM-side
    (xxhash64) so Python only sees small int arrays.
    """
    import numpy as np

    out = np.zeros(len(hashes), dtype=np.int64)
    lengths = np.fromiter(
        (0 if hs is None else len(hs) for hs in hashes), dtype=np.int64, count=len(hashes)
    )
    live = lengths > 0
    if not live.any():
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(hs, dtype=np.uint64) for hs in hashes[live]]
    )
    bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths[live])[:-1]))
    ones = np.add.reduceat(bits, starts, axis=0)  # (live_rows, 64)
    majority = ones * 2 > lengths[live, None]  # votes > 0
    sims = (majority.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    out[np.nonzero(live)[0]] = sims.astype(np.int64)
    return pd.Series(out)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    token_hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return df.withColumn("simhash", _simhash_from_hashes(token_hashes))


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: 16-bit-chunk banding (pigeonhole:
    hamming ≤ 3 ⇒ at least one of 4 chunks equal) then exact Hamming
    verification via bit_count(xor)."""
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    # the simhash fold (per-token hash + 64 bit-position tallies) is
    # per-row heavy; restore parallelism on poorly-split sources
    # before it (lower bytes bar than tokenize-weight ops)
    sh = with_simhash(
        fan_out_scan(
            df.select(id_col, text_col),
            min_bytes_per_partition=128 * 1024,
        ),
        text_col,
    ).select(id_col, "simhash")
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ch"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select(id_col, "simhash", "_c.chunk", "_c.ch")

    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join, exact)
# ---------------------------------------------------------------------------

def _word_gram_index(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Distinct (id, word-n-gram) inverted index, persisted.

    Staging the split-word array as a real column matters: inlining it
    into the n-gram lambda would re-run normalize+split once PER
    n-gram. The index is persisted because its consumers (df-filter
    agg + semi-join probe, both sides of the candidate self-join,
    per-doc sizes, novelty scoring) would each re-run
    normalize+split+explode+distinct — same plan-keyed cache policy as
    minhash's shingle hashes (dedup.py:171), cleared by the caller
    between query families; swap for StorageLevel.DISK_ONLY when the
    index outgrows cluster memory.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import fan_out_scan

    words = fan_out_scan(
        df.select(
            F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("_w")
        ),
        # word-n-gram construction is ~n string copies per token —
        # heavier per source byte than tokenize, so the fan-out bar
        # drops accordingly (measured 2x on the gram-index build)
        min_bytes_per_partition=128 * 1024,
    )
    cnt = F.size(F.col("_w"))
    gram_arr = F.when(cnt < n, F.array(F.concat_ws(" ", F.col("_w")))).otherwise(
        F.transform(
            F.sequence(F.lit(0), cnt - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
        )
    )
    # per-doc IN-ROW dedup (array_distinct) rather than a global
    # .distinct(): each document is exactly one input row, so
    # within-row dedup IS (id, gram) distinctness — identical output,
    # but the index build becomes a pure narrow map with NO aggregate
    # and NO exchange. The r11 sf10 probe measured the agg-based
    # distinct as the largest spill source (~27 GB in-memory spill:
    # the (id, g) partial-agg hashmap overflows 8 g/32-task local
    # memory, and two consumer branches racing the not-yet-
    # materialized cache each ran their own map side). PERF.md r12.
    return (
        words.select(
            F.col(id_col), F.explode(F.array_distinct(gram_arr)).alias("g")
        )
        .persist()
    )



def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Jaccard over word n-gram sets, via inverted index.

    |A∩B| = count of shared distinct n-grams (join on the n-gram),
    |A∪B| = |A| + |B| − |A∩B|. The explode/join shuffles on the
    n-gram value, so a single high-document-frequency "stop-shingle"
    (an n-gram appearing in p documents) would contribute O(p²)
    candidate rows to the self-join — the classic skew-killer at
    100 TB. ``max_df`` ENFORCES the cap: n-grams whose document
    frequency exceeds it are dropped from the index (and from the
    per-doc set sizes, i.e. stop-shingle-removal semantics — an
    identical pair still scores 1.0). When no n-gram exceeds the
    cap the result is the exact Jaccard; above it, similarity is
    computed over the filtered gram universe, and the worst-case
    candidate count per gram is bounded by max_df². Pass
    ``max_df=None`` to disable (exact, unbounded skew — only for
    corpora you know are stop-shingle-free).
    """
    inter, sizes = _gram_pair_intersections(df, text_col, id_col, n, max_df)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _gram_pair_intersections(df, text_col, id_col, n, max_df):
    """Shared candidate machinery for the set-similarity family:
    (id_a < id_b, inter = #shared distinct word n-grams) plus per-doc
    filtered gram-set sizes. Candidate generation, refined from two
    earlier rounds' findings:

    - CAPPED df (the default): posting-list formulation. One
      df-count over the persisted index, a gram-keyed join dropping
      stop-shingles, then the posting list per surviving gram
      collects IN the join's partitioning (no new exchange) and
      pairs explode map-side. Per-gram agg state is ≤ max_df ids
      (filtered BEFORE any collect), and per-gram pair fan-out is
      ≤ max_df²/2 streamed rows — the r5 "straggler bomb" note
      against posting lists applies to the UNCAPPED case (and to
      AQE skew-splitting, which never triggers on ≤max_df·8 B ≈
      80 KB gram groups anyway); with the cap both formulations
      concentrate a gram's pairs in one task, and this one audits
      at half the exchanges of the self-join.
    - UNCAPPED (max_df=None): the self-join, which streams pairs
      without buffering any per-gram array — the only safe shape
      when a gram's posting list is unbounded.
    """
    grams = _word_gram_index(df, text_col, id_col, n)
    # Wide-exchange width, shared by every near-unique-key aggregate
    # in this pipeline (the r12 pair-agg sizing — see the `inter`
    # comment below): the gram-keyed grains (posting lists, df
    # counts) have ~one group per distinct gram, so a default-width
    # final aggregate holds millions of groups per task and falls
    # back to sort-based aggregation — the sf10 probe's 5.4 GB
    # posting-aggregate spill (r18 profile). 8× width keeps per-task
    # hash state bounded; shuffle bytes are unchanged.
    try:
        width = int(
            grams.sparkSession.conf.get("spark.sql.shuffle.partitions")
        ) * 8
    except (TypeError, ValueError):
        # conf can hold a non-integer sentinel (e.g. "auto") on some
        # platforms — fall back to Spark's default parallelism target.
        width = 200 * 8
    gdf = grams.groupBy("g").agg(F.count("*").alias("_df"))
    if max_df is not None:
        # Apply the df cap as a broadcast ANTI-join against the
        # OVER-cap gram set, not an inner join with the (index-sized)
        # under-cap set: the stop-shingle set is tiny by construction
        # (≤ total gram occurrences / max_df — each member needs
        # > max_df postings), while the inner-join shape sort-merge-
        # joined the FULL gram index against the full distinct-gram
        # relation — the sf10 probe's near_dedup spill (2.8 GB mem +
        # 1.5 GB disk per SMJ side, r18 profile). The anti-join
        # leaves the index unshuffled and unsorted (guide §2.5 — hot
        # keys are the special case, so move the small set, not the
        # data). At corpora where the over-cap set itself outgrows a
        # broadcast, max_df is being held far below the corpus scale
        # — raise the cap with the corpus (it is a df bound, not a
        # similarity parameter).
        #
        # ok (df-capped index) has two consumers (sizes + posting) and
        # sizes has two (the sa/sb lookups in every caller) — without
        # a persist each consuming plan branch re-runs the gram join /
        # the size agg (branch-recompute rule; same caller-owned
        # plan-keyed policy as the gram index itself). Both relations
        # are index-sized (≤ one row per distinct (doc, gram) / per
        # doc), far below the corpus.
        over = gdf.filter(F.col("_df") > max_df)
        ok = grams.join(
            F.broadcast(over.select("g")), "g", "left_anti"
        ).persist()
        sizes = (
            ok.groupBy(id_col).agg(F.count("*").alias("sz")).persist()
        )
        # pre-partition the posting build at pair-agg width: one
        # group per distinct gram means the default-width aggregate
        # held ~3M list-building groups per task (ObjectHashAggregate
        # sort fallback → the 5.4 GB sf10 spill); at 8× width the
        # per-task state is a bounded hash map and the groupBy reuses
        # the exchange (pass-through partial).
        posting = (
            ok.repartition(width, "g")
            .groupBy("g")
            .agg(F.collect_list(id_col).alias("_ids"))
        )
        pairs = (
            posting.filter(F.size("_ids") > 1)
            .select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
    else:
        sizes = (
            grams.groupBy(id_col).agg(F.count("*").alias("sz")).persist()
        )
        ga, gb = grams.alias("ga"), grams.alias("gb")
        pairs = ga.join(
            gb,
            (F.col("ga.g") == F.col("gb.g"))
            & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")),
        ).select(
            F.col(f"ga.{id_col}").alias("id_a"),
            F.col(f"gb.{id_col}").alias("id_b"),
        )
    # Count pair intersections AFTER an explicit wide exchange rather
    # than through the default partial+final aggregate: candidate-pair
    # keys are mostly UNIQUE (two docs usually share one random gram),
    # so the map-side partial agg reduces almost nothing while its
    # hashmap overflow falls back to sort-based aggregation over the
    # full pair stream — the r11 sf10 probe's remaining ~22 GB
    # in-memory spill. Pre-partitioning by the pair key elides the
    # exchange the aggregate would otherwise plan (Spark still runs a
    # partial HashAggregate, but over already-colocated keys it is a
    # pass-through), and the 8x width keeps each task's hash state at
    # ~1/8 the default partition's — sized so Σ(pairs)/width fits the
    # per-task memory share at the documented Σdf²/2 worst case.
    # Shuffle BYTES are unchanged (unique keys meant the partial agg
    # saved none). PERF.md r12 A/B. ``width`` computed above.
    inter = (
        pairs.repartition(width, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return inter, sizes


def ngram_containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 10_000,
) -> DataFrame:
    """ASYMMETRIC near-duplication: Jaccard CONTAINMENT
    C(contained, container) = |A∩B| / |A| — the quote/subsumption
    detector symmetric Jaccard cannot express. A short document fully
    quoted inside a long one scores C ≈ 1.0 while J stays tiny
    (J ≤ |A|/|B|), so near-dup dedup never sees it; for training-data
    curation these subsumed documents are pure repetition.

    Emits one row per directed containment at or above ``threshold``:
    (contained_id, container_id, containment, jaccard) — both
    directions of a pair are evaluated, identical twins emit two
    rows. Same shared inverted-index machinery, df cap, and
    stop-shingle semantics as :func:`ngram_jaccard_pairs`
    (intersections computed once per unordered pair, then both
    directed ratios are a projection).
    """
    inter, sizes = _gram_pair_intersections(df, text_col, id_col, n, max_df)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    # both directed ratios come out of ONE projection: each unordered
    # pair explodes into its two directions map-side (a union of two
    # re-derived branches would compute the whole index+join tree
    # twice — it doubled this query's plan before r7).
    jac = F.round(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
    )
    directions = F.array(
        F.struct(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
            jac.alias("jaccard"),
        ),
        F.struct(
            F.col("id_b").alias("contained_id"),
            F.col("id_a").alias("container_id"),
            F.round(F.col("inter") / F.col("sz_b"), 6).alias("containment"),
            jac.alias("jaccard"),
        ),
    )
    return (
        both.select(F.explode(directions).alias("_d"))
        .select("_d.*")
        .filter(F.col("containment") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_dist: int = 32,
    min_shared_grams: int = 5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs verified by exact Levenshtein edit distance.

    Character-level edit distance is the strongest near-dup verifier
    (set-based Jaccard can't see transpositions or char-level noise),
    but it is O(len_a·len_b) per pair — unpayable all-pairs. Three
    nested exact filters make it affordable at corpus scale:

    1. **Inverted-index blocking** (same shape as
       :func:`ngram_jaccard_pairs`): candidates must share at least
       ``min_shared_grams`` distinct word n-grams. The q-gram lemma
       bounds recall loss: an edit run of d chars destroys at most
       ~d·n word-grams, so genuinely-close pairs share many grams.
       ``max_df`` caps posting lists (skew guard — identical default
       and rationale as ngram_jaccard_pairs).
    2. **Length prefilter**: ``|len_a − len_b| > max_dist`` implies
       ``dist > max_dist`` — a free exact reject before any DP runs.
    3. **Threshold-bounded Levenshtein**: the banded DP
       (``levenshtein(a, b, threshold)``) costs O(len·max_dist), not
       O(len²), and returns −1 above the bound; surviving pairs carry
       the exact distance.

    Shuffles: gram-keyed self-join (ids only — the text never rides
    the exchange), then two id-keyed joins to fetch the two texts for
    the surviving candidate set. Output is integer-valued
    (``id_a, id_b, edit_dist``) — bit-exact across engines.
    """
    norm = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_t")
    )
    # Stage words as a column (lambda inlining would re-split per gram).
    words = norm.select(F.col(id_col), F.split(F.col("_t"), " ").alias("_w"))
    cnt = F.size(F.col("_w"))
    gram_arr = F.when(cnt < n, F.array(F.concat_ws(" ", F.col("_w")))).otherwise(
        F.transform(
            F.sequence(F.lit(0), cnt - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
        )
    )
    grams = words.select(F.col(id_col), F.explode(gram_arr).alias("g")).distinct()
    if max_df is not None:
        rare = (
            grams.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("g")
        )
        grams = grams.join(rare, "g", "left_semi")

    ga, gb = grams.alias("ga"), grams.alias("gb")
    cand = (
        ga.join(gb, (F.col("ga.g") == F.col("gb.g"))
                & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")))
        .groupBy(
            F.col(f"ga.{id_col}").alias("id_a"),
            F.col(f"gb.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("_shared"))
        .filter(F.col("_shared") >= min_shared_grams)
        .select("id_a", "id_b")
    )
    ta = norm.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"))
    tb = norm.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        .withColumn("edit_dist", F.levenshtein("_ta", "_tb", max_dist))
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )


def source_overlap_matrix(
    df: DataFrame,
    *,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix.

    Corpus forensics: how much of stratum A's content also appears in
    stratum B (mirror-site crawls, re-scraped dumps, benchmark splits
    leaking across sources). One row per unordered source pair with
    the count of distinct normalized fingerprints present in both.

    Scale shape: ONE shuffle keyed on the fingerprint (map-side
    distinct of (fp, source)), then the per-fingerprint source-set
    explodes into its ordered pairs — |sources|² per fingerprint,
    bounded by the stratum count, never a corpus self-join. The text
    itself never shuffles, only (fp, source).
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("_fp")
    sets = (
        df.select(fp, F.col(strata_col))
        .distinct()
        .groupBy("_fp")
        .agg(F.array_sort(F.collect_set(strata_col)).alias("_srcs"))
        .filter(F.size("_srcs") > 1)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_srcs"),
                    lambda a: F.filter(
                        F.transform(
                            F.col("_srcs"),
                            lambda b: F.when(a < b, F.struct(
                                a.alias("source_a"), b.alias("source_b")
                            )),
                        ),
                        lambda s: s.isNotNull(),
                    ),
                )
            )
        ).alias("_p")
    )
    return pairs.groupBy(
        F.col("_p.source_a").alias("source_a"),
        F.col("_p.source_b").alias("source_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_shared"))


def ngram_novelty_scores(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    n-grams that appear in NO other document — the curation signal
    that separates original text from templated/boilerplate spam
    (low novelty = most of the doc exists elsewhere in the corpus).

    Same inverted index as :func:`ngram_jaccard_pairs` (shared,
    persisted builder): gram document-frequency aggregates map-side
    on the gram key, the df=1 flag joins back on the same key (one
    exchange AQE can reuse), and the per-doc reduction is a plain
    count ratio in exact integer arithmetic rendered once to double.
    Documents with no grams (empty text) are absent from the output.
    """
    grams = _word_gram_index(df, text_col, id_col, n)
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    return (
        grams.join(gram_df, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique_grams"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_unique_grams") / F.col("n_grams"), 6),
        )
    )


# ---------------------------------------------------------------------------
# incremental near-dup: probe a new batch against a materialized index
# ---------------------------------------------------------------------------

def write_minhash_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus's LSH band index + shingle hashes.

    Two parquet relations under ``path``: ``bands/`` (id, band, bh —
    ~24 B/doc/band) and ``shingles/`` (id, _bh — the 64-bit shingle
    hash arrays the exact-Jaccard verify needs). Pass
    ``mode="append"`` to extend the index with an ingested batch —
    the whole point: the corpus is (re)indexed once, not per batch.
    """
    hashed = _hashed_shingles(df, text_col, id_col, shingle_k)
    banded = _bands_of(_with_signature(hashed, num_hashes), id_col, num_hashes, bands)
    banded.write.mode(mode).parquet(os.path.join(path, "bands"))
    hashed.write.mode(mode).parquet(os.path.join(path, "shingles"))


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs touching a NEW batch, against an existing index.

    The incremental-ingest shape: per batch the work is
    |batch| × bands band rows probing the index's band buckets plus a
    batch-internal self-join — the corpus is never re-paired against
    itself (at 100 TB that difference is the job being minutes vs
    impossible). Pairs are (id_a < id_b, jaccard ≥ threshold) with at
    least one side in ``new_docs``; identical parameters give exactly
    the pairs the full recompute would emit for those ids (same
    banding, same exact verify — proven in tests/test_llm_ops.py).
    After ingesting, call :func:`write_minhash_index` with
    ``mode="append"`` to extend the index with the batch.
    """
    spark = new_docs.sparkSession
    new_hashed = _hashed_shingles(new_docs, text_col, id_col, shingle_k).persist()
    new_bands = _bands_of(
        _with_signature(new_hashed, num_hashes), id_col, num_hashes, bands
    )
    idx_bands = spark.read.parquet(os.path.join(index_path, "bands"))
    idx_shingles = spark.read.parquet(os.path.join(index_path, "shingles"))

    # candidates: new × index (bucket probe) ∪ new × new (within batch)
    a, b = new_bands.alias("a"), idx_bands.alias("b")
    cross = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
    )
    n1, n2 = new_bands.alias("a"), new_bands.alias("b")
    within = n1.join(
        n2,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    cand = cross.unionByName(within).dropDuplicates(["id_a", "id_b"])

    # exact verify over the union of shingle sources (a candidate's
    # sides can live in either relation)
    shingles = idx_shingles.unionByName(new_hashed).dropDuplicates([id_col])
    sh_a = shingles.select(F.col(id_col).alias("id_a"), F.col("_bh").alias("sh_a"))
    sh_b = shingles.select(F.col(id_col).alias("id_b"), F.col("_bh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact substring duplication (char-gram span detection)
# ---------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 20,
    stride: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Character-level duplicated-substring spans, corpus-wide.

    The exact-substring dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally with WINNOWING anchors (Schleimer et al. 2003)
    instead of a suffix array: hash the char ``gram_len``-gram at
    EVERY position, keep per document the argmin-hash position of
    each ``stride``-length position window (so anchor choice depends
    only on CONTENT — two occurrences of a substring at different
    offsets anchor the same grams, which a fixed-phase sample
    provably misses — and consecutive anchors are never more than
    ``stride`` apart). Count each anchored gram across the WHOLE
    corpus (within-doc repetition counts too) and mark anchors whose
    gram occurs >= ``min_count`` times; marked [i, i+gram_len)
    windows merge per document into maximal spans (island detection:
    running max of previous ends over one document-keyed window).
    Returns ``(id, span_start, span_end, span_len)`` — 1-based
    half-open char offsets, ready for span excision before training.

    100 TB shape: the per-position hash pass is narrow CPU on the
    scan; the winnowing window and the island merge are the only
    document-keyed exchanges (~|chars| rows, then ~|chars|/stride).
    The gram count is a map-side-combined groupBy and the hot-gram
    filter comes back as a SEMI join — a boilerplate gram occurring
    millions of times adds linear rows, never candidate PAIRS (no
    quadratic blowup by construction, unlike pair-based dedup).
    """
    from pyspark.sql import Window

    from aws_dms_cdc_data_pipeline_spark.operators.partitioning import (
        fan_out_scan,
    )

    # per-POSITION char-gram hashing is the heaviest per-source-byte
    # pass in the package (one substr+hash per character) — fan out
    # aggressively before it
    t = fan_out_scan(
        df.select(F.col(id_col), F.col(text_col).alias("_t")),
        min_bytes_per_partition=128 * 1024,
    ).filter(F.length("_t") >= gram_len)
    pos = t.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.length("_t") - gram_len + 1)
        ).alias("i"),
        "_t",
    ).select(
        F.col(id_col),
        "i",
        F.expr(f"substring(_t, i, {gram_len})").alias("gr"),
    )
    hashed = pos.withColumn("h", F.xxhash64("gr"))
    w_win = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(-(stride - 1), 0)
    )
    # argmin over the trailing window; ties (equal hashes) break on
    # the smaller position — (h, i, gr) struct ordering is total
    anchors = (
        hashed.withColumn(
            "_a", F.min(F.struct("h", "i", "gr")).over(w_win)
        )
        .select(
            F.col(id_col),
            F.col("_a.i").alias("i"),
            F.col("_a.gr").alias("gr"),
        )
        .distinct()
    )
    g = anchors
    hot = (
        g.groupBy("gr")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gr")
    )
    d = g.join(hot, "gr", "left_semi").select(
        F.col(id_col),
        F.col("i").alias("s"),
        (F.col("i") + gram_len).alias("e"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("s")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = d.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn("island", F.sum("_new").over(w))
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
            (F.max("e") - F.min("s")).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_end", "span_len")
    )


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut ``[span_start, span_end)`` char ranges out of each doc —
    the excision half of exact-substring dedup (pair with
    :func:`duplicated_spans`, whose islands are disjoint and sorted
    by construction; overlapping input spans must be pre-merged).

    Pure-JVM: spans collapse to one sorted per-doc array (bounded by
    text length / stride), ride a key join, and a single ``aggregate``
    fold stitches the kept segments back together. Docs without spans
    pass through untouched (left join + null guard). Output schema is
    the input schema with ``text_col`` replaced by the cleaned text.
    """
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("long").alias("s"),
                    F.col("span_end").cast("long").alias("e"),
                )
            )
        ).alias("_spans")
    )
    joined = df.join(sp, id_col, "left")
    t = F.col(text_col)
    folded = F.aggregate(
        F.col("_spans"),
        F.struct(
            F.lit(1).cast("long").alias("pos"), F.lit("").alias("out")
        ),
        lambda acc, s: F.struct(
            s["e"].alias("pos"),
            F.concat(
                acc["out"], F.substring(t, acc["pos"], s["s"] - acc["pos"])
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substring(t, acc["pos"], F.length(t) - acc["pos"] + 1),
        ),
    )
    cleaned = F.when(F.col("_spans").isNull(), t).otherwise(folded)
    return joined.withColumn(text_col, cleaned).drop("_spans")
