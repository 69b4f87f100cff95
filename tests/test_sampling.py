"""Hash sampling: growth-invariant splits, partitioning-independent."""

from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
    hash_sample,
    with_split,
)
from aws_dms_cdc_data_pipeline_spark.session import load_table


def test_split_assignment_survives_corpus_growth(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    half = docs.filter(F.col("doc_id") < 250)
    full_split = {r.doc_id: r.split for r in with_split(docs).collect()}
    half_split = {r.doc_id: r.split for r in with_split(half).collect()}
    # the eval membership of existing docs never changes as data grows
    assert all(full_split[d] == s for d, s in half_split.items())
    # all three splits are populated roughly per fractions
    counts = {s: 0 for s in ("train", "val", "test")}
    for s in full_split.values():
        counts[s] += 1
    assert counts["train"] > counts["val"] > 0 and counts["test"] > 0


def test_hash_sample_partitioning_independent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id for r in hash_sample(docs, 0.25).collect()}
    b = {r.doc_id for r in hash_sample(docs.repartition(13), 0.25).collect()}
    assert a == b
    n = docs.count()
    assert 0.15 * n < len(a) < 0.35 * n  # ~25% with hash variance


def test_stratified_hash_sample_weights_and_monotonicity(spark, sf_dir):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    light = stratified_hash_sample(
        docs, {"src0": 0.3}, default_fraction=0.1
    )
    heavy = stratified_hash_sample(
        docs, {"src0": 0.9}, default_fraction=0.1
    )
    l_ids = {r.doc_id for r in light.select("doc_id").collect()}
    h_ids = {r.doc_id for r in heavy.select("doc_id").collect()}
    # monotone: raising src0's weight only ADDS documents
    assert l_ids <= h_ids and len(h_ids) > len(l_ids)
    # per-stratum rates land near their targets
    tot = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    kept = {r.source: r["count"] for r in heavy.groupBy("source").count().collect()}
    assert 0.7 <= kept["src0"] / tot["src0"] <= 1.0
    others = sum(v for s, v in kept.items() if s != "src0")
    others_tot = sum(v for s, v in tot.items() if s != "src0")
    assert 0.03 <= others / others_tot <= 0.2
    # determinism across invocations
    again = {
        r.doc_id
        for r in stratified_hash_sample(docs, {"src0": 0.9}, default_fraction=0.1)
        .select("doc_id").collect()
    }
    assert again == h_ids


def test_deterministic_shuffle_is_reproducible_permutation(spark, sf_dir):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    a = deterministic_shuffle(docs, seed="s1", num_shards=8)
    rows = a.select("doc_id", "shard", "pos").collect()
    # a permutation: every doc exactly once, (shard, pos) unique,
    # pos contiguous 1..shard_size within each shard
    assert len(rows) == n == len({r.doc_id for r in rows})
    assert len({(r.shard, r.pos) for r in rows}) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert 0 <= shard < 8
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # md5 uniformity keeps shards balanced (loose bound at small n)
    sizes = [len(p) for p in by_shard.values()]
    assert len(by_shard) == 8 and max(sizes) < 3 * min(sizes)
    # same seed → identical order; different seed → different order
    again = deterministic_shuffle(docs, seed="s1", num_shards=8)
    assert sorted(map(tuple, again.select("doc_id", "shard", "pos").collect())) \
        == sorted(map(tuple, rows))
    other = deterministic_shuffle(docs, seed="s2", num_shards=8)
    assert sorted(map(tuple, other.select("doc_id", "shard", "pos").collect())) \
        != sorted(map(tuple, rows))


def test_per_stratum_cap_exact_and_deterministic(spark, sf_dir):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        per_stratum_cap,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = per_stratum_cap(docs, 5, seed="s")
    sizes = dict(capped.groupBy("source").count().collect())
    tot = dict(docs.groupBy("source").count().collect())
    for src, n in sizes.items():
        assert n == min(5, tot[src])  # cap holds exactly per stratum
    a = sorted(r.doc_id for r in capped.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in per_stratum_cap(docs, 5, seed="s").select("doc_id").collect()
    )
    assert a == b  # deterministic
    c = sorted(
        r.doc_id
        for r in per_stratum_cap(docs, 5, seed="t").select("doc_id").collect()
    )
    assert a != c  # seed changes the pick


def test_negative_samples_properties(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = negative_samples(docs, id_col="doc_id", k=3, num_shards=4).collect()

    rows = [(r["anchor_id"], r["neg_rank"], r["negative_id"]) for r in out]
    # no self-pairs
    assert all(a != n for a, _, n in rows)
    # every anchor gets exactly k distinct negatives
    from collections import Counter, defaultdict

    per_anchor = defaultdict(set)
    for a, r, n in rows:
        per_anchor[a].add((r, n))
    assert all(len(v) == 3 for v in per_anchor.values())
    assert len(per_anchor) == 200
    # balanced usage: every doc serves as a negative exactly k times
    usage = Counter(n for _, _, n in rows)
    assert set(usage.values()) == {3}
    # deterministic: second run identical
    again = negative_samples(docs, id_col="doc_id", k=3, num_shards=4).collect()
    assert sorted(rows) == sorted(
        (r["anchor_id"], r["neg_rank"], r["negative_id"]) for r in again
    )
    # different seed -> different pairing (overwhelmingly)
    other = negative_samples(
        docs, id_col="doc_id", k=3, num_shards=4, seed="s2"
    ).collect()
    assert sorted(rows) != sorted(
        (r["anchor_id"], r["neg_rank"], r["negative_id"]) for r in other
    )


def test_negative_samples_tiny_shards(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    # 2 docs, k=4: each can only have 1 partner; singleton case drops
    docs = spark.range(0, 2).withColumnRenamed("id", "doc_id")
    out = negative_samples(docs, id_col="doc_id", k=4, num_shards=1).collect()
    assert len(out) == 2
    assert all(r["neg_rank"] == 1 for r in out)
    one = spark.range(0, 1).withColumnRenamed("id", "doc_id")
    assert negative_samples(one, id_col="doc_id", k=4, num_shards=1).count() == 0


def test_upsample_mixture_copy_semantics(spark):
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        upsample_mixture,
    )

    docs = spark.createDataFrame(
        [(i, "code" if i % 3 == 0 else ("web" if i % 3 == 1 else "junk"))
         for i in range(300)],
        "doc_id long, source string",
    )
    out = upsample_mixture(
        docs, {"code": 2.5, "web": 1.0, "junk": 0.0}
    ).collect()
    from collections import Counter

    copies = Counter()
    for r in out:
        copies[(r["doc_id"], r["source"])] += 1
    # junk fully dropped; web exactly once
    assert not any(s == "junk" for _, s in copies)
    web = [c for (_, s), c in copies.items() if s == "web"]
    assert web and set(web) == {1}
    # code rows: 2 or 3 copies each, mean ≈ 2.5
    code = [c for (_, s), c in copies.items() if s == "code"]
    assert set(code) <= {2, 3}
    assert 2.2 < sum(code) / len(code) < 2.8
    # copy_idx is 1..n per doc
    idx = {}
    for r in out:
        idx.setdefault(r["doc_id"], []).append(r["copy_idx"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in idx.values())
    # deterministic across runs
    again = upsample_mixture(docs, {"code": 2.5, "web": 1.0, "junk": 0.0})
    assert sorted(map(tuple, out)) == sorted(map(tuple, again.collect()))
    with pytest.raises(ValueError, match="weights"):
        upsample_mixture(docs, {})


def test_temporal_split_holds_out_latest_per_key(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import temporal_split

    rows = []
    for u in (1, 2):
        for i in range(5):
            rows.append((u, i, f"2024-01-0{i+1} 00:00:00"))
    rows.append((3, 99, "2024-01-01 00:00:00"))  # single-event key
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["user_id"], r["event_id"]): r["split"]
           for r in temporal_split(df, "user_id", "ts", holdout_n=2,
                                   tie_col="event_id").collect()}
    for u in (1, 2):
        assert out[(u, 4)] == "test" and out[(u, 3)] == "test"
        assert out[(u, 2)] == out[(u, 1)] == out[(u, 0)] == "train"
    assert out[(3, 99)] == "test"  # <= holdout_n events -> all test


def test_temporal_split_tie_break_deterministic(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import temporal_split

    # all events share one timestamp: the tie column alone decides
    df = spark.createDataFrame(
        [(1, i, "2024-06-01 12:00:00") for i in range(4)],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for _ in range(2):
        out = {r["event_id"]: r["split"]
               for r in temporal_split(df, "user_id", "ts", holdout_n=1,
                                       tie_col="event_id").collect()}
        assert out == {3: "test", 2: "train", 1: "train", 0: "train"}


def test_temperature_mixture_shares_and_monotonicity(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        temperature_fractions,
        temperature_mixture,
    )

    rows = (
        [(i, "big") for i in range(4000)]
        + [(i + 10_000, "mid") for i in range(1000)]
        + [(i + 20_000, "small") for i in range(250)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    fr = temperature_fractions(df, alpha=0.5)
    assert fr["small"] == 1.0
    assert abs(fr["mid"] - 0.5) < 1e-12      # sqrt(250/1000)
    assert abs(fr["big"] - 0.25) < 1e-12     # sqrt(250/4000)

    sampled = temperature_mixture(df, alpha=0.5)
    got = {r["source"]: r["count"] for r in sampled.groupBy("source").count().collect()}
    # smallest domain kept (nearly) whole; others near their fraction
    assert got["small"] >= 248  # 'ffff' cap can drop ~1/65536
    assert abs(got["mid"] / 1000 - 0.5) < 0.08
    assert abs(got["big"] / 4000 - 0.25) < 0.05

    # alpha=1 → natural proportions (every fraction 1.0, nothing dropped)
    assert temperature_mixture(df, alpha=1.0).count() == df.count()

    # fractions grow with alpha: a colder (lower-alpha) sample is a
    # subset of a hotter one — dataset versions nest
    hot = {r["doc_id"] for r in temperature_mixture(df, alpha=0.5).collect()}
    cold = {r["doc_id"] for r in temperature_mixture(df, alpha=0.3).collect()}
    assert cold <= hot


def test_weighted_sample_determinism_and_weight_bias(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, 10.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    a = {r["doc_id"] for r in weighted_sample(df, 100, weight_col="w").collect()}
    b = {
        r["doc_id"]
        for r in weighted_sample(
            df.repartition(13), 100, weight_col="w"
        ).collect()
    }
    assert a == b and len(a) == 100  # deterministic, layout-invariant

    # heavy items (w=10, 10% of rows) must be strongly over-represented
    heavy_rate = sum(1 for i in range(10) for d in [
        {r["doc_id"] for r in weighted_sample(
            df, 100, weight_col="w", salt=i).collect()}
    ] for x in d if x < 50) / (10 * 100)
    assert heavy_rate > 0.25  # vs 0.10 under uniform sampling

    # zero/NULL weights never selected
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, None), (3, 5.0)], "doc_id long, w double"
    )
    got = {r["doc_id"] for r in weighted_sample(df2, 3, weight_col="w").collect()}
    assert got == {3}


def test_dsir_log_weights_ranks_target_like_docs(spark):
    """Docs sharing the target domain's vocabulary score higher than
    off-domain docs; the quantized score is an exact integer sum and
    matches an independent Python reference on a tiny corpus."""
    import hashlib
    import math

    from aws_dms_cdc_data_pipeline_spark.operators.sampling import (
        dsir_log_weights,
    )

    rows = [
        (1, "spark shuffle join broadcast spark", True),
        (2, "spark join window shuffle", True),
        (3, "der und die das der und", False),
        (4, "spark shuffle broadcast join window", False),  # target-like
        (5, "der die das und der", False),                  # off-domain
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(
            df, df.tgt, buckets=64, alpha=1.0
        ).collect()
    }
    assert out[4]["log_weight"] > out[5]["log_weight"]

    # independent reference (same tokenizer, hashing, quantization)
    def toks(t):
        ws = [w for w in t.lower().split(" ") if w]
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % 64

    ct, cs = {}, {}
    for _, text, tgt in rows:
        for f in toks(text):
            b = bucket(f)
            cs[b] = cs.get(b, 0) + 1
            if tgt:
                ct[b] = ct.get(b, 0) + 1
    tt, ts = sum(ct.values()), sum(cs.values())
    for i, text, _ in rows:
        wq = 0
        for f in toks(text):
            b = bucket(f)
            wq += math.floor(
                math.log((ct.get(b, 0) + 1.0) / (tt + 64.0)) * 1e6
            ) - math.floor(
                math.log((cs.get(b, 0) + 1.0) / (ts + 64.0)) * 1e6
            )
        assert out[i]["log_weight_q"] == wq, i
        assert out[i]["n_features"] == len(toks(text))
