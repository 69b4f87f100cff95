"""Planted-fixture tests for the LLM-data-pipeline operators
(dedup / similarity / text).
"""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators import dedup as D
from aws_dms_cdc_data_pipeline_spark.operators import similarity as V
from aws_dms_cdc_data_pipeline_spark.operators import text as X


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_collapses_normalized_variants(spark):
    df = _docs(
        spark,
        [
            (1, "The quick   brown fox"),
            (2, "the quick brown fox"),      # same after normalization
            (3, "  THE QUICK BROWN FOX  "),  # same after normalization
            (4, "a different document"),
        ],
    )
    kept = sorted(r.doc_id for r in D.exact_dedup(df).collect())
    assert kept == [1, 4]  # lowest id survives per group


# ---------------------------------------------------------------------------
# jaccard family — planted pairs with hand-computable similarity
# ---------------------------------------------------------------------------

NEAR_A = "the cat sat on the mat and looked at the bird outside the window today"
NEAR_B = "the cat sat on the mat and looked at the bird outside the window now"
FAR = "completely unrelated text about spark physical plans and shuffles"


def test_ngram_jaccard_planted_pair(spark):
    df = _docs(spark, [(1, NEAR_A), (2, NEAR_B), (3, FAR)])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert set(pairs) == {(1, 2)}
    # 14-word docs, 12 shared 3-grams of 12 each → J = 11/13
    a, b = NEAR_A.split(), NEAR_B.split()
    ga = {" ".join(a[i:i + 3]) for i in range(len(a) - 2)}
    gb = {" ".join(b[i:i + 3]) for i in range(len(b) - 2)}
    expected = len(ga & gb) / len(ga | gb)
    assert pairs[(1, 2)] == pytest.approx(expected, abs=1e-6)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_planted(spark):
    df = _docs(spark, [(1, NEAR_A), (2, NEAR_B), (3, FAR), (4, NEAR_A)])
    got = {(r.id_a, r.id_b): r.edit_dist
           for r in D.edit_distance_pairs(df).collect()}
    # (1,2) near pair with the reference DP's exact distance; (1,4)/(2,4)
    # identical/near copies; FAR shares no 5-gram block with anyone.
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert got[(1, 4)] == 0
    assert got[(1, 2)] == _lev(NEAR_A, NEAR_B) == got[(2, 4)]


def test_edit_distance_pairs_length_prefilter_and_bound(spark):
    # shares a long prefix (many shared grams) but is 100+ chars longer —
    # the |len| prefilter must reject it before any DP runs
    padded = NEAR_A + " padding" * 20
    df = _docs(spark, [(1, NEAR_A), (2, padded)])
    assert D.edit_distance_pairs(df).count() == 0
    # same length (prefilter passes) but distance above max_dist →
    # the banded DP's -1 path must drop it
    mut = NEAR_A[:-14] + "x" * 14
    df2 = _docs(spark, [(1, NEAR_A), (2, mut)])
    assert D.edit_distance_pairs(df2, max_dist=10).count() == 0
    kept = D.edit_distance_pairs(df2, max_dist=32).collect()
    assert [(r.id_a, r.id_b, r.edit_dist) for r in kept] == [
        (1, 2, _lev(NEAR_A.lower(), mut.lower()))
    ]


def test_edit_distance_pairs_min_shared_grams(spark):
    # docs overlap in exactly one 3-gram window → below the 5-gram floor
    df = _docs(spark, [(1, "alpha beta gamma delta"),
                       (2, "beta gamma delta epsilon zeta")])
    assert D.edit_distance_pairs(df, max_dist=100).count() == 0
    assert D.edit_distance_pairs(df, max_dist=100, min_shared_grams=1).count() == 1


def test_ngram_jaccard_max_df_caps_stop_shingle(spark):
    # Plant a stop-shingle: "zz yy xx" appears in EVERY doc. Without a
    # cap, its posting list alone contributes O(p²) candidate rows —
    # with max_df=2 it is dropped from the index, so the two boiler-
    # plate-only docs (5, 6) share nothing and never become a pair,
    # while the genuinely-near pair (1, 2) still scores on its own
    # (rare) grams.
    boiler = "zz yy xx"
    df = _docs(
        spark,
        [
            (1, NEAR_A + " " + boiler),
            (2, NEAR_B + " " + boiler),
            (3, FAR + " " + boiler),
            (5, boiler),
            (6, boiler),
        ],
    )
    pairs = {(r.id_a, r.id_b)
             for r in D.ngram_jaccard_pairs(df, threshold=0.2, max_df=2).collect()}
    assert (1, 2) in pairs
    assert (5, 6) not in pairs        # stop-shingle-only overlap is capped away
    # exactness when the cap does not trigger: max_df above corpus size
    # reproduces the uncapped (exact) result bit-for-bit
    exact = {(r.id_a, r.id_b, r.jaccard)
             for r in D.ngram_jaccard_pairs(df, threshold=0.2, max_df=None).collect()}
    high = {(r.id_a, r.id_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(df, threshold=0.2, max_df=10_000).collect()}
    assert exact == high


def test_minhash_lsh_finds_planted_near_dup_not_far_pair(spark):
    df = _docs(spark, [(1, NEAR_A), (2, NEAR_B), (3, FAR)])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.minhash_lsh_pairs(df, jaccard_threshold=0.6).collect()}
    assert (1, 2) in pairs            # char-5-shingle Jaccard is high
    assert all(3 not in p for p in pairs)
    # reported jaccard is the EXACT verify value on distinct shingle sets
    def shingles(t):
        t = " ".join(t.lower().split())
        return {t[i:i + 5] for i in range(len(t) - 4)}
    expected = len(shingles(NEAR_A) & shingles(NEAR_B)) / len(
        shingles(NEAR_A) | shingles(NEAR_B)
    )
    assert pairs[(1, 2)] == pytest.approx(expected, abs=1e-6)


def test_simhash_identical_and_near_docs(spark):
    df = _docs(spark, [(1, NEAR_A), (2, NEAR_A), (3, NEAR_B), (4, FAR)])
    got = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(df).collect()}
    assert got[(1, 2)] == 0           # identical text → identical signature
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_token_counts_planted(spark):
    df = _docs(spark, [(1, "Hello, world! 42 times"), (2, "   "), (3, "one")])
    rows = {r.doc_id: r for r in X.with_token_counts(df).collect()}
    assert rows[1].ws_tokens == 4
    # Hello , world ! 42 times → 6 BPE-ish tokens
    assert rows[1].bpe_tokens == 6
    assert rows[2].ws_tokens == 0
    assert rows[3].ws_tokens == 1 and rows[3].bpe_tokens == 1


def test_lang_id_marker_docs(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, "le chat et les chiens et le chien"),
            (4, "el gato que vive con los perros"),
        ],
    )
    got = {r.doc_id: r.pred_lang for r in X.with_lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_lang_id_planted_multilingual_accuracy(spark):
    """Honesty probe for the marker heuristic (E11): measured accuracy
    on realistic multi-sentence prose per language, PLUS explicit
    assertions of the two documented failure modes — so the
    component's claims stay calibrated to what a 15-marker heuristic
    actually delivers (the docstring names fastText lid.176 / CLD3 as
    the production swap-in)."""
    planted = [
        # (id, true lang, realistic prose containing function words)
        (1, "en", "the report and the summary of the quarter show growth"),
        (2, "en", "most of the teams shipped the features and the fixes"),
        (3, "en", "the value of the work and the cost of the delay"),
        (4, "de", "der bericht und die zusammenfassung zeigen der trend"),
        (5, "de", "die teams und der plan und die ergebnisse sind gut"),
        (6, "de", "der wert und die kosten und der nutzen der arbeit"),
        (7, "fr", "le rapport et les chiffres montrent le progres"),
        (8, "fr", "les equipes et le plan et les resultats sont bons"),
        (9, "fr", "le travail et les couts et le temps du projet"),
        (10, "es", "el informe que muestra los datos que pedimos"),
        (11, "es", "los equipos que trabajan con el plan y los datos"),
        (12, "es", "el valor que aportan los cambios que hicimos"),
        (13, "zh", "zhe shi yi ge hen hao de bao gao de jie guo"),
        (14, "zh", "wo men de tuan dui shi zui hao de tuan dui le"),
        (15, "zh", "zhe ge ji hua de jie guo shi hen hao de le"),
    ]
    df = _docs(spark, [(i, t) for i, _, t in planted])
    got = {r.doc_id: r.pred_lang for r in X.with_lang_id(df).collect()}
    correct = sum(1 for i, lang, _ in planted if got[i] == lang)
    # the heuristic must be PERFECT on marker-bearing prose — that is
    # its entire claim; anything below is a regression
    assert correct == len(planted), {
        i: (lang, got[i]) for i, lang, _ in planted if got[i] != lang
    }

    # documented failure mode 1: marker-free text scores 0 everywhere
    # and falls to the lexicographic default 'de' (first marker code)
    blank = _docs(spark, [(1, "xyzzy plugh quux"), (2, "12345 67890")])
    assert {r.pred_lang for r in X.with_lang_id(blank).collect()} == {"de"}

    # documented failure mode 2: cross-language marker collision —
    # French 'le' is also a pinyin zh marker, so 'le'-only text (no
    # et/les) resolves by tie-break to 'fr' (< 'zh'), NOT by evidence
    leaky = _docs(spark, [(1, "le le le")])
    assert X.with_lang_id(leaky).collect()[0].pred_lang == "fr"


def test_quality_score_orders_quality(spark):
    good = ("this is a long and well formed paragraph with the usual flow of "
            "words and a reasonable amount of structure to it in the end. " * 3)
    bad = "!!! ??? ,,, ;;; !!!"
    df = _docs(spark, [(1, good), (2, bad)])
    rows = {r.doc_id: r for r in X.with_quality_score(df).collect()}
    assert 0.0 <= rows[2].quality_score < rows[1].quality_score <= 1.0
    assert rows[2].punct_ratio > rows[1].punct_ratio


def test_fingerprint_normalization_invariance(spark):
    df = _docs(spark, [(1, "Some  Text"), (2, "some text"), (3, "other")])
    rows = {r.doc_id: r.fingerprint for r in X.with_fingerprint(df).collect()}
    assert rows[1] == rows[2] != rows[3]


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _emb(spark, sf_dir):
    from aws_dms_cdc_data_pipeline_spark.session import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_brute_force_topk_matches_single_window_reference(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fast = V.brute_force_topk(emb, queries, k=5)
    # reference: the plain one-window formulation (pre-optimization path)
    joined = emb.crossJoin(F.broadcast(queries)).withColumn(
        "cosine", F.round(V.cosine_similarity(F.col("embedding"), F.col("query_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    ref = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine", "rank")
    )
    assert sorted(map(str, fast.collect())) == sorted(map(str, ref.collect()))


def test_lsh_topk_recall_against_brute_force(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id)
             for r in V.brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in V.lsh_topk(emb, queries, k=5, dim=64, num_planes=6).collect()}
    recall = len(exact & approx) / len(exact)
    # random vectors are LSH's worst case (neighbors barely beat noise);
    # 6-plane multi-probe still must land far above the 1% random baseline
    assert recall >= 0.3
    # every query still gets k results (bucket fallback covered them)
    assert len(approx) == len(exact)


def test_exact_cosine_pairs_planted(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # cos ≈ 0.9939
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b): r.cosine
           for r in V.exact_cosine_pairs(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)


def test_exact_cosine_pairs_enforces_corpus_bound(spark):
    df = spark.range(10).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="max_rows"):
        V.exact_cosine_pairs(df, max_rows=5)


# ---------------------------------------------------------------------------
# repetition scores
# ---------------------------------------------------------------------------

def test_repetition_scores_planted(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        with_repetition_scores,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # bigrams: ab ba ab ba ab -> 2/5 distinct
            (2, "one two three four"),    # all distinct
            (3, "x"),                     # shorter than any n: zero grams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in with_repetition_scores(df).collect()
    }
    assert out[1].ngrams_2 == 5 and out[1].distinct_2 == 2
    assert out[1].dup_fp_2 == int((1 - 2 / 5) * 1e6)
    assert out[2].dup_fp_2 == 0 and out[2].dup_fp_3 == 0
    assert out[3].ngrams_2 == 0 and out[3].dup_fp_2 == 0
    # repeated text repeats its trigrams too
    assert out[1].dup_fp_3 > 0


def test_nearest_centroid_classify_planted_clusters(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.similarity import (
        nearest_centroid_classify,
    )

    # two tight clusters on orthogonal axes + one mislabeled vector
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.95, 0.05], 0),
        (4, [0.0, 1.0], 1), (5, [0.1, 0.9], 1), (6, [0.05, 0.95], 1),
        (7, [0.99, 0.01], 1),  # labeled 1 but sits in cluster 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r.label, r.pred_label): r.n_vectors
        for r in nearest_centroid_classify(df).collect()
    }
    assert out[(0, 0)] == 3          # clean cluster 0 all correct
    assert out[(1, 0)] == 1          # the planted mislabel crosses over
    assert out[(1, 1)] == 3
    # exact tie between both centroids -> smaller label wins
    tie = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [1.0, 0.0], 0),
         (4, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    # vector [0.5, 0.5] scores identically against both centroids
    tie = tie.union(spark.createDataFrame(
        [(5, [0.5, 0.5], 1)], "vec_id long, embedding array<float>, label int"))
    got = {
        (r.label, r.pred_label): r.n_vectors
        for r in nearest_centroid_classify(tie).collect()
    }
    assert got.get((1, 0)) == 1  # the tied vector went to label 0


def test_unigram_logprob_orders_rarity(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.text import unigram_logprob

    # "common common common" vs a doc of hapaxes: common words score higher
    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rare1 rare2 rare3 rare4"),
            (3, "common rare5 common common"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[1].mean_logprob > out[3].mean_logprob > out[2].mean_logprob
    assert out[1].n_terms == 4
    # sum is integer micro-nats: sum_lq/1e6/n == mean exactly
    for r in out.values():
        assert abs(r.sum_lq / 1e6 / r.n_terms - r.mean_logprob) < 1e-12


def test_source_overlap_matrix_counts_shared_fingerprints(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    df = spark.createDataFrame(
        [
            (1, "shared doc one", "web"),
            (2, "Shared   Doc One", "wiki"),   # same after normalization
            (3, "shared doc two", "web"),
            (4, "shared doc two", "wiki"),
            (5, "shared doc two", "books"),
            (6, "unique to web", "web"),
            (7, "shared doc one", "web"),      # intra-source dup: no self-pair
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_overlap_matrix(df).collect()
    }
    assert out[("web", "wiki")] == 2          # both shared docs
    assert out[("books", "web")] == 1
    assert out[("books", "wiki")] == 1
    assert len(out) == 3                      # no self-pairs, ordered pairs only


def test_ngram_novelty_separates_original_from_templated(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import (
        ngram_novelty_scores,
    )

    template = "click here to subscribe to our amazing newsletter today"
    rows = [
        ("orig", "the quick brown fox jumps over the lazy dog tonight"),
        ("spam1", template + " offer one"),
        ("spam2", template + " offer two"),
        ("spam3", template + " offer three"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in ngram_novelty_scores(df).collect()}
    assert out["orig"]["novelty"] == 1.0  # fully unique
    for d in ("spam1", "spam2", "spam3"):
        assert out[d]["novelty"] < 0.5  # template grams shared
        assert out[d]["n_unique_grams"] < out[d]["n_grams"]
    # counts are exact: orig has len(words)-2 distinct grams
    assert out["orig"]["n_grams"] == 8


def test_incremental_minhash_equals_full_recompute(spark, tmp_path):
    """Probing a new batch against the materialized band index yields
    EXACTLY the full-recompute pairs that touch the batch."""
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus_rows = [
        (f"c{i:03d}", f"{base} variant {i} " + " ".join(f"w{i}{j}" for j in range(6)))
        for i in range(30)
    ]
    # two corpus docs that are near-dups of each other
    corpus_rows += [("cdupA", base + " shared tail one"),
                    ("cdupB", base + " shared tail one!")]
    new_rows = [
        ("n001", base + " shared tail one"),        # near-dup of cdupA/B
        ("n002", "completely different text about spark shuffles and joins"),
        ("n003", "completely different text about spark shuffles and joins!"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id string, text string")
    new = spark.createDataFrame(new_rows, "doc_id string, text string")

    idx = str(tmp_path / "mh_index")
    write_minhash_index(corpus, idx)
    got = sorted(map(tuple,
        incremental_minhash_pairs(new, idx).collect()))

    full = minhash_lsh_pairs(corpus.unionByName(new))
    new_ids = {r[0] for r in new_rows}
    want = sorted(
        tuple(r) for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    assert got == want and got  # non-trivial: planted dups found

    # extend the index with the batch; a re-probe of the SAME batch
    # now also sees itself (pairs unchanged — idempotent content)
    write_minhash_index(new, idx, mode="append")
    again = sorted(map(tuple, incremental_minhash_pairs(new, idx).collect()))
    assert again == got


def test_ngram_jaccard_capped_equals_uncapped_when_no_stop_grams(spark, sf_dir):
    """With max_df above every gram's df the posting-list (capped)
    path and the streaming self-join (uncapped) path must produce the
    identical pair set — they are two physical shapes of one query."""
    import aws_dms_cdc_data_pipeline_spark.operators.dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_df=10**9).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_df=None).collect()
    }
    assert capped == uncapped and capped


def test_containment_detects_quoted_subset(spark):
    """A short doc fully quoted inside a long one: containment ~1.0,
    jaccard small — the asymmetric signal symmetric dedup misses."""
    import aws_dms_cdc_data_pipeline_spark.operators.dedup as D

    quote = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        (1, quote),                      # contained
        (2, filler + " " + quote + " " + filler.replace("w", "z")),  # container
        (3, "completely unrelated text about other things entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["contained_id"], r["container_id"]): r
        for r in D.ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["containment"] >= 0.8          # nearly all of doc1's grams in doc2
    assert r["jaccard"] < 0.2               # symmetric similarity stays low
    assert (2, 1) not in out                # the big doc is NOT contained in the small
    assert all(3 not in k for k in out)


def test_bigram_logprob_order_awareness(spark):
    """The order-aware LM separates scrambled text from fluent text
    with identical unigram content; short docs (<2 tokens) drop;
    quantized mean matches a fixed-point Python reference."""
    import math
    import re

    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        bigram_logprob,
    )

    fluent = "the cat sat on the mat"
    rows = [
        (1, fluent), (2, fluent), (3, fluent),
        (4, "mat the on sat cat the"),   # same unigrams, scrambled
        (5, "single"),                    # no bigram -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_lq"], r["mean_logprob"])
        for r in bigram_logprob(df).collect()
    }
    assert 5 not in got
    assert got[1] == got[2] == got[3]
    assert got[1][2] > got[4][2]  # fluent beats scrambled

    # fixed-point reference
    toks = {i: re.split(r"[^a-z0-9]+", t.lower()) for i, t in rows}
    toks = {i: [w for w in ws if w] for i, ws in toks.items()}
    vocab = {w for ws in toks.values() for w in ws}
    pairs = {
        i: list(zip(ws, ws[1:])) for i, ws in toks.items() if len(ws) >= 2
    }
    from collections import Counter

    bg = Counter(p for ps in pairs.values() for p in ps)
    ctx = Counter(p[0] for ps in pairs.values() for p in ps)
    for i, ps in pairs.items():
        sq = sum(
            round(math.log((bg[p] + 1.0) / (ctx[p[0]] + 1.0 * len(vocab)))
                  * 1e6)
            for p in ps
        )
        assert got[i][0] == len(ps)
        assert got[i][1] == sq
        assert got[i][2] == pytest.approx(sq / 1e6 / len(ps))


def test_gopher_quality_flags_each_rule(spark):
    """Each Gopher rule trips on a planted violation and passes on a
    conforming doc; thresholds are the published inclusive bounds."""
    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        gopher_quality_flags,
    )

    good = "the quick brown foxes jumped over with many " \
           + " ".join(f"word{i:03d}" for i in range(50))
    rows = [
        (1, good),                                   # passes everything
        (2, "the of and " + "xx " * 10),             # too few words
        (3, "the of " + "a " * 98),                  # mean word len < 3
        (4, "the of with " + "### " * 20 + "w " * 47),  # symbol ratio
        (5, "the of with " + "123 456 " * 30),       # alpha share < 80%
        (6, " ".join(f"word{i:03d}" for i in range(60))),  # no stopwords
        (7, good + "\n" + "\n".join("- bullet" for _ in range(20))),
        (8, good + "\n" + "\n".join("trail..." for _ in range(9))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert out[1]["passes"]
    assert not out[2]["ok_word_count"]
    assert not out[3]["ok_mean_word_len"]
    assert not out[4]["ok_symbol_ratio"]
    assert not out[5]["ok_alpha_words"]
    assert not out[6]["ok_stopwords"] and out[6]["ok_alpha_words"]
    # doc 7: 1 text line + 20 bullet lines -> 20/21 > 90% bullets
    assert not out[7]["ok_bullet_lines"]
    # doc 8: 1 text line + 9 '...' lines -> 9/10 > 30% ellipsis endings
    assert not out[8]["ok_ellipsis_lines"]
    for d in (2, 3, 4, 5, 6, 7, 8):
        assert not out[d]["passes"], d


def test_ccnet_buckets_rank_common_word_docs_head(spark):
    """Per-language tertiles: docs made of the language's common
    words score head, rare-token soup scores tail; buckets are
    per-language (each lang gets its own cuts); boundary ties bucket
    downward deterministically."""
    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        ccnet_perplexity_buckets,
    )

    common = "the of and " * 8
    rows = []
    # lang A: 3 common docs, 3 mixed, 3 rare -> clean tertiles
    for i in range(3):
        rows.append((i, common, "aa"))
        rows.append((10 + i, "the of and " + f"mid{i} " * 6, "aa"))
        rows.append((20 + i, f"zz{i}q wq{i}x yy{i}k " * 3, "aa"))
    # lang B: its own distribution (one shared spelling with A)
    rows += [(30, "bon jour bon jour bon", "bb"),
             (31, "bon jour aussi", "bb"),
             (32, "xyzzy plugh bon", "bb")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in ccnet_perplexity_buckets(df).collect()}
    assert len(out) == 12
    for i in range(3):
        assert out[i]["ppl_bucket"] == "head", out[i]
        assert out[20 + i]["ppl_bucket"] == "tail", out[20 + i]
        assert out[10 + i]["ppl_bucket"] == "middle", out[10 + i]
    assert out[30]["lang"] == "bb" and out[30]["ppl_bucket"] == "head"
    assert out[32]["ppl_bucket"] == "tail"
    # identical texts share a score and therefore a bucket
    assert out[0]["score_q"] == out[1]["score_q"] == out[2]["score_q"]


def test_ccnet_bucket_sizes_cover_each_language(spark):
    """Buckets partition each language's docs (sizes sum to the lang
    doc count), the tail is never empty, and bucketing is monotone in
    score (min(head) > max(middle) > ... wherever both exist). Head/
    middle CAN legitimately be empty when the top score carries >1/3
    of the mass — ties bucket downward by design."""
    import random

    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        ccnet_perplexity_buckets,
    )

    rng = random.Random(5)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = []
    for i in range(30):
        k = rng.randint(3, 9)
        rows.append(
            (i, " ".join(rng.choice(vocab) for _ in range(k)),
             "aa" if i % 2 else "bb")
        )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet_perplexity_buckets(df).collect()
    assert len(out) == 30
    for lang in ("aa", "bb"):
        side = [r for r in out if r["lang"] == lang]
        assert len(side) == 15
        by_bucket = {}
        for r in side:
            by_bucket.setdefault(r["ppl_bucket"], []).append(r["score_q"])
        assert "tail" in by_bucket
        if {"head", "tail"} <= set(by_bucket):
            assert min(by_bucket["head"]) > max(by_bucket["tail"])
        if {"head", "middle"} <= set(by_bucket):
            assert min(by_bucket["head"]) > max(by_bucket["middle"])
        if {"middle", "tail"} <= set(by_bucket):
            assert min(by_bucket["middle"]) > max(by_bucket["tail"])


def test_trigram_backoff_chain_vs_reference(spark):
    """Every backoff leg fires and matches an independent Python
    reference: seen trigrams score c3/c2pre, unseen-trigram/seen-
    bigram scores lam*c2suf/c1(w2), and fully-unseen tails hit the
    Laplace unigram floor."""
    import hashlib
    import math

    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        trigram_backoff_scores,
    )

    # ids 6/9/11 hash into the md5 train half; 1/2/3 are held out
    rows = [
        (6, "a b c a b c"),
        (9, "a b d c a b"),
        (11, "b c a d b c"),
        (1, "a b c"),     # seen trigram
        (2, "z b c a"),   # unseen trigram, seen bigrams
        (3, "q r s"),     # fully unseen tail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in trigram_backoff_scores(df).collect()}

    lam = 0.4
    train_ids = {
        i for i, _ in rows
        if hashlib.md5(str(i).encode()).hexdigest()[:4] < "8000"
    }
    toks = {i: t.split(" ") for i, t in rows}
    c1, c2, c3 = {}, {}, {}
    for i in train_ids:
        t = toks[i]
        for w in t:
            c1[w] = c1.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
        for a, b, c in zip(t, t[1:], t[2:]):
            c3[(a, b, c)] = c3.get((a, b, c), 0) + 1
    N, V = sum(c1.values()), len(c1)

    def sq(a, b, c):
        if (a, b, c) in c3:
            s = c3[(a, b, c)] / c2[(a, b)]
        elif (b, c) in c2:
            s = lam * (c2[(b, c)] / c1[b])
        else:
            s = (lam * lam) * ((c1.get(c, 0) + 1.0) / (N + V))
        return math.floor(math.log(s) * 1e6)

    legs = set()
    for i, _ in rows:
        t = toks[i]
        grams = list(zip(t, t[1:], t[2:]))
        if not grams:
            assert i not in out
            continue
        ref = sum(sq(*g) for g in grams)
        assert out[i]["n_trigrams"] == len(grams), i
        assert out[i]["sum_lq"] == ref, i
        for g in grams:
            legs.add(
                "tri" if g in c3
                else "bi" if (g[1], g[2]) in c2
                else "uni"
            )
    assert legs == {"tri", "bi", "uni"}, legs


def test_char_entropy_hand_computed(spark):
    """E256: micro-nat quantized character entropy matches the
    Python reference; uniform text maxes, single-char text is 0."""
    import math

    from aws_dms_cdc_data_pipeline_spark.operators.text import (
        char_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "aaab"), (2, "aaaa"), (3, "ab cd"), (4, "   ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 normalizes to empty... 

    def ref(s):
        s = " ".join(s.lower().split())
        n = len(s)
        counts = {c: s.count(c) for c in set(s)}
        q = -sum(k * math.floor(math.log(k / n) * 1e6)
                 for k in counts.values())
        return n, q

    for d, text in ((1, "aaab"), (2, "aaaa"), (3, "ab cd")):
        n, q = ref(text)
        r = out[d]
        assert (r.n_chars_total, r.entropy_q) == (n, q), d
        assert r.char_entropy == q / n / 1e6
    assert out[2].entropy_q == 0          # single-symbol text
    assert out[3].char_entropy > out[1].char_entropy  # more uniform


def test_minhash_signature_is_per_seed_distinct(spark):
    """The r17 verdict's mandatory fix #2: the signature must carry
    num_hashes INDEPENDENT per-seed minima (min over shingle hashes of
    xxhash64(h, seed)), not num_hashes copies of one value (the
    historical 2-arg-transform lambda bug froze the operator as
    de-facto single-hash LSH). With distinct entries, banded LSH
    recall follows 1-(1-j^r)^b."""
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import (
        _hashed_shingles,
        _with_signature,
    )

    df = _docs(spark, [(1, NEAR_A), (2, NEAR_B)])
    hashed = _hashed_shingles(df, "text", "doc_id", 5)
    rows = _with_signature(hashed, 32).select("doc_id", "_sig", "_bh").collect()
    for r in rows:
        assert len(r["_sig"]) == 32
        # a 140-char doc has dozens of shingles; 32 independent mins
        # over them collide only with negligible probability
        assert len(set(r["_sig"])) > 16, "signature entries not per-seed"
        # every entry IS the min of xxhash64(h, seed) over the doc's
        # shingle hashes — recompute seed 0 and 31 in-plan
        import pyspark.sql.functions as SF

        mins = (
            df.sparkSession.createDataFrame(
                [(list(r["_bh"]),)], "hs array<long>"
            )
            .select(
                SF.expr("array_min(transform(hs, h -> xxhash64(h, 0)))").alias("m0"),
                SF.expr("array_min(transform(hs, h -> xxhash64(h, 31)))").alias("m31"),
            )
            .first()
        )
        assert r["_sig"][0] == mins["m0"] and r["_sig"][31] == mins["m31"]
