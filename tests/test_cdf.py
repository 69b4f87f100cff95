"""changes_in_generation: per-merge change-data-feed from the StateStore."""

from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.generator import GeneratorConfig, envelopes_df
from aws_dms_cdc_data_pipeline_spark.operators.diff import snapshot_diff
from aws_dms_cdc_data_pipeline_spark.plans import cdc_batch_pipeline
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
    StateStore,
    changes_in_generation,
)


def _feed_rows(df):
    return sorted(
        (r["trans_id"], r["change_type"], r["changed_cols"]) for r in df.collect()
    )


def test_cdf_matches_snapshot_diff(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    b1 = envelopes_df(spark, GeneratorConfig(n_rows=60, seed=41))
    b2 = envelopes_df(
        spark,
        GeneratorConfig(n_rows=60, seed=42, update_fraction=0.5,
                        delete_fraction=0.2),
    )
    store.merge(b1)
    state_1 = cdc_batch_pipeline(b1).persist()
    state_1.count()
    store.merge(b2)
    feed = changes_in_generation(store)
    # oracle: diff of the two full batch-pipeline states
    state_2 = cdc_batch_pipeline(b1.unionByName(b2))
    want = snapshot_diff(state_1, state_2, keys="trans_id")
    assert _feed_rows(feed) == _feed_rows(want)
    assert feed.count() > 0


def test_cdf_first_merge_is_all_inserts(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    assert changes_in_generation(store) is None
    env = envelopes_df(
        spark, GeneratorConfig(n_rows=30, seed=9, delete_fraction=0.0)
    )
    store.merge(env)
    feed = changes_in_generation(store)
    kinds = {r["change_type"] for r in feed.collect()}
    assert kinds == {"insert"}
    assert feed.count() == store.table().count()


def test_cdf_replayed_merge_is_empty(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    env = envelopes_df(spark, GeneratorConfig(n_rows=40, seed=13))
    store.merge(env)
    store.merge(env)  # replay: same content
    feed = changes_in_generation(store)
    assert feed.count() == 0


def test_cdf_of_delta_generations_and_the_fold_after_them(spark, tmp_path):
    """A generation written into the delta run reports its changes
    against the base with the previous delta run put over it; the
    fold that empties the delta reports against both."""
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    b1 = envelopes_df(spark, GeneratorConfig(n_rows=60, seed=41))
    later = F.col("metadata").withField(
        "timestamp", F.col("metadata.timestamp") + F.expr("INTERVAL 1 DAY"))
    b2 = envelopes_df(
        spark,
        GeneratorConfig(n_rows=60, seed=42, update_fraction=0.5,
                        delete_fraction=0.2),
    ).withColumn("metadata", later)
    b3 = (
        b1.filter("data.trans_id IN (3, 4)")
        .withColumn("data", F.col("data").withField("amount", F.col("data.amount") + 7))
        .withColumn("metadata", F.col("metadata").withField(
            "timestamp", F.col("metadata.timestamp") + F.expr("INTERVAL 2 DAYS")))
        .withColumn("doc_id", F.concat(F.lit("b3-"), "doc_id"))
    )
    batches = [
        (b1, None),
        (b2.filter("data.trans_id <= 4"), [1, 2, 3, 4]),  # 60 keys: room for 6
        (b3, [3, 4]),  # over the delta run of the generation before
        (b2, None),  # folds the delta
    ]
    seen = envelopes_df(spark, GeneratorConfig(n_rows=0))
    state = cdc_batch_pipeline(seen).persist()
    for batch, keys in batches:
        gen = store.merge(batch, keys=keys)
        assert (store._manifest().get("delta", {}).get("v") == gen) == (keys is not None)
        seen = seen.unionByName(batch)
        nxt = cdc_batch_pipeline(seen).persist()
        want = snapshot_diff(state, nxt, keys="trans_id")
        feed = changes_in_generation(store)
        assert _feed_rows(feed) == _feed_rows(want)
        assert feed.count() > 0
        state = nxt
