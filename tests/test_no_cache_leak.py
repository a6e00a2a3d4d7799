"""Cache-leak regression guard (round-2 verdict #7): contract queries
run in the driver's single long-lived session, so any .persist() a
query takes and never releases accumulates across the 50-query gate.
Every query must leave zero persistent RDDs behind once its result is
materialized. (The RF model trainer persists inside train_models but
unpersists in a finally block; it must come out clean too.)
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# the three queries the round-2 verdict flagged for unbounded persist
# lifetime, the RF path that persists-and-releases internally, and the
# round-8 iterative row (checkpoint-materialized rounds; the contract
# path must use scratch parquet, not localCheckpoint, exactly so this
# holds)
LEAK_SUSPECTS = [
    "q_ngram_jaccard",
    "q_dedup_near",
    "q_ann_lsh_topk",
    "q_rf_train",
    "q_connected_components",
]


@pytest.mark.parametrize("name", LEAK_SUSPECTS)
def test_no_persistent_rdds_after_query(spark, sf_dir, name):
    # delta-based: earlier tests in the shared session may hold live
    # localCheckpoint blocks (library-mode CC results awaiting GC);
    # the claim under test is that THIS query adds none of its own
    spark.catalog.clearCache()
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    fn = entrymod.queries()[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    leaked = {k: v for k, v in after.items() if k not in before}
    assert not leaked, f"{name} left {len(leaked)} new persistent RDDs cached"


def test_stage_overwrites_on_every_call(spark, tmp_path):
    # common.stage is the one scratch-staging helper: a second call
    # under the same (sf_dir, group, name) must hand back the NEW frame,
    # never the directory the first call left behind — every contract
    # row relies on this to recompute from its raw inputs on each run
    import shutil

    from lambda_sample_spark.operators.common import scratch_path, stage

    sf_dir = str(tmp_path)
    try:
        a = stage(spark.range(5).toDF("x"), sf_dir, "stagetest", "t")
        assert sorted(r.x for r in a.collect()) == [0, 1, 2, 3, 4]
        b = stage(spark.range(10, 13).toDF("x"), sf_dir, "stagetest", "t")
        assert sorted(r.x for r in b.collect()) == [10, 11, 12]
    finally:
        shutil.rmtree(scratch_path(sf_dir, "stagetest"), ignore_errors=True)
