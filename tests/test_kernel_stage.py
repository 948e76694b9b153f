"""Shape of the kernel stage: how many Python tasks one extraction starts,
that building the plan runs no Spark job, and the driver-side weights
broadcast cache."""

import importlib

import pytest

from table_recognition_spark.fixtures.generate import corpus_to_spark

# the module, not the ``extract`` function the package re-exports
ex = importlib.import_module("table_recognition_spark.pipeline.extract")


def _group_jobs(sc, group):
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _stage_has_operator(sc, stage_id, name):
    """True when the stage's RDD operation graph holds a cluster for the
    SQL operator ``name`` (the stage DAG the Spark UI draws)."""
    graph = sc._jsc.sc().statusStore().operationGraphForStage(stage_id)
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
    return f'label="{name}"' in dot


@pytest.mark.spark
def test_building_extract_runs_no_job(spark, small_corpus, weights):
    docs, media, _ = small_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    sc = spark.sparkContext
    sc.setJobGroup("kernel-stage-build", "plan construction only")
    try:
        ex.extract_flat(docs_df, media_df, weights)
        assert _group_jobs(sc, "kernel-stage-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.spark
def test_kernel_stage_one_task_per_core(spark, small_corpus, weights):
    """The default fan-out starts at most defaultParallelism kernel tasks,
    however many images there are (40 here, 10× the cores). The kernel is
    run on its own: inside ``extract_flat`` its stage can also hold the
    text branch's tasks, fused through the union."""
    docs, media, _ = small_corpus
    _, media_df = corpus_to_spark(spark, docs, media)
    sc = spark.sparkContext
    assert len(media) > sc.defaultParallelism
    sc.setJobGroup("kernel-stage-run", "one kernel run")
    try:
        rows = ex.recognize_tables(media_df, weights).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r["media_ref"] for r in rows} == {m["media_ref"] for m in media}
    tracker = sc.statusTracker()
    kernel_stages = {
        sid: tracker.getStageInfo(sid).numTasks
        for jid in _group_jobs(sc, "kernel-stage-run")
        for sid in tracker.getJobInfo(jid).stageIds
        if _stage_has_operator(sc, sid, "MapInArrow")
    }
    assert kernel_stages
    assert all(1 <= n <= sc.defaultParallelism for n in kernel_stages.values())


@pytest.mark.spark
def test_equal_weights_share_one_broadcast(spark, weights, monkeypatch):
    sc = spark.sparkContext
    bc, digest = ex._broadcast_weights(sc, weights)
    copy = {k: v.copy() for k, v in weights.items()}
    assert ex._broadcast_weights(sc, copy) == (bc, digest)

    # the dict last seen is an identity hit: no re-serialization
    calls = []
    to_bytes = ex.weights_to_bytes
    monkeypatch.setattr(
        ex, "weights_to_bytes", lambda w: calls.append(1) or to_bytes(w)
    )
    assert ex._broadcast_weights(sc, copy) == (bc, digest)
    assert calls == []

    changed = dict(copy)
    key = next(iter(changed))
    changed[key] = changed[key] + 1
    bc2, digest2 = ex._broadcast_weights(sc, changed)
    assert digest2 != digest and bc2 is not bc
