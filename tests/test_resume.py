"""Checkpoint/resume: kill at a stage boundary, resume, identical
output (BASELINE.md resumability row; reference semantics S11 —
incremental JSON dumps, validate_sampling.py:158-216)."""

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from tabular_data_semantics_py_spark.plans import pipeline as pipeline_mod
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline


def _triples(df):
    return sorted(
        (r.subj, r.pred, r.obj, r.obj_is_literal) for r in df.collect()
    )


def test_kill_and_resume_identical(spark, dfs, pipeline, tmp_path):
    ck1 = str(tmp_path / "ck_killed")
    ck2 = str(tmp_path / "ck_clean")

    # full clean run: the checkpointed stages give the fused run's triples
    clean = run_pipeline(spark, dfs, checkpoint_dir=ck2)
    want = _triples(clean.stages["triples"])
    assert want == _triples(pipeline.stages["triples"])

    # killed run: stop after the 'cea' stage boundary…
    run_pipeline(spark, dfs, checkpoint_dir=ck1, stop_after="cea")
    assert os.path.exists(os.path.join(ck1, "cea", "_SUCCESS"))
    assert not os.path.exists(os.path.join(ck1, "triples"))

    # …then resume: completed stages must be read, not recomputed.
    # cells_m is a first-class checkpoint stage, so the resumed run
    # must NOT re-run the bridge-normalization subtree — observable as
    # no new mention_bridge barrier generation in session scratch.
    from tabular_data_semantics_py_spark.barriers import _scratch_dir

    def _bridge_gens():
        d = _scratch_dir(spark)
        if not os.path.isdir(d):
            return 0
        return sum(1 for n in os.listdir(d) if n.startswith("mention_bridge"))

    gens_before = _bridge_gens()
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck1, resume=True)
    got = _triples(resumed.stages["triples"])
    assert got == want
    assert _bridge_gens() == gens_before

    manifest = json.load(open(os.path.join(ck1, "manifest.json")))
    by_stage = {m["stage"]: m for m in manifest["metrics"]}
    assert by_stage["cea"]["resumed"] is True
    assert by_stage["cells_m"]["resumed"] is True
    assert by_stage["triples"]["resumed"] is False
    # per-partition lineage recorded (A9 metrics role)
    assert by_stage["triples"]["partitions"]


def test_sha_integrity_metric_recorded(spark, dfs, tmp_path):
    ck = str(tmp_path / "ck_sha")
    run_pipeline(spark, dfs, checkpoint_dir=ck, stop_after="cells")
    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    sha = [m for m in manifest["metrics"] if m["stage"] == "sha_integrity"]
    assert sha and sha[0]["mismatches"] == 0


def _pool_threads() -> set[threading.Thread]:
    return {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    }


@pytest.mark.parametrize("failing", ["build_entity_types", "parse_cells"])
def test_failed_stage_leaves_no_pool_thread(spark, dfs, monkeypatch, failing):
    """A stage that raises fails the run, and every stage still running
    on a pool thread (here the independent branch) has finished by the
    time ``run_pipeline`` re-raises — none keeps submitting Spark jobs."""

    def boom(*args, **kwargs):
        raise RuntimeError(f"{failing} failed")

    monkeypatch.setattr(pipeline_mod, failing, boom)
    before = _pool_threads()
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        run_pipeline(spark, dfs)
    assert not _pool_threads() - before


def test_stage_jobs_keep_the_callers_job_group(spark, dfs):
    """Every job a stage thread runs is in the caller's job group, so
    the caller can cancel or attribute the pipeline's jobs by group."""
    tracker = spark.sparkContext.statusTracker()
    # job ids only grow; the tracker forgets the oldest jobs, so compare
    # ids, not sets
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    spark.sparkContext.setJobGroup("tds-caller", "run_pipeline test")
    try:
        run_pipeline(spark, dfs, stop_after="entity_types")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("tds-caller")
    assert not [j for j in tracker.getJobIdsForGroup(None) if j > last]

def test_once_runs_once_across_threads():
    """The stages share closure_map and generate_candidates through
    ``_once``: under contention the wrapped function runs exactly once
    and every caller gets its result."""
    calls = []

    def slow():
        calls.append(threading.get_ident())
        time.sleep(0.01)
        return len(calls)

    get = pipeline_mod._once(slow)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as ex:
            got = list(ex.map(lambda _: get(), range(256), timeout=60))
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1 and set(got) == {1}
