"""Checkpoint/resume semantics (north-rule requirement)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from spark_aknn import manifest
from spark_aknn.aknn import all_knn_join
from spark_aknn.manifest import checkpointed_aknn, load_grid
from tests.conftest import make_points_df


def _mk(spark, rng, n):
    x, y = rng.random(n), rng.random(n)
    return make_points_df(spark, np.arange(1, n + 1), x, y)


def _sorted(df):
    return df.toPandas().sort_values(["input_id", "rank"]).reset_index(drop=True)


def test_resume_skips_committed_batches(spark, rng, tmp_path):
    wd = str(tmp_path / "ckpt")
    pts = _mk(spark, rng, 400)
    r1 = _sorted(checkpointed_aknn(spark, pts, pts, wd, k=5, num_batches=3))
    manifests = sorted(f for f in os.listdir(wd) if f.startswith("manifest_stage1"))
    assert len(manifests) == 3
    with open(os.path.join(wd, manifests[0])) as f:
        m = json.load(f)
    assert m["stripes"] and all("scanned_total" in s for s in m["stripes"])

    # kill mid-run: final + one batch lost
    os.remove(os.path.join(wd, "manifest_final.json"))
    os.remove(os.path.join(wd, "manifest_stage1_1.json"))
    shutil.rmtree(os.path.join(wd, "stage1", "batch=1"))
    # tamper an already-committed batch's parquet mtime marker would not
    # matter — committed batches must NOT be recomputed; verify by noting
    # batch 0 dir mtime stays put
    before = os.path.getmtime(os.path.join(wd, "stage1", "batch=0"))
    r2 = _sorted(checkpointed_aknn(spark, pts, pts, wd, k=5, num_batches=3))
    after = os.path.getmtime(os.path.join(wd, "stage1", "batch=0"))
    assert before == after
    assert r1.equals(r2)

    direct = _sorted(all_knn_join(pts, pts, k=5))
    assert (r1.neighbor_id.values == direct.neighbor_id.values).all()
    assert (r1.dist_sq.values == direct.dist_sq.values).all()


def test_grid_persisted_and_reloaded(spark, rng, tmp_path):
    wd = str(tmp_path / "ckpt2")
    pts = _mk(spark, rng, 200)
    checkpointed_aknn(spark, pts, pts, wd, k=3, num_batches=2)
    g = load_grid(wd)
    assert g is not None and g.num_stripes >= 1
    assert g.y_splits[0] == float("-inf") and g.y_splits[-1] == float("inf")


def test_resume_rejects_mismatched_params(spark, rng, tmp_path):
    """Stage-1 batches committed under one (k, margin_factor, ...) must
    not be silently reused under another (r3 ADVICE medium): that would
    certify queries against margin bounds whose replicated training was
    never present — wrong neighbor lists with no error."""
    wd = str(tmp_path / "ckpt3")
    pts = _mk(spark, rng, 200)
    checkpointed_aknn(spark, pts, pts, wd, k=3, num_batches=2)
    for kwargs in (
        {"k": 5, "num_batches": 2},
        {"k": 3, "num_batches": 2, "margin_factor": 0.0},
        {"k": 3, "num_batches": 3},
    ):
        with pytest.raises(ValueError, match="not reusable"):
            checkpointed_aknn(spark, pts, pts, wd, **kwargs)
    # pre-params workdir (older layout): treated as mismatching
    gp = os.path.join(wd, "grid.json")
    with open(gp) as f:
        raw = json.load(f)
    raw.pop("params")
    with open(gp, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="not reusable"):
        checkpointed_aknn(spark, pts, pts, wd, k=3, num_batches=2)


def test_final_manifest_rows(spark, rng, tmp_path):
    """The final manifest's row count (taken from the result write
    itself) is |Q|·k, also when |Q| != |T|."""
    wd = str(tmp_path / "ckpt4")
    q, t = _mk(spark, rng, 300), _mk(spark, rng, 200)
    n = checkpointed_aknn(spark, q, t, wd, k=4, num_batches=2).count()
    with open(os.path.join(wd, "manifest_final.json")) as f:
        assert json.load(f)["rows"] == n == 300 * 4


def test_failed_batch_lets_others_commit(spark, rng, tmp_path, monkeypatch):
    """One batch failing to commit re-raises only after the other
    batches have committed; a re-run recomputes just the failed batch."""
    wd = str(tmp_path / "ckpt5")
    pts = _mk(spark, rng, 400)
    write_json = manifest._write_json_atomic

    def failing(path, obj):
        if path.endswith("manifest_stage1_1.json"):
            raise OSError("disk full")
        write_json(path, obj)

    monkeypatch.setattr(manifest, "_write_json_atomic", failing)
    with pytest.raises(OSError, match="disk full"):
        checkpointed_aknn(spark, pts, pts, wd, k=5, num_batches=3)
    committed = sorted(f for f in os.listdir(wd) if f.startswith("manifest_"))
    assert committed == ["manifest_stage1_0.json", "manifest_stage1_2.json"]

    monkeypatch.setattr(manifest, "_write_json_atomic", write_json)
    kept = [os.path.join(wd, "stage1", f"batch={b}") for b in (0, 2)]
    before = [os.path.getmtime(p) for p in kept]
    r = _sorted(checkpointed_aknn(spark, pts, pts, wd, k=5, num_batches=3))
    assert [os.path.getmtime(p) for p in kept] == before
    assert os.path.exists(os.path.join(wd, "manifest_stage1_1.json"))
    direct = _sorted(all_knn_join(pts, pts, k=5))
    assert (r.neighbor_id.values == direct.neighbor_id.values).all()
    assert (r.dist_sq.values == direct.dist_sq.values).all()


def test_batches_run_in_callers_job_group(spark, rng, tmp_path):
    """Every job of the call, the concurrently committed batches'
    included, belongs to the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pts = _mk(spark, rng, 400)
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("ckpt-caller", "checkpointed join under a caller's group")
    try:
        checkpointed_aknn(spark, pts, pts, str(tmp_path / "ckpt6"), k=5, num_batches=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
    # each batch runs at least its parquet write and its stats collect
    assert len(tracker.getJobIdsForGroup("ckpt-caller")) >= 2 * 3
