"""Smoke test of ``jobs/run_catchup.py --demo``: the ingest-follow job
featurizes each appended delta through the DataFrame input of the
image featurizer and appends it to the derived table."""
import importlib.util
import json
import os
import sys

_JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "jobs", "run_catchup.py")


def _import_job():
    spec = importlib.util.spec_from_file_location("run_catchup", _JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_run_catchup_import_changes_no_paths():
    path, env = list(sys.path), dict(os.environ)
    _import_job()
    assert sys.path == path
    assert os.environ.get("PYTHONPATH") == env.get("PYTHONPATH")
    assert dict(os.environ) == env


def test_run_catchup_demo(spark, tmp_path, capsys, monkeypatch):
    from hiselspark.sources.snapshots import SnapshotTable

    # main() edits sys.path and PYTHONPATH: undo both after
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    job = _import_job()
    src, feats = str(tmp_path / "src"), str(tmp_path / "feats")
    try:
        assert job.main(["--source", src, "--features", feats,
                         "--demo", "200"]) == 0
    finally:
        spark.sparkContext.setLogLevel("ERROR")
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["rows"] == 200
    assert result["derived_snapshots"] == [1, 2]
    assert result["third_call_noop"] is True
    assert result["source_version_processed"] == 2
    derived = SnapshotTable(feats).read(spark)
    assert {"image_id", "entity_id", "ts", "pbit15", "caption_tokens",
            "px_mean_r"} <= set(derived.columns)
    assert derived.select("image_id").distinct().count() == 200
