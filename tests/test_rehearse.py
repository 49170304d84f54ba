"""The at-scale rehearsal harness (jobs/rehearse.py) at a few hundred
conversations: each subcommand's JSON line keeps the keys its earlier
one-off script printed, stage timings come from the status store with
the UI off, and a crash drill whose run ends before the kill fails
instead of passing vacuously. ``main`` runs on the shared session with
its ``stop`` replaced, so the session outlives the test."""

from __future__ import annotations

import json
import pathlib
import signal
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent
                       / "jobs"))
import rehearse  # noqa: E402

SCALE_KEYS = {
    "metric", "convs", "turns", "partitions", "wall_s", "turns_per_s",
    "source_gb", "staging_peak_gb", "staging_over_source", "store_gb",
    "jvm_peak_rss_gb", "shard_skew", "task_skew_top_stages"}
HIST_KEYS = {
    "metric", "convs", "turns", "build_1m_s", "build_turns_per_s",
    "cascade_1h_s", "rows_1m", "rows_1h", "bins_total", "bins_per_row_max",
    "store_gb", "serve_p99_2h_s", "serve_rows"}
STAGE_KEYS = {
    "stage", "name", "tasks", "run_time_quantiles_s", "total_run_time_s",
    "shuffle_write_mb", "peak_execution_memory_mb"}


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return tmp_path_factory.mktemp("rehearse_cache")


@pytest.fixture
def run_main(spark, cache, monkeypatch, capsys):
    """``rehearse.main(argv)`` on the shared session -> (rc, payload)."""
    monkeypatch.setattr(rehearse, "CACHE", cache)
    monkeypatch.setattr(rehearse, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def go(argv):
        rc = rehearse.main(argv)
        return rc, json.loads(capsys.readouterr().out.splitlines()[-1])
    return go


def test_scale_payload(spark, run_main):
    assert spark.conf.get("spark.ui.enabled") == "false"
    rc, out = run_main(["scale", "--convs", "300", "--partitions", "2"])
    assert rc == 0
    assert set(out) == SCALE_KEYS
    assert out["convs"] == 300 and out["turns"] > 0
    assert out["shard_skew"]["shards"] == 2
    assert out["shard_skew"]["rows_in"]["max"] > 0
    assert out["staging_over_source"] > 0
    assert out["jvm_peak_rss_gb"] > 0
    stages = out["task_skew_top_stages"]
    assert stages and all(set(s) == STAGE_KEYS for s in stages)
    assert all(len(s["run_time_quantiles_s"]) == 4 for s in stages)
    # the store is removed unless --keep-store
    assert not (rehearse.CACHE / "rehearsal_store_300_2").exists()


def test_hist_payload(run_main):
    rc, out = run_main(["hist", "--convs", "300"])
    assert rc == 0
    assert set(out) == HIST_KEYS
    assert out["rows_1m"] > 0 and out["rows_1h"] > 0
    assert out["bins_total"] >= out["rows_1m"]
    assert out["serve_rows"] > 0


def test_run_reports_whether_the_kill_landed():
    assert rehearse.run([sys.executable, "-c", "pass"], kill_after=60) == 0
    assert rehearse.run(
        [sys.executable, "-c", "import time; time.sleep(60)"],
        kill_after=0.5) == -signal.SIGKILL


def test_stream_crash_without_a_crash_fails(run_main, monkeypatch):
    """A killed run that exited 0 before the kill: ok false, exit 1,
    its exit code in the payload, and no resume run."""
    runs = []
    monkeypatch.setattr(rehearse, "ordered_source", lambda *a: "src")
    monkeypatch.setattr(rehearse, "run",
                        lambda cmd, kill_after=None: runs.append(kill_after)
                        or 0)
    rc, out = run_main(["stream-crash", "--kill-after", "30"])
    assert rc == 1
    assert out["ok"] is False and out["killed_rc"] == 0
    assert runs == [None, 30.0]
