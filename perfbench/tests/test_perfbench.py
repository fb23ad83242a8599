"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark once per workload and mode at the tiny
input scale (about 30 s each).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gate  # noqa: E402
from perfbench.harness import tail  # noqa: E402
from perfbench.workloads import Releaser, backlog_max  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _write_log(root: str) -> dict:
    """A two-epoch log with an update, a delete, a resurrected key and
    trailing blanks; returns the live content per key after it."""
    e0 = {
        "repo": ["r1", "r1", "r2", "r3"],
        "path": ["a", "b", "a", "c"],
        "op": ["I", "I", "I", "I"],
        "commit": ["c00", "c01", "c02", "c03"],
        "lsn": [0, 1, 2, 3],
        "lang": ["py", None, "go", "rs"],
        "content": ["def a():  \n  pass \t", "b", "x", "gone"],
    }
    e1 = {
        "repo": ["r1", "r3", "r1", "r2"],
        "path": ["a", "c", "b", "a"],
        "op": ["U", "D", "D", "I"],
        "commit": ["c04", "c05", "c06", "c07"],
        "lsn": [4, 5, 6, 7],
        "lang": ["py", None, None, "go"],
        "content": ["def a2(): \n", None, None, "y "],
        "lang_variant": ["py-v1", None, None, "go-v2"],
    }
    for e, cols in enumerate((e0, e1)):
        os.makedirs(os.path.join(root, f"epoch={e}"))
        pq.write_table(pa.table(cols), os.path.join(root, f"epoch={e}", "part-0.parquet"))
    return {
        ("r1", "a"): ("c04", 4, "py", "py-v1", "def a2(): \n"),
        ("r2", "a"): ("c07", 7, "go", "go-v2", "y "),
    }


def _table_rows(live: dict, corrupt: tuple | None = None):
    """What a correct engine serves: the content normalized as the
    benchmark's transform does, hashed with sha256."""
    import pandas as pd

    pat = re.compile(r"[ \t]+(?=\n)|[ \t]+$")
    rows = []
    for (repo, path), (commit, lsn, lang, variant, content) in sorted(live.items()):
        if (repo, path) == corrupt:
            content += "!"
        digest = hashlib.sha256(pat.sub("", content).encode()).hexdigest()
        rows.append((repo, path, commit, lsn, lang, variant, digest))
    return pd.DataFrame(rows, columns=gate.GATE_COLS)


def test_gate_accepts_the_fold_and_rejects_one_corrupted_content_row(tmp_path):
    live = _write_log(str(tmp_path / "events"))
    fold = gate.Fold([str(tmp_path / "events" / "epoch=*" / "*.parquet")], str(tmp_path / "duck"))
    try:
        want = fold.state(hi_lsn=8)
        assert gate.compare(_table_rows(live), want) == []
        problems = gate.compare(_table_rows(live, corrupt=("r2", "a")), want)
        assert any("missing" in p for p in problems)
        assert any("not in the fold" in p for p in problems)
        # epoch 1 changed r1/a (update), r1/b and r3/c (deletes) and r2/a
        # (insert over a live key)
        assert fold.changed_keys(4, 8) == 4
        assert len(fold.state(hi_lsn=4)) == 4
    finally:
        fold.close()


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    assert tail([float(i) for i in range(1, 101)]) == {"percentile": 90.0, "value": 90.0, "n": 100}
    assert tail([float(i) for i in range(1, 21)])["percentile"] == 50.0
    assert tail([1.0, 3.0, 2.0]) == {"percentile": "max", "value": 3.0, "n": 3}


def test_eventlog_fold_groups_by_job_description(tmp_path):
    def task(stage, run_ms, written):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": 1,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5,
                                         "Fetch Wait Time": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "engine.replay.apply_epoch|window|epoch=2"}},
        *[task(1, ms, 10) for ms in (10, 10, 10, 40)],
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "lake.table.lookup|window|epoch=2"}},
        task(2, 7, 0),
    ]
    path = tmp_path / "events_1_local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.fold(str(tmp_path))
    got = eventlog.epoch_metrics(groups, "engine.replay.apply_epoch|window|", epochs=1)
    assert got["spark.jobs_per_epoch"] == 1
    assert got["spark.tasks_per_epoch"] == 4
    assert got["spark.shuffle_write_bytes"] == 40
    assert got["spark.shuffle_read_bytes"] == 20
    assert got["spark.task_ms_max_over_p50"] == 4.0
    assert groups["lake.table.lookup|window|epoch=2"]["tasks"] == 1


def test_releaser_moves_each_epoch_on_schedule_and_reports_how_late_it_ran(tmp_path):
    staged, events = tmp_path / "staged", tmp_path / "events"
    for e in (2, 3, 4):
        os.makedirs(staged / f"epoch={e}")
    os.makedirs(events)
    start = time.monotonic()
    rel = Releaser(str(staged), str(events), [2, 3, 4], start, interval=0.05)
    rel.start()
    for e in (2, 3, 4):
        assert rel.wait(e, timeout=10)
        assert (events / f"epoch={e}").is_dir()
        assert time.monotonic() >= rel.due[e]
    rel.stop()
    assert not rel.is_alive()
    assert not os.listdir(staged)
    assert [round(rel.due[e] - start, 6) for e in (2, 3, 4)] == [0.0, 0.05, 0.1]
    late = rel.late_s
    assert len(late) == 3 and all(0.0 <= s < 1.0 for s in late)


def test_releaser_stopped_early_unblocks_waiters(tmp_path):
    os.makedirs(tmp_path / "staged" / "epoch=2")
    rel = Releaser(str(tmp_path / "staged"), str(tmp_path), [2], time.monotonic() + 60, 1.0)
    rel.start()
    rel.stop()
    assert rel.wait(2, timeout=10)  # although the epoch never arrived
    assert rel.released == {} and rel.late_s == []


def test_backlog_max_counts_epochs_released_but_not_committed():
    released = {2: 0.0, 3: 1.0, 4: 2.0, 5: 3.0}
    assert backlog_max(released, {2: 0.5, 3: 1.5, 4: 2.5, 5: 3.5}) == 1
    assert backlog_max(released, {2: 2.5, 3: 2.8, 4: 3.1, 5: 3.4}) == 3
    assert backlog_max(released, {2: 0.5}) == 3  # uncommitted epochs stay


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_named_metric_with_its_unit(workload, trace):
    result, report = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert report.startswith("perfbench report ")
    if trace:
        split = json.loads(report[len("perfbench report "):])["split"]
        parts = [v for k, v in split.items() if k not in ("epoch", "epoch_wall_s")]
        assert sum(parts) == pytest.approx(split["epoch_wall_s"])


@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_open_loop_tail_reports_freshness_backlog_and_lateness(trace):
    result, report = _run("tail_small_epochs", trace)
    assert result["correct"] is True and result["failed"] == 0
    rep = json.loads(report[len("perfbench report "):])
    if trace:
        assert sum(v for k, v in rep["split"].items() if k not in ("epoch", "epoch_wall_s")) \
            == pytest.approx(rep["split"]["epoch_wall_s"])
        return
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == {"setup_s": "s", "replay_events_per_s": "events/s",
                     "epoch_commit_p50_s": "s", "freshness_lag_p50_s": "s",
                     "backlog_max_epochs": "count", "peak_rss_mb": "MB"}
    lags = rep["samples_freshness_lag_s"]
    assert len(lags) == len(rep["window_epochs"]) >= 4
    # an epoch is visible no sooner than it was due and applied
    assert all(lag >= wall for lag, wall in zip(lags, rep["samples"]["epoch_commit_s"]))
    assert rep["freshness_lag_tail_s"]["n"] == len(lags)
    assert rep["releaser_late_s"]["n"] == len(lags) and rep["releaser_late_s"]["max"] >= 0.0


def test_run_refuses_a_tree_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mor", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
