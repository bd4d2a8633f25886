"""Tests of the benchmark itself: seeded inputs, output checks, and the
shape of one run's result line.

    python3 -m pytest perfbench/tests -q

The last two tests start Spark through `perfbench/run.py` and take a
few minutes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

from perfbench import checks, inputs, stubs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _mix(jobs):
    flags = [inputs.format_flags(j.format_id) for j in jobs]
    return (
        Counter(p for p, _, _ in flags),
        sum(n for _, n, _ in flags),
        sum(m for _, _, m in flags),
        sum(j.source_size == 0 for j in jobs),
        sum(j.video_id is None for j in jobs),
        Counter(j.priority for j in jobs),
    )


def test_same_seed_gives_identical_inputs(tmp_path):
    a = inputs.job_inputs(5, 300, 8, 40)
    b = inputs.job_inputs(5, 300, 8, 40)
    assert a == b
    assert [inputs.source_bytes(5, j) for j in a.owned] == [inputs.source_bytes(5, j) for j in b.owned]
    assert inputs.query_order(5, 3) == inputs.query_order(5, 3)
    import pyarrow.parquet as pq

    inputs.write_query_tables(5, str(tmp_path / "a"), scale=0.05)
    inputs.write_query_tables(5, str(tmp_path / "b"), scale=0.05)
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))


def test_other_seed_changes_order_and_priorities_not_proportions():
    a = inputs.job_inputs(1, 300, 8, 40)
    b = inputs.job_inputs(2, 300, 8, 40)
    assert [j.priority for j in a.pending] != [j.priority for j in b.pending]
    assert [j.format_id for j in a.pending] != [j.format_id for j in b.pending]
    assert _mix(a.pending) == _mix(b.pending)
    assert _mix(a.crashed)[:3] == _mix(b.crashed)[:3]
    assert inputs.query_order(1, 1) != inputs.query_order(2, 1)
    assert sorted(inputs.query_order(1, 1)[0]) == sorted(inputs.query_order(2, 1)[0])
    shares = _mix(a.pending)
    assert shares[0][2] == round(40 * inputs.TWO_PASS_SHARE)
    assert shares[3] == round(40 * inputs.MISSING_SHARE)


def _published_store(tmp_path, seed=3):
    """A job store, video rows, destinations and stage spans exactly as a
    correct run leaves them."""
    ji = inputs.job_inputs(seed, 20, 4, 12)
    media = tmp_path / "media"
    (media / "out").mkdir(parents=True)
    statuses = {j.id: j.status for j in ji.history}
    video = {j.video_id: (False, None) for j in ji.all_jobs if j.video_id is not None}
    spans = []
    for j in ji.owned:
        statuses[j.id] = checks.expected_status(j)
        if statuses[j.id] != "Done":
            continue
        passes, norm, mp4 = inputs.format_flags(j.format_id)
        body = stubs.expected_output(inputs.source_bytes(seed, j), passes, norm, mp4)
        (media / "out" / f"{j.id}.mp4").write_bytes(body)
        if j.video_id is not None:
            video[j.video_id] = (True, len(body))
        stages = ["copy", "publish"] + (["loudness"] if norm else []) + (["mp4box"] if mp4 else [])
        spans += [{"job": j.id, "stage": s} for s in stages]
        spans += [{"job": j.id, "stage": "encode", "pass": p} for p in range(1, passes + 1)]
    return ji, statuses, video, str(media), spans


def test_checks_accept_a_correct_store(tmp_path):
    ji, statuses, video, media, spans = _published_store(tmp_path)
    assert checks.check_jobs(3, ji.owned, ji.history, statuses, video, media, spans) == []


def test_checks_reject_a_corrupted_store(tmp_path):
    ji, statuses, video, media, spans = _published_store(tmp_path)
    done = next(j for j in ji.owned if checks.expected_status(j) == "Done" and j.video_id)
    bad = dict(statuses)
    bad[done.id] = "Not Encoding"
    assert checks.check_jobs(3, ji.owned, ji.history, bad, video, media, spans)
    bad = dict(statuses)
    bad[ji.history[0].id] = "Done" if ji.history[0].status != "Done" else "Encoded"
    assert checks.check_jobs(3, ji.owned, ji.history, bad, video, media, spans)
    bad_video = dict(video)
    bad_video[done.video_id] = (True, 1)
    assert checks.check_jobs(3, ji.owned, ji.history, statuses, bad_video, media, spans)
    twice = spans + [{"job": done.id, "stage": "copy"}]
    assert checks.check_jobs(3, ji.owned, ji.history, statuses, video, media, twice)
    with open(os.path.join(media, "out", f"{done.id}.mp4"), "ab") as f:
        f.write(b"x")
    assert checks.check_jobs(3, ji.owned, ji.history, statuses, video, media, spans)


def test_checks_reject_a_wrong_query_hash():
    cols, rows = ["b", "a"], [(1, "x"), (2.5, None)]
    assert checks.compare_result("q", cols, rows, ["a", "b"], [(None, 2.5), ("x", 1)]) == []
    assert checks.compare_result("q", cols, rows, ["a", "b"], [(None, 2.5), ("y", 1)])
    assert checks.compare_result("q", cols, rows, ["a", "b"], [(None, 2.5)])
    assert checks.compare_result("q", cols, rows, ["a", "c"], [(None, 2.5), ("x", 1)])


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "job_drain", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("job_drain", 0), ("query_mix", 1)])
def test_one_run_prints_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in want)
