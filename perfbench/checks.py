"""Output checks.  Every function returns a list of problem strings;
an empty list means the output is correct.

Query results are compared with their DuckDB oracle by row count and an
order-insensitive value hash, the same comparison the repository's
oracle gate uses (columns sorted by name, rows sorted by their
normalized text, exact shortest-repr doubles).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

from perfbench import inputs, stubs


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_result(name: str, got_cols, got_rows, want_cols, want_rows) -> list[str]:
    if len(got_rows) != len(want_rows):
        return [f"{name}: rowcount {len(got_rows)} != oracle {len(want_rows)}"]
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if hash_rows(got_cols, got_rows) != hash_rows(want_cols, want_rows):
        return [f"{name}: value hash differs from oracle"]
    return []


def expected_status(job: inputs.Job) -> str:
    """Terminal status of a job the server owns after the run."""
    if job.source_size == 0:
        return f"{inputs.SERVER} - Error"
    return "Done"


def check_jobs(
    seed: int,
    jobs: list[inputs.Job],
    history: list[inputs.Job],
    statuses: dict[int, str],
    video_files: dict[int, tuple[bool, int | None]],
    media_root: str,
    spans: list[dict],
) -> list[str]:
    """`jobs` must each end in their expected terminal status, with the
    expected bytes at their destination, their video row enabled with
    the right size, and each stage run exactly once.  `history` rows
    must be untouched."""
    problems: list[str] = []
    want_ids = {j.id for j in jobs} | {j.id for j in history}
    if set(statuses) != want_ids:
        problems.append(
            f"job store ids differ: {len(set(statuses) ^ want_ids)} ids missing or extra"
        )
    for j in history:
        if statuses.get(j.id) != j.status:
            problems.append(f"history job {j.id}: status {statuses.get(j.id)!r} != {j.status!r}")
    runs: dict[tuple[int, str, int], int] = {}
    for s in spans:
        key = (s["job"], s["stage"], s.get("pass", 0))
        runs[key] = runs.get(key, 0) + 1
    for key, n in runs.items():
        if n > 1:
            problems.append(f"job {key[0]}: stage {key[1]} ran {n} times")
    for j in jobs:
        want = expected_status(j)
        got = statuses.get(j.id)
        if got != want:
            problems.append(f"job {j.id}: status {got!r} != {want!r}")
            continue
        passes, norm, mp4 = inputs.format_flags(j.format_id)
        dest = os.path.join(media_root, "out", f"{j.id}.mp4")
        if want != "Done":
            if os.path.exists(dest):
                problems.append(f"job {j.id}: failed job published {dest}")
            continue
        want_stages = {(j.id, "copy", 0), (j.id, "publish", 0), (j.id, "encode", 1)}
        if passes == 2:
            want_stages.add((j.id, "encode", 2))
        if norm:
            want_stages.add((j.id, "loudness", 0))
        if mp4:
            want_stages.add((j.id, "mp4box", 0))
        got_stages = {k for k in runs if k[0] == j.id}
        if got_stages != want_stages:
            problems.append(f"job {j.id}: stages {sorted(got_stages)} != {sorted(want_stages)}")
        body = stubs.expected_output(inputs.source_bytes(seed, j), passes, norm, mp4)
        try:
            with open(dest, "rb") as f:
                if f.read() != body:
                    problems.append(f"job {j.id}: destination bytes differ")
        except FileNotFoundError:
            problems.append(f"job {j.id}: destination {dest} missing")
            continue
        if j.video_id is not None and video_files.get(j.video_id) != (True, len(body)):
            problems.append(
                f"job {j.id}: video_files row {video_files.get(j.video_id)} != {(True, len(body))}"
            )
    published = {j.video_id for j in jobs if j.video_id is not None and expected_status(j) == "Done"}
    for vid, (enabled, size) in video_files.items():
        if vid not in published and (enabled or size is not None):
            problems.append(f"video_files row {vid} changed without a published job")
    return problems
