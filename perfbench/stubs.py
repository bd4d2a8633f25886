"""Stand-ins for the external stages (copy, loudness, encode, MP4Box,
publish) that the process operator calls inside Spark tasks.

Each stub does a fixed amount of CPU work, writes a deterministic
output, and appends one span line per call to `<spans_dir>/<pid>.jsonl`
so the benchmark can check that no stage ran twice and can compute
per-stage busy time.  The stubs are plain picklable objects: Spark
ships them to its Python workers by import path.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import re
import shutil
import time

_JOB_RE = re.compile(r"encode--(\d+)--")
LOUDNESS_TEXT = "Integrated loudness:\n    I:         -20.0 LUFS\n"


def burn(units: int) -> None:
    """Deterministic CPU work: `units` chained SHA-256 rounds over 4 KiB."""
    block = b"\x5a" * 4096
    for _ in range(units):
        block = hashlib.sha256(block).digest() * 128


def _job_of(path: str) -> int:
    m = _JOB_RE.search(path)
    return int(m.group(1)) if m else -1


@dataclasses.dataclass(frozen=True)
class Stage:
    """One external stage.  `kind` selects the call signature the
    process operator uses for it; `units` is its CPU cost."""

    kind: str  # copy | loudness | encode | mp4box
    spans_dir: str
    units: int = 0

    def _record(self, stage: str, job: int, start: float, extra: dict | None = None) -> None:
        rec = {"job": job, "stage": stage, "start": start, "end": time.time(), "pid": os.getpid()}
        if extra:
            rec.update(extra)
        with open(os.path.join(self.spans_dir, f"{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def __call__(self, *args):
        start = time.time()
        burn(self.units)
        if self.kind == "copy":
            src, dst = args
            shutil.copyfile(src, dst)
            # the operator uses one copy callable for both the source
            # copy (into scratch) and the publish (out of scratch)
            stage, job = ("publish", _job_of(src)) if _job_of(src) >= 0 else ("copy", _job_of(dst))
            self._record(stage, job, start)
            return None
        if self.kind == "loudness":
            (path,) = args
            self._record("loudness", _job_of(path), start)
            return LOUDNESS_TEXT
        if self.kind == "encode":
            argv, cwd = args
            src = argv[argv.index("-i") + 1]
            dst = argv[argv.index("-y") + 1]
            pass_no = int(argv[argv.index("-pass") + 1]) if "-pass" in argv else 1
            if pass_no == 1:
                with open(src, "rb") as f:
                    data = f.read()
                if "-af" in argv:
                    data += b"|vol"
            else:
                with open(dst, "rb") as f:
                    data = f.read()
            with open(dst, "wb") as f:
                f.write(data + f"|p{pass_no}".encode())
            self._record("encode", _job_of(cwd), start, {"pass": pass_no})
            return None
        if self.kind == "mp4box":
            (path,) = args
            with open(path, "ab") as f:
                f.write(b"|mp4")
            self._record("mp4box", _job_of(path), start)
            return None
        raise ValueError(f"unknown stage kind {self.kind!r}")


def expected_output(source: bytes, passes: int, normalise: bool, mp4box: bool) -> bytes:
    """The published bytes the stubs produce for a job."""
    out = source + (b"|vol" if normalise else b"") + b"|p1"
    if passes == 2:
        out += b"|p2"
    if mp4box:
        out += b"|mp4"
    return out


def stages(spans_dir: str, encode: int, loudness: int, mp4box: int) -> dict:
    """Keyword arguments for `ProcessConfig` wiring every external stage
    to a recording stub; the integers are CPU units per call."""
    os.makedirs(spans_dir, exist_ok=True)
    return {
        "copy": Stage("copy", spans_dir),
        "encode": Stage("encode", spans_dir, encode),
        "analyze_loudness": Stage("loudness", spans_dir, loudness),
        "apply_mp4box": Stage("mp4box", spans_dir, mp4box),
    }


def read_spans(spans_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(spans_dir, "*.jsonl"))):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    out.sort(key=lambda r: r["start"])
    return out
