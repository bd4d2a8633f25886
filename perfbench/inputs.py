"""Seeded inputs for every workload.

Everything a run feeds the program comes from here and from one integer
seed: job-store rows, source bytes, the query permutation and the query
tables.  The same seed gives byte-identical
inputs; another seed changes order, priorities and payloads but keeps
every mix proportion exact (proportions are drawn as fixed counts and
then shuffled, never sampled per row).

Nothing here touches Spark: the generator writes plain files under a
directory the caller owns.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random

SERVER = "Bench Server"
OTHER_SERVER = "Other Server"

# mix proportions, fixed across seeds (shares of the generated jobs)
TWO_PASS_SHARE = 0.40
NORMALISE_SHARE = 0.25
MP4BOX_SHARE = 0.20
MISSING_SHARE = 0.05
NO_VIDEO_SHARE = 0.20
PRIORITIES = (1, 2, 3, 5, 5, 5, 7, 8, 9, 9)  # skewed, with ties

# the query mix: bench.py's 16 headline queries plus six multi-action
# ones, kept as a copy so the benchmark is independent of bench.py
HEADLINE_QUERIES = (
    "poll_topk",
    "claim_join",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_volume",
    "q6_forecast_revenue",
    "order_priority_semi",
    "top_customers_per_nation",
    "progress_pct",
    "dedup_exact",
    "dedup_minhash",
    "neardup_jaccard",
    "embedding_knn",
    "lang_id",
    "quality_score",
    "events_sessionize",
)
MULTI_ACTION_QUERIES = (
    "embedding_density_clusters",
    "part_label_communities",
    "part_local_clustering",
    "part_kcore_peel",
    "corpus_dataset_card",
    "token_cms_topk",
)
QUERY_MIX = HEADLINE_QUERIES + MULTI_ACTION_QUERIES


@dataclasses.dataclass(frozen=True)
class Job:
    id: int
    status: str
    priority: float
    format_id: int
    video_id: int | None
    source_size: int  # 0 = the source file is missing

    @property
    def source_file(self) -> str:
        return f"/media/src/{self.id}.mov"

    @property
    def destination_file(self) -> str:
        return f"/media/out/{self.id}.mp4"


# Encode formats: every combination of passes x loudness x MP4Box, so a
# job's stage list follows from its format id alone.
def format_flags(format_id: int) -> tuple[int, bool, bool]:
    """(passes, normalise, mp4box) of a format id in 1..8."""
    k = format_id - 1
    return (2 if k & 1 else 1, bool(k & 2), bool(k & 4))


def format_id_for(passes: int, normalise: bool, mp4box: bool) -> int:
    return 1 + (passes == 2) + 2 * normalise + 4 * mp4box


def format_rows() -> list[dict]:
    rows = []
    for fid in range(1, 9):
        passes, norm, mp4 = format_flags(fid)
        rows.append(
            {
                "id": fid,
                "format_name": f"fmt{fid}",
                "container": "mp4",
                "video_bitrate": 1_000_000 * passes,
                "video_bitrate_tolerance": None,
                "video_codec": "libx264",
                "video_resolution": "1280x720",
                "audio_bitrate": 128_000,
                "audio_samplerate": 44100,
                "audio_codec": "aac",
                "vpre_string": None,
                "aspect_ratio": "16:9",
                "args_beginning": None,
                "args_video": None,
                "args_audio": None,
                "args_end": None,
                "apply_mp4box": mp4,
                "file_extension": "mp4",
                "preset_string": "-preset fast",
                "normalise_level": "-23" if norm else None,
                "ef_priority": fid,
                "pass_count": passes,
            }
        )
    return rows


def _exact_flags(rng: random.Random, n: int, share: float) -> list[bool]:
    k = round(n * share)
    flags = [True] * k + [False] * (n - k)
    rng.shuffle(flags)
    return flags


def _work_jobs(rng: random.Random, first_id: int, n: int) -> list[Job]:
    """`n` processable jobs with the exact mix proportions."""
    two = _exact_flags(rng, n, TWO_PASS_SHARE)
    norm = _exact_flags(rng, n, NORMALISE_SHARE)
    mp4 = _exact_flags(rng, n, MP4BOX_SHARE)
    missing = _exact_flags(rng, n, MISSING_SHARE)
    novideo = _exact_flags(rng, n, NO_VIDEO_SHARE)
    prio = [PRIORITIES[i % len(PRIORITIES)] for i in range(n)]
    rng.shuffle(prio)
    jobs = []
    for i in range(n):
        jid = first_id + i
        jobs.append(
            Job(
                id=jid,
                status="Not Encoding",
                priority=float(prio[i]),
                format_id=format_id_for(2 if two[i] else 1, norm[i], mp4[i]),
                video_id=None if novideo[i] else jid * 10,
                source_size=0 if missing[i] else rng.randint(256, 2048),
            )
        )
    return jobs


@dataclasses.dataclass(frozen=True)
class JobInputs:
    history: list[Job]  # terminal or foreign rows the run must not change
    crashed: list[Job]  # this server's in-flight rows; startup_reset recovers them
    pending: list[Job]  # queued at start

    @property
    def owned(self) -> list[Job]:
        """Jobs this server must bring to a terminal status."""
        return self.crashed + self.pending

    @property
    def all_jobs(self) -> list[Job]:
        return self.history + self.owned


def job_inputs(seed: int, n_history: int, n_crashed: int, n_pending: int) -> JobInputs:
    """Job-store rows for one run.

    History rows are Done / Error / owned by another server and are
    never claimable.  Crashed rows carry this server's in-flight
    statuses; pending rows are queued."""
    rng = random.Random(seed)
    hist_status = (
        ["Done"] * 90
        + [f"{SERVER} - Error"] * 5
        + ["Encoded"] * 3
        + [f"{OTHER_SERVER} - Encoding Pass 1"] * 2
    )
    history = []
    for jid in range(1, n_history + 1):
        history.append(
            Job(
                id=jid,
                status=rng.choice(hist_status),
                priority=float(rng.choice(PRIORITIES)),
                format_id=rng.randint(1, 8),
                video_id=jid * 10 if jid % 5 else None,
                source_size=0,
            )
        )
    crash_status = [
        f"{SERVER} - Waiting",
        f"{SERVER} - Copying Source 42%",
        f"{SERVER} - Encoding Pass 1",
        f"{SERVER} - Moving File",
    ]
    nxt = n_history + 1
    crashed = [
        dataclasses.replace(
            j,
            status=crash_status[i % len(crash_status)],
            source_size=j.source_size or 512,
        )
        for i, j in enumerate(_work_jobs(rng, nxt, n_crashed))
    ]
    nxt += n_crashed
    return JobInputs(history, crashed, _work_jobs(rng, nxt, n_pending))


def source_bytes(seed: int, job: Job) -> bytes:
    """The source file's content (seeded per job)."""
    return random.Random(f"{seed}/src/{job.id}").randbytes(job.source_size)


def write_sources(seed: int, jobs: list[Job], media_root: str) -> None:
    os.makedirs(os.path.join(media_root, "src"), exist_ok=True)
    for j in jobs:
        if j.source_size:
            with open(os.path.join(media_root, "src", f"{j.id}.mov"), "wb") as f:
                f.write(source_bytes(seed, j))


def query_order(seed: int, passes: int, client: int = 0) -> list[list[str]]:
    """One seeded permutation of the query mix per pass, per client."""
    rng = random.Random(f"{seed}/queries/{client}")
    out = []
    for _ in range(passes):
        order = list(QUERY_MIX)
        rng.shuffle(order)
        out.append(order)
    return out


# --- query tables ------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en"] * 44 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13 + ["zh"] * 15
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_EPOCH = dt.datetime(1970, 1, 1)


def write_query_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """The ten tables the registry reads, shaped like the repository's
    TPC-H-style test data (`scale=1` is about its sf0.01: 60k lineitem
    rows).  Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_evt = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        span = (end - start).days
        return np.array(
            [np.datetime64(start) + np.timedelta64(int(d), "D") for d in rng.integers(0, span, n)],
            dtype="datetime64[us]",
        )

    def pick(values, n):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))], dtype=object
            ),
            "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
        },
    }
    gaps_us = np.maximum(1, rng.exponential(259e6, n_evt)).astype(np.int64)
    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    tables["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": (start_us + np.cumsum(gaps_us)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2)),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], dtype=object),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_tok)))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": pick(_LANGS, n_doc),
        "source": np.array([f"src{i % 20}" for i in range(n_doc)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        arrays = {
            k: pa.array(v, type=pa.list_(pa.float32())) if k == "embedding" else pa.array(v)
            for k, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(next(iter(cols.values())))
    return counts
