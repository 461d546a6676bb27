"""Seeded input generators for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and nothing
else, so one seed always gives byte-identical inputs. The shapes follow
the fixture tables the program is written against (``documents``,
``embeddings``, ``events``): a 30-word vocabulary, 10-99 word texts, 64-d
unit embeddings in 10 weakly separated labels, five event types over
January 2024 with ``props = {"k": <item>}``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a spark join stream small order merge column group customer part "
    "value window big scan table vector sort agg line key query row data "
    "slow fast filter batch hash"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMBED_DIM = 64
N_LABELS = 10
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000


def _text(rng: np.random.Generator, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi))))


def documents(rng: np.random.Generator, n: int, near_dup_share: float = 0.05) -> pd.DataFrame:
    """``documents`` table: ``n`` texts, a share of which are an earlier
    text plus the word ``dup`` (the fixture's own near-duplicate form)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``embeddings`` table: unit vectors whose label centre carries about
    a seventh of their direction, as in the fixtures."""
    centres = rng.standard_normal((N_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
    noise = rng.standard_normal((n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x = noise + 0.15 * centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x.astype(np.float32)),
            "label": labels,
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int, first_id: int = 0) -> pd.DataFrame:
    """``events`` table over 30 days of January 2024, time-ordered."""
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n),
            "value": np.round(rng.exponential(50.0, size=n) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
        }
    )


def write_table(df: pd.DataFrame, path: str) -> None:
    """Write one table as a single parquet file (the fixture layout);
    timestamps as microseconds without a zone, as the fixtures hold them."""
    schema = None
    if "embedding" in df.columns:
        schema = pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        )
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    if "ts" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("ts"), "ts", table.column("ts").cast(pa.timestamp("us"))
        )
    pq.write_table(table, path)


# --- batch_refresh input ---------------------------------------------------

N_DOCS = 500
N_EMBEDDINGS = 500
N_EVENTS = 10_000
N_USERS = 150
REDELIVERED_SHARE = 0.10


def refresh_inputs(seed: int) -> dict[str, pd.DataFrame]:
    """The input dir ``run_pipeline`` reads: fixture-shaped documents,
    embeddings and events, plus ``REDELIVERED_SHARE`` of the documents
    re-delivered as exact copies under new ids (the pipeline's exact
    dedup must drop them)."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, N_DOCS)
    n_re = int(N_DOCS * REDELIVERED_SHARE)
    re = docs.iloc[np.sort(rng.choice(N_DOCS, size=n_re, replace=False))].copy()
    re["doc_id"] = np.arange(N_DOCS, N_DOCS + n_re, dtype=np.int64)
    return {
        "documents": pd.concat([docs, re], ignore_index=True),
        "embeddings": embeddings(rng, N_EMBEDDINGS),
        "events": events(rng, N_EVENTS, N_USERS),
    }


def stage_refresh_inputs(seed: int, in_dir: str) -> None:
    os.makedirs(in_dir, exist_ok=True)
    for name, df in refresh_inputs(seed).items():
        write_table(df, os.path.join(in_dir, f"{name}.parquet"))


# --- stream_ingest input ---------------------------------------------------

BATCH_SIZE = 40
STREAM_BATCHES = 12  # generated per run; the loop uses as many as fit
MIX = {"novel": 0.70, "exact": 0.15, "near": 0.15}
NEAR_DUP_EDITS = 2  # words replaced in a near-dup edit
STREAM_MIN_WORDS = 60  # long enough that 2 edited words keep Jaccard >= 0.8


@dataclass
class Batch:
    batch_id: int
    rows: pd.DataFrame  # doc_id, source, n_chars, text
    kind: dict[int, str]  # doc_id -> novel | exact | near
    origin: dict[int, int]  # doc_id of a dup -> doc_id it copies


def stream_batches(seed: int, n_batches: int) -> list[Batch]:
    """Fixed-size micro-batches in the ``MIX`` shares. Exact and near
    duplicates copy a novel document with a lower id, from the same
    batch or an earlier one, so the generator knows which rows dedup
    must drop; rows are shuffled within the batch."""
    rng = np.random.default_rng(seed)
    pool: list[tuple[int, str]] = []  # every novel doc so far
    out: list[Batch] = []
    next_id = 0
    n_exact = round(BATCH_SIZE * MIX["exact"])
    n_near = round(BATCH_SIZE * MIX["near"])
    kinds = ["novel"] * (BATCH_SIZE - n_exact - n_near) + ["exact"] * n_exact + ["near"] * n_near
    for b in range(n_batches):
        rows, kind, origin = [], {}, {}
        for k in kinds:
            doc_id = next_id
            next_id += 1
            if k == "novel":
                text = _text(rng, STREAM_MIN_WORDS, 100)
                pool.append((doc_id, text))
            else:
                src_id, src = pool[int(rng.integers(0, len(pool)))]
                origin[doc_id] = src_id
                text = src
                if k == "near":
                    words = src.split()
                    for pos in rng.choice(len(words), size=NEAR_DUP_EDITS, replace=False):
                        words[pos] = str(rng.choice([w for w in VOCAB if w != words[pos]]))
                    text = " ".join(words)
            kind[doc_id] = k
            rows.append((doc_id, f"src{doc_id % 20}", len(text), text))
        order = rng.permutation(len(rows))
        frame = pd.DataFrame([rows[i] for i in order], columns=["doc_id", "source", "n_chars", "text"])
        out.append(Batch(b, frame, kind, origin))
    return out


# --- serve call mix ----------------------------------------------------------

SERVE_BURST = {  # calls per burst; the seed sets their order and arguments
    "get_recommendations": 10,
    "latest_stories": 1,
    "get_story": 1,
    "drift_score": 1,
    "track_events": 2,
}
UNKNOWN_USER_SHARE = 0.15
ZIPF_A = 1.3
TRACK_BATCH = 20


def serve_calls(rng: np.random.Generator) -> list[tuple[str, object]]:
    """One burst of (call, argument) pairs in ``SERVE_BURST`` counts and a
    seeded order; fixed counts keep the read median comparable across
    seeds. Recommendation users follow a Zipf popularity over the known
    users; ``UNKNOWN_USER_SHARE`` ask for ids the gold table lacks and
    take the latest-stories fallback. The argument of get_story is a rank
    into the story list, resolved by the caller; track_events carries its
    batch size."""
    names = [n for n, k in SERVE_BURST.items() for _ in range(k)]
    calls: list[tuple[str, object]] = []
    for name in rng.permutation(names):
        if name == "get_recommendations":
            if rng.random() < UNKNOWN_USER_SHARE:
                arg = int(10**9 + rng.integers(0, 10**6))
            else:
                arg = int((rng.zipf(ZIPF_A) - 1) % N_USERS)
        elif name == "get_story":
            arg = int(rng.integers(0, 10**6))
        elif name == "track_events":
            arg = TRACK_BATCH
        else:
            arg = None
        calls.append((str(name), arg))
    return calls


def digest(workload: str, seed: int) -> str:
    """Content hash of everything a workload is fed for ``seed``."""
    if workload == "batch_refresh":
        rng = np.random.default_rng(seed + 1)
        frames = list(refresh_inputs(seed).values())
        frames.append(pd.DataFrame(serve_calls(rng), columns=["call", "arg"]))
    else:
        frames = [b.rows for b in stream_batches(seed, STREAM_BATCHES)]
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df.astype(str), index=False).values.tobytes())
    return h.hexdigest()
