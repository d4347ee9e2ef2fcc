"""Seeded input generators.

Every input the package sees is made here from the workload seed: the
events the ledger is derived from, the orchestrator tick sequence, the
document corpus with its per-replica token suffixes, the delta split of
the stream, and the embedding vectors. Same seed, same bytes.

Shapes follow the sf0.1 test tables (30 days of events over 5 event
types; a 31-word vocabulary with 10-100 token documents; 64-dim
float vectors), generated rather than read, so the benchmark needs
nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "purchase", "signup", "view", "error")
STATUSES = ("pending", "in_progress", "completed", "failed")
DAY0 = dt.date(2024, 1, 1)
N_DAYS = 30

# sf0.1's document vocabulary size and length range.
WORDS = (
    "spark batch stream query table join group sort hash scan filter "
    "window order key value row column part line data vector merge agg "
    "fast slow big small customer a the of"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding one input never
    shifts the bytes of another."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, tag])


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# ---------------------------------------------------------------------------
# ledger_service
# ---------------------------------------------------------------------------
def events(seed: int, n: int) -> pd.DataFrame:
    """`events` in the sf0.1 shape: uniform over 30 days, 1500 users,
    value ~ Exp(50) (median ~35, like the test table), so the derived
    ledger has the same status mix."""
    r = rng_for(seed, "events")
    base = np.datetime64(DAY0.isoformat() + "T00:00:00", "us")
    ts = base + r.integers(0, N_DAYS * 86400 * 10**6, n).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": r.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.minimum(r.exponential(50.0, n), 560.0).round(2),
            "props": "{}",
        }
    )


def ticks(seed: int, n: int, write_every: int) -> list[dict]:
    """The orchestrator's tick sequence. Each tick names the
    (pipeline, index, day) it works on, the window it plans, the status
    it counts and picks, and whether it also registers a new run: every
    `write_every`-th tick from a seeded offset, so the read/write mix of
    a window does not depend on the seed."""
    r = rng_for(seed, "ticks")
    offset = int(r.integers(0, write_every))
    out = []
    for k in range(n):
        day = DAY0 + dt.timedelta(days=int(r.integers(0, N_DAYS - 1)))
        start = dt.datetime.combine(day, dt.time()) + dt.timedelta(
            minutes=int(r.integers(0, 23 * 60))
        )
        out.append(
            {
                "pipeline": EVENT_TYPES[int(r.integers(0, 5))],
                "index": f"idx_{int(r.integers(0, 3))}",
                "day": day.isoformat(),
                "start": start,
                "end": start + dt.timedelta(minutes=int(r.integers(5, 90))),
                "status": STATUSES[int(r.integers(0, 4))],
                "latest": bool(r.integers(0, 2)),
                "write": (k + offset) % write_every == 0,
            }
        )
    return out


# ---------------------------------------------------------------------------
# documents and embeddings (curation)
# ---------------------------------------------------------------------------
def _texts(r: np.random.Generator, n: int, dup_every: int, replicas: int) -> list[list[str]]:
    """Token lists; every `dup_every`-th is a near-duplicate (5% of the
    tokens replaced) of a seeded earlier document of the same replica."""
    weights = 1.0 / np.arange(1, len(WORDS) + 1)
    weights /= weights.sum()
    docs: list[list[str]] = []
    for i in range(n):
        if i >= replicas and i % dup_every == 0:
            src = list(docs[i - replicas * int(r.integers(1, i // replicas + 1))])
            for j in np.flatnonzero(r.random(len(src)) < 0.05):
                src[j] = WORDS[int(r.integers(0, len(WORDS)))]
            docs.append(src)
        else:
            length = int(r.integers(10, 101))
            docs.append(list(np.array(WORDS)[r.choice(len(WORDS), length, p=weights)]))
    return docs


def documents(
    seed: int, stream: str, n: int, replicas: int, id0: int, dup_every: int = 10
) -> pd.DataFrame:
    """`documents` rows. Document i belongs to replica i % replicas and,
    for replica r > 0, every token carries the suffix `_r{r}` — the
    decorrelation rule of tools/make_scaled_data.py, so near-duplicate
    pairs stay inside a replica and their count grows linearly with the
    corpus instead of quadratically."""
    r = rng_for(seed, stream)
    toks = _texts(r, n, dup_every, replicas)
    texts = []
    for i, t in enumerate(toks):
        rep = i % replicas
        texts.append(" ".join(t if rep == 0 else [w + f"_r{rep}" for w in t]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(id0, id0 + n, dtype=np.int64),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, dup_every: int = 5) -> pd.DataFrame:
    """Unit-ish random vectors plus near-duplicate families: every
    `dup_every`-th row is a small perturbation of a seeded earlier row
    (cosine ~0.97), the rest are independent (cosine ~N(0, 1/dim))."""
    r = rng_for(seed, "embeddings")
    vecs = np.empty((n, dim), dtype=np.float32)
    for i in range(n):
        if i and i % dup_every == 0:
            vecs[i] = vecs[int(r.integers(0, i))] + r.normal(0, 0.25, dim) / np.sqrt(dim)
        else:
            vecs[i] = r.normal(0, 1, dim) / np.sqrt(dim)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": (np.arange(n) % 10).astype(np.int32),
        }
    )
