"""Seeded input generators for the workloads.

Everything here is a pure function of its arguments: the same seed
always yields the same inputs. The engine sees only what these
functions produce (HTTP polls and parquet tables).
"""

from __future__ import annotations

import os
import random

# Simulated wall clock of the first poll (any fixed epoch works; the
# engine only compares poll times with each other).
SIM_BASE_MS = 1_900_000_000_000

# ---------------------------------------------------------------------------
# live_sync: per-connection poll scripts
# ---------------------------------------------------------------------------

LIVE_CONNECTIONS = 4
LIVE_GAMES_PER_CONN = 2
LIVE_CLIENTS_PER_GAME = 2
# Simulated time between two polls of one connection. A connection
# cycles through its 4 virtual clients, so each client polls every
# 4 x 200 ms = 800 ms of simulated time -- well inside the 10 s client
# timeout, as the reference's ~5 syncs/s client would.
LIVE_SIM_STEP_MS = 200
LIVE_POST_SHARE = 0.3
LIVE_STATE_SHARE = 0.1
# Real-time think after each answer, uniform over [0, LIVE_THINK_MAX_S):
# about one micro-batch of the engine on 4 cores, so each poll reaches
# the engine at a random point of its batch cycle.
LIVE_THINK_MAX_S = 1.0
LIVE_THINK_STRATA = 4
_EVENT_TYPES = ("move", "fire", "chat", "jump")


def live_script(seed: int, conn: int):
    """Endless poll script for connection ``conn``: yields
    ``(game, user, now_ms, events, state)``. Each connection owns its
    games outright, so per-game order is the order of this script."""
    rng = random.Random(f"live:{seed}:{conn}")
    slots = [
        (f"c{conn}g{g}", 1 + conn * 100 + g * 10 + u)
        for g in range(LIVE_GAMES_PER_CONN)
        for u in range(LIVE_CLIENTS_PER_GAME)
    ]
    step = 0
    while True:
        game, user = slots[step % len(slots)]
        events = None
        if rng.random() < LIVE_POST_SHARE:
            events = [(rng.choice(_EVENT_TYPES), f"b{rng.randrange(10**6)}")]
        state = None
        if rng.random() < LIVE_STATE_SHARE:
            state = {"hp": str(rng.randrange(101))}
        yield game, user, SIM_BASE_MS + step * LIVE_SIM_STEP_MS, events, state
        step += 1


def think_times(seed: int, conn: int):
    """Endless think times, in seconds, for connection ``conn``. Each
    run of LIVE_THINK_STRATA draws one value from each equal slice of
    [0, LIVE_THINK_MAX_S), in a seeded order, so even a short run sees
    every phase of the batch cycle about equally often."""
    rng = random.Random(f"think:{seed}:{conn}")
    width = LIVE_THINK_MAX_S / LIVE_THINK_STRATA
    while True:
        for k in rng.sample(range(LIVE_THINK_STRATA), LIVE_THINK_STRATA):
            yield (k + rng.random()) * width


# ---------------------------------------------------------------------------
# batch_analytics: events / documents / embeddings tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the spark stream batch window merge table column vector value data"
    " small big join filter group hash customer sort order slow fast line"
    " part row agg key query scan"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EVENT_KINDS = ("click", "view", "signup", "purchase", "error")


def batch_tables(
    seed: int, n_events: int, n_users: int, n_docs: int, n_vecs: int
) -> dict[str, "object"]:
    """The three tables the batch queries read, with the fixture
    shapes the queries were written for: events over 30 days of 2024
    (microsecond timestamps, JSON props), bag-of-words documents with
    exact and appended-token near duplicates, and unit 64-d float
    embeddings with 10 labels. Returns pyarrow tables by name."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(
                [_EVENT_KINDS[i] for i in rng.integers(0, 5, n_events)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 0 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
