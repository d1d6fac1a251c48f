"""Seeded input generator with ground truth.

Every workload's inputs come from ``numpy.random.default_rng(seed)`` and
are written as parquet files in the shape of
``sources/events.py:EVENTS_RAW_SCHEMA`` (``ts`` as ``timestamp[us]``).
Each file gets a strictly ascending modification time: the streaming
file source orders files by mtime, and ties would make the drain order
(and so the "last event wins" result) arbitrary.

The generator also returns what the outputs must be: the final row per
key of every compacted table (as an order-insensitive hash of
``(key, pos, deleted)``), every row of every APPEND table, the max
``event_id`` and, for documents, the planted duplicates. The program
under test sees only the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# event_type -> op code, as sources/events.py derives it:
# signup = create, error = delete, anything else = update
INSERT, DELETE = "signup", "error"
UPDATES = ("click", "view", "purchase")

# Row hash shared with the Spark-side check (checks.py): every step stays
# below 2**63, so numpy int64 and Spark longs agree without overflow.
P = 2_147_483_647
HASH_SQL = ("pmod(pmod({k} * 1000003 + {p}, 2147483647) * 998244353"
            " + cast({d} as long), 2147483647)",
            "pmod(pmod({p} * 40503 + {k}, 2147483647) * 69069"
            " + cast({d} as long) * 7 + 1, 2147483647)")

TS_BASE_US = 1_700_000_000_000_000    # 2023-11-14, µs
MTIME_BASE = 1_700_000_000            # s; files are 1 s apart


def row_hash(key: np.ndarray, pos: np.ndarray,
             deleted: np.ndarray) -> tuple[int, int, int]:
    """(row count, Σh1, Σh2) over (key, pos, deleted) rows — the
    numpy twin of ``HASH_SQL``."""
    k = key.astype(np.int64)
    p = pos.astype(np.int64)
    d = deleted.astype(np.int64)
    h1 = np.mod(np.mod(k * 1000003 + p, P) * 998244353 + d, P)
    h2 = np.mod(np.mod(p * 40503 + k, P) * 69069 + d * 7 + 1, P)
    return int(len(k)), int(h1.sum()), int(h2.sum())


@dataclass
class Events:
    """One table's change events, in commit (= ``event_id``) order."""

    event_id: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray      # object array of str
    value: np.ndarray
    props: np.ndarray           # object array of str

    def __len__(self) -> int:
        return len(self.event_id)

    def slice(self, a: int, b: int) -> "Events":
        return Events(self.event_id[a:b], self.user_id[a:b],
                      self.event_type[a:b], self.value[a:b],
                      self.props[a:b])

    def table(self) -> pa.Table:
        return pa.table({
            "event_id": pa.array(self.event_id, pa.int64()),
            "ts": pa.array(TS_BASE_US + self.event_id * 1000,
                           pa.timestamp("us")),
            "user_id": pa.array(self.user_id, pa.int64()),
            "event_type": pa.array(self.event_type, pa.string()),
            "value": pa.array(self.value, pa.float64()),
            "props": pa.array(self.props, pa.string()),
        })


def concat(parts: list[Events]) -> Events:
    return Events(*(np.concatenate([getattr(e, f) for e in parts])
                    for f in ("event_id", "user_id", "event_type",
                              "value", "props")))


@dataclass
class FileClock:
    """Hands out strictly ascending file mtimes across a whole input
    set, so every file sorts after every file written before it."""

    next_mtime: int = MTIME_BASE

    def write(self, ev: Events, path: str) -> int:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(ev.table(), path)
        os.utime(path, (self.next_mtime, self.next_mtime))
        self.next_mtime += 1
        return os.path.getsize(path)


def write_files(clock: FileClock, ev: Events, directory: str,
                n_files: int, first: int = 0) -> int:
    """Split ``ev`` in commit order over ``n_files`` files named
    ``part-<first+i>.parquet``; returns the bytes written."""
    cuts = np.linspace(0, len(ev), n_files + 1).astype(int)
    return sum(clock.write(ev.slice(cuts[i], cuts[i + 1]),
                           os.path.join(directory,
                                        f"part-{first + i:05d}.parquet"))
               for i in range(n_files))


def last_per_key(ev: Events) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Expected compacted rows: the last event per key (commit order)
    as (key, pos, deleted) arrays."""
    rev = slice(None, None, -1)
    keys, idx = np.unique(ev.user_id[rev], return_index=True)
    last = len(ev) - 1 - idx
    return keys, ev.event_id[last], ev.event_type[last] == DELETE


def compacted_hash(ev: Events) -> tuple[int, int, int]:
    return row_hash(*last_per_key(ev))


def _types(rng: np.random.Generator, n: int, p_delete: float) -> np.ndarray:
    u = rng.random(n)
    out = np.array(UPDATES, dtype=object)[rng.integers(0, 3, n)]
    out[u < p_delete] = DELETE
    return out


def _props(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.char.add("p", rng.integers(0, 10_000, n).astype(str)
                       ).astype(object)


def key_events(rng: np.random.Generator, first_id: int, keys: np.ndarray,
               p_delete: float) -> Events:
    """Events for the given key sequence: a key's first appearance is an
    insert, later ones updates (or, with ``p_delete``, deletes)."""
    n = len(keys)
    types = _types(rng, n, p_delete)
    _, first = np.unique(keys, return_index=True)
    types[first] = INSERT
    return Events(np.arange(first_id, first_id + n, dtype=np.int64),
                  keys.astype(np.int64), types,
                  np.round(rng.random(n) * 1000, 2), _props(rng, n))


# -- documents ---------------------------------------------------------

VOCAB = 5000
DOC_WORDS = 40


@dataclass
class Corpus:
    """Document events plus the planted duplicates among the live docs."""

    waves: list[Events]
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    live_text: dict[int, str] = field(default_factory=dict)


def _doc(rng: np.random.Generator) -> list[str]:
    return [f"w{w}" for w in rng.integers(0, VOCAB, DOC_WORDS)]


def corpus_events(rng: np.random.Generator, n_docs: int, n_waves: int,
                  n_exact: int, n_near: int) -> Corpus:
    """``n_docs`` documents arriving as CDC inserts over ``n_waves``
    waves; later waves also update and delete earlier docs. Planted
    pairs (a copy, or a copy with one word changed) are inserted in the
    last wave next to their original and never touched again, so they
    are live at the end."""
    text: dict[int, str] = {}
    planted_src = set()
    waves = []
    next_id, next_doc = 1, 1
    per_wave = n_docs // n_waves
    exact, near = [], []
    for w in range(n_waves):
        ids, types, texts = [], [], []
        for _ in range(per_wave):
            d = next_doc
            next_doc += 1
            text[d] = " ".join(_doc(rng))
            ids.append(d), types.append(INSERT), texts.append(text[d])
        if w > 0:
            old = [d for d in text if d not in planted_src]
            picked = rng.choice(old, size=max(1, per_wave // 10),
                                replace=False)
            for j, d in enumerate(picked):
                d = int(d)
                if j % 3 == 0:
                    ids.append(d), types.append(DELETE)
                    texts.append(text.pop(d))
                else:
                    text[d] = " ".join(_doc(rng))
                    ids.append(d), types.append(UPDATES[0])
                    texts.append(text[d])
        if w == n_waves - 1:
            live = sorted(text)
            srcs = rng.choice(live, size=n_exact + n_near, replace=False)
            for j, s in enumerate(srcs):
                s = int(s)
                d = next_doc
                next_doc += 1
                words = text[s].split(" ")
                if j >= n_exact:
                    words[DOC_WORDS // 2] = "zzz"
                text[d] = " ".join(words)
                planted_src.update((s, d))
                (exact if j < n_exact else near).append((s, d))
                ids.append(d), types.append(INSERT), texts.append(text[d])
        n = len(ids)
        waves.append(Events(
            np.arange(next_id, next_id + n, dtype=np.int64),
            np.array(ids, dtype=np.int64), np.array(types, dtype=object),
            np.zeros(n), np.array(texts, dtype=object)))
        next_id += n
    return Corpus(waves, exact, near, text)
