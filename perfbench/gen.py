"""Seeded input generator for the benchmark.

Everything here is numpy + pyarrow + the standard library: it imports
nothing from the package under test, so a change to the package can
never change the benchmark's inputs or its expected outputs.

Three inputs, each with the expected results the checks compare to:

- ``events``: a parquet table in the package's ``events`` schema, read by
  the dashboard mix (expected results come from the registry's DuckDB
  oracles over this same file).
- ``backlog``: a canal-json changefeed with Zipf-skewed user keys, cut
  into files in event-time order with rising mtimes (the file source
  replays oldest first, so the ingest watermark never sees a late row).
  Expected: sink rows per (table, op) and the last-writer-wins state.
- ``corpus``: documents over a Zipf vocabulary with planted near
  duplicates and exact copies. Expected: exact-dedup survivors, the
  planted pairs and the exact-copy groups.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DDL_SQL = "ALTER TABLE t ADD COLUMN c VARCHAR(32)"
SECOND_ROW_ID_OFFSET = 1_000_000

# Envelope shares, the same as the package's own changefeed generator:
# 1/101 corrupt bytes, 1/53 without a table, op mix 7:1:1:1
# (insert:update:delete:DDL), and a tenth of all envelopes carry two rows.
CORRUPT_SHARE = 1 / 101
NULL_TABLE_SHARE = 1 / 53
OPS = ["INSERT", "UPDATE", "DELETE", "DDL"]
OP_P = [0.7, 0.1, 0.1, 0.1]
MULTI_ROW_SHARE_OF_INSERTS = 1 / 7
REPLAY_EVERY = 5  # at-least-once delivery: every 5th envelope arrives twice
EVENT_USERS = 1000
BACKLOG_USERS = 2000

# Corpus shape: a Zipf vocabulary; 10% of docs are near duplicates with
# about 5% of their source's tokens substituted, 2% are exact copies.
VOCAB = 5000
NEARDUP_SHARE = 0.10
EXACT_SHARE = 0.02
EDIT_SHARE = 0.05


def _zipf(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=size, p=p / p.sum())


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # two-decimal money values, like the package's test tables
    return np.maximum(np.round(rng.exponential(60.0, n), 2), 0.01)


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def write_events(out_dir: Path, seed: int, n: int) -> dict:
    """``events.parquet`` in the package's schema: ids in ts order over 30 days."""
    rng = np.random.default_rng([seed, 1])
    ts = T0_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(_zipf(rng, EVENT_USERS, n, 1.1).astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(_values(rng, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "events.parquet"
    pq.write_table(table, path)
    return {"events.rows": n, "events.bytes": os.path.getsize(path)}


def write_backlog(out_dir: Path, seed: int, n_envelopes: int, n_files: int) -> tuple[dict, dict]:
    """Canal-json JSON-lines backlog (``value, partition, offset``).

    Returns (sizes, expected) where expected holds ``sink_counts``
    {(table, op): rows} after dedupe and ``live_state`` {(table, user):
    (row_id, value, op)} from a last-writer-wins replay."""
    rng = np.random.default_rng([seed, 2])
    span_ms = 2 * 86_400_000  # two days: two event dates per table in the sink
    es = T0_US // 1000 + np.sort(rng.integers(0, span_ms, n_envelopes))
    users = _zipf(rng, BACKLOG_USERS, n_envelopes, 1.2)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_envelopes)]
    ops = np.array(OPS)[rng.choice(len(OPS), n_envelopes, p=OP_P)]
    multi = (ops == "INSERT") & (rng.random(n_envelopes) < MULTI_ROW_SHARE_OF_INSERTS)
    corrupt = rng.random(n_envelopes) < CORRUPT_SHARE
    no_table = rng.random(n_envelopes) < NULL_TABLE_SHARE
    values = _values(rng, n_envelopes)

    lines: list[str] = []
    sink_counts: Counter = Counter()
    latest: dict[tuple, tuple] = {}  # (table, user) -> (order key, row)
    for i in range(n_envelopes):
        offset = i
        partition = i % 4
        if corrupt[i]:
            value = '{"corrupt'
        else:
            op = str(ops[i])
            uid = int(users[i])
            v = float(values[i])
            rows = []
            if op != "DDL":
                rows.append({"id": str(i), "user_id": str(uid), "value": repr(v)})
                if multi[i]:
                    rows.append(
                        {
                            "id": str(i + SECOND_ROW_ID_OFFSET),
                            "user_id": str(uid),
                            "value": repr(v * 2),
                        }
                    )
            env = {"id": i, "database": "testdb"}
            if not no_table[i]:
                env["table"] = str(types[i])
            env.update(
                {
                    "type": op,
                    "es": int(es[i]),
                    "ts": int(es[i]) + 100,
                    "sql": DDL_SQL if op == "DDL" else None,
                    "data": rows or None,
                    "old": [{"value": repr(v + 1)}] if op == "UPDATE" else None,
                }
            )
            value = json.dumps(env, separators=(",", ":"))
            table = "unknown" if no_table[i] else str(types[i])
            for rownum, row in enumerate(rows):
                sink_counts[(table, op.lower())] += 1
                key = (table, uid)
                order = (int(es[i]), offset, rownum)
                if key not in latest or latest[key][0] < order:
                    latest[key] = (order, (int(row["id"]), float(row["value"]), op.lower()))
        line = json.dumps({"value": value, "partition": partition, "offset": offset})
        lines.append(line)
        if i % REPLAY_EVERY == 0:
            lines.append(line)  # redelivery right behind the original

    out_dir.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    paths = []
    mtime = 1_700_000_000
    for f in range(n_files):
        p = out_dir / f"part-{f:05d}.json"
        p.write_text("\n".join(lines[bounds[f] : bounds[f + 1]]) + "\n")
        os.utime(p, (mtime + f, mtime + f))  # event-time order = mtime order
        paths.append(p)
    live = {k: row for k, (_, row) in latest.items() if row[2] != "delete"}
    sizes = {
        "backlog.envelopes": n_envelopes,
        "backlog.lines": len(lines),
        "backlog.files": n_files,
        "backlog.bytes": _file_bytes(paths),
        "backlog.sink_rows": sum(sink_counts.values()),
        "backlog.live_keys": len(live),
    }
    return sizes, {"sink_counts": dict(sink_counts), "live_state": live}


def write_corpus(out_dir: Path, seed: int, n_docs: int) -> tuple[dict, dict]:
    """``docs.parquet`` (doc_id, text). Near duplicates substitute about
    ``EDIT_SHARE`` of their source's tokens; exact copies repeat it.
    Sources of planted docs are distinct base docs. Ids are shuffled so
    a copy is not always the higher id."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        w = "".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    wp = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    wp /= wp.sum()

    n_near = int(n_docs * NEARDUP_SHARE)
    n_exact = int(n_docs * EXACT_SHARE)
    n_base = n_docs - n_near - n_exact
    base = [rng.choice(VOCAB, rng.integers(40, 121), p=wp) for _ in range(n_base)]
    sources = rng.choice(n_base, n_near + n_exact, replace=False)
    docs = list(base)
    near_src, exact_src = sources[:n_near], sources[n_near:]
    for s in near_src:
        toks = base[s].copy()
        n_edit = max(1, round(len(toks) * EDIT_SHARE))
        pos = rng.choice(len(toks), n_edit, replace=False)
        toks[pos] = rng.choice(VOCAB, n_edit, p=wp)
        docs.append(toks)
    docs.extend(base[s].copy() for s in exact_src)

    ids = rng.permutation(n_docs).astype(np.int64)  # position -> doc_id
    texts = [" ".join(words[t] for t in toks) for toks in docs]
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "docs.parquet"
    pq.write_table(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}), path)

    survivors: dict[str, int] = {}
    for pos, text in enumerate(texts):
        did = int(ids[pos])
        if text not in survivors or did < survivors[text]:
            survivors[text] = did
    planted = {
        tuple(sorted((int(ids[s]), int(ids[n_base + j])))) for j, s in enumerate(near_src)
    }
    copies = [
        (int(ids[s]), int(ids[n_base + n_near + j])) for j, s in enumerate(exact_src)
    ]
    sizes = {
        "corpus.docs": n_docs,
        "corpus.bytes": os.path.getsize(path),
        "corpus.planted_pairs": len(planted),
        "corpus.exact_copies": len(copies),
    }
    expected = {
        "survivors": set(survivors.values()),
        "planted_pairs": planted,
        "exact_copies": copies,
    }
    return sizes, expected
