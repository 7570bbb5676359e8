"""Seeded input generators. The same seed gives the same inputs; the
engine only ever sees the generated rows.

Shapes follow the engine's fixtures: ratings ``(rating_id, user_id,
stars, route_id, channel, message, rating_time)`` with ``rating_time``
in epoch ms, and a customers changelog ``(id, first_name, last_name,
email, gender, club_status, comments, create_ts, update_ts, op_seq)``.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHANNELS = np.array(["ios", "android", "web", "ios-test", "web-test"])
STATUSES = np.array(["bronze", "silver", "gold", "platinum"])
#: token vocabulary of the documents/messages text (the sf0.1
#: documents table draws from a small technical vocabulary like this)
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index shard replica segment commit log "
    "offset topic broker rating flight airport crew seat delay gate".split()
)
BASE_MS = 1_700_000_000_000
#: live ratings come from the reference's 20 customers plus two user
#: ids no customer has
LIVE_USERS = 22

RATINGS_SCHEMA = pa.schema([
    ("rating_id", pa.int64()),
    ("user_id", pa.int32()),
    ("stars", pa.int32()),
    ("route_id", pa.int32()),
    ("channel", pa.string()),
    ("message", pa.string()),
    ("rating_time", pa.int64()),
])

RATINGS_DDL = (
    "rating_id long, user_id int, stars int, route_id int, channel string,"
    " message string, rating_time long"
)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[words[pos:pos + ln]]))
        pos += ln
    return out


def skewed_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    """User ids in 1..n_users with a power-law skew (a few heavy
    raters), plus 3 % ids no customer has."""
    weights = 1.0 / np.arange(1, n_users + 1) ** 0.9
    ids = rng.choice(np.arange(1, n_users + 1), size=n, p=weights / weights.sum())
    unknown = rng.random(n) < 0.03
    ids[unknown] = n_users + 1 + rng.integers(0, 1000, size=int(unknown.sum()))
    return ids.astype(np.int32)


def live_users(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(1, LIVE_USERS + 1, size=n).astype(np.int32)


def ratings_table(rng: np.random.Generator, first_id: int, n: int,
                  users: np.ndarray, times_ms: np.ndarray) -> pa.Table:
    return pa.table({
        "rating_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": users,
        "stars": rng.integers(1, 6, size=n).astype(np.int32),
        "route_id": rng.integers(0, 1000, size=n).astype(np.int32),
        "channel": CHANNELS[rng.integers(0, len(CHANNELS), size=n)],
        "message": _texts(rng, n, 3, 8),
        "rating_time": times_ms.astype(np.int64),
    }, schema=RATINGS_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def customers_changelog(rng: np.random.Generator, n_keys: int,
                        max_versions: int) -> pa.Table:
    """Every key 1..n_keys with 1..max_versions versions; later
    versions change club_status/email/comments."""
    versions = rng.integers(1, max_versions + 1, size=n_keys)
    ids = np.repeat(np.arange(1, n_keys + 1, dtype=np.int64), versions)
    n = len(ids)
    ver = np.concatenate([np.arange(v) for v in versions])
    base = datetime.datetime(2020, 1, 1)
    update_ts = [base + datetime.timedelta(hours=int(h))
                 for h in ver * 24 + rng.integers(0, 24, size=n)]
    return pa.table({
        "id": ids,
        "first_name": [f"First{i}" for i in ids],
        "last_name": [f"Last{i % 997}" for i in ids],
        "email": [f"u{i}.{v}@example.com" for i, v in zip(ids, ver)],
        "gender": np.where(ids % 2 == 0, "M", "F"),
        "club_status": STATUSES[rng.integers(0, 4, size=n)],
        "comments": [f"rev{v}" for v in ver],
        "create_ts": [base] * n,
        "update_ts": update_ts,
        "op_seq": np.arange(n, dtype=np.int64),
    })


def reference_customers() -> pa.Table:
    """The reference's 20-row CUSTOMERS seed shape: ids 1..20, one
    version each."""
    ids = np.arange(1, 21, dtype=np.int64)
    base = datetime.datetime(2020, 1, 1)
    return pa.table({
        "id": ids,
        "first_name": [f"First{i}" for i in ids],
        "last_name": [f"Last{i}" for i in ids],
        "email": [f"u{i}@example.com" for i in ids],
        "gender": np.where(ids % 2 == 0, "M", "F"),
        "club_status": STATUSES[ids % 4],
        "comments": ["seed"] * 20,
        "create_ts": [base] * 20,
        "update_ts": [base] * 20,
        "op_seq": ids,
    })
