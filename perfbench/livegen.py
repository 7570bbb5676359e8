"""Open-loop ratings generator, run as its own process.

Every ``--tick`` seconds it writes one parquet file of ``rate * tick``
ratings into ``--out``, on a fixed schedule that does not slow down when
the pipeline does. Each file is written under a temporary name in
``--tmp`` (same filesystem) and then renamed into ``--out``, so the file
source never sees a partial file. Every rating's ``rating_time`` is its
scheduled creation time in epoch ms.

    python3 perfbench/livegen.py --out DIR --tmp DIR --rate R --tick T \
        --seed N --first-id ID --stop-file PATH --stats PATH

It stops when ``--stop-file`` appears and then writes ``--stats``: one
JSON object with every file's due time, lateness and row count.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--stats", required=True)
    args = ap.parse_args()

    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import data

    rng = np.random.default_rng(args.seed)
    per_file = max(1, int(round(args.rate * args.tick)))
    files = []
    next_id = args.first_id
    start = time.time() + 0.05
    k = 0
    while not os.path.exists(args.stop_file):
        due = start + k * args.tick
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        due_ms = int(due * 1000)
        users = data.live_users(rng, per_file)
        table = data.ratings_table(
            rng, next_id, per_file, users, np.full(per_file, due_ms, dtype=np.int64)
        )
        name = f"r-{k:08d}.parquet"
        tmp = os.path.join(args.tmp, name)
        data.write_parquet(table, tmp)
        os.rename(tmp, os.path.join(args.out, name))
        late_ms = (time.time() - due) * 1000.0
        files.append([due, late_ms, per_file, next_id])
        next_id += per_file
        k += 1
    with open(args.stats + ".tmp", "w") as f:
        json.dump({"files": files, "per_file": per_file}, f)
    os.replace(args.stats + ".tmp", args.stats)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
