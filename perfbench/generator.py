"""Event-file generator: the open-loop source of ``stream_redis``.

One process, one thread. It reads commands from stdin:

- ``warm``: write one warm-up file now;
- ``go <t0> <files> <per_s>``: write ``files`` files, file ``i`` due at
  ``t0 + i / per_s`` (wall clock), then answer ``done``. The files of the
  ``k``-th ``go`` are in phase ``window<k>``.

Events come from an sf0.1-sized pool drawn with the seed and carry their
creation time as ``ts``. Every file is written under a hidden name and
renamed into place, and one JSON line per file
(``path``, ``due``, ``visible``, ``events``, ``phase``) goes to the manifest.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402

POOL_EVENTS, POOL_USERS = 100_000, 1_500  # sf0.1 events


class Writer:
    def __init__(self, out_dir: str, manifest: str, seed: int, per_file: int) -> None:
        self.out_dir = out_dir
        self.manifest = open(manifest, "a", buffering=1)
        self.pool = datagen.events(np.random.default_rng(seed), POOL_EVENTS, POOL_USERS)
        self.per_file = per_file
        self.next_event = 0
        self.n_files = 0

    def take(self) -> dict:
        """The next ``per_file`` pool events, with globally unique ids."""
        idx = (self.next_event + np.arange(self.per_file)) % POOL_EVENTS
        cols = {k: v[idx] for k, v in self.pool.items()}
        cols["event_id"] = self.next_event + np.arange(self.per_file, dtype=np.int64)
        self.next_event += self.per_file
        return cols

    def write(self, cols: dict, due: float, phase: str) -> None:
        name = f"ev-{self.n_files:06d}.parquet"
        tmp = os.path.join(self.out_dir, "." + name)
        pq.write_table(datagen.events_table(cols), tmp)
        path = os.path.join(self.out_dir, name)
        os.rename(tmp, path)
        visible = time.time()
        self.n_files += 1
        rec = {"path": path, "due": due, "visible": visible,
               "events": len(cols["event_id"]), "phase": phase}
        self.manifest.write(json.dumps(rec) + "\n")


def live(w: Writer) -> None:
    windows = 0
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "warm":
            cols = w.take()
            now = time.time()
            cols["ts"] = np.full(w.per_file, int(now * 1e6), dtype=np.int64)
            w.write(cols, now, "warm")
            print("ok", flush=True)
        elif cmd[0] == "go":
            t0, n, per_s = float(cmd[1]), int(cmd[2]), float(cmd[3])
            phase = f"window{windows}"
            windows += 1
            for i in range(n):
                due = t0 + i / per_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                cols = w.take()
                cols["ts"] = np.full(w.per_file, time.time_ns() // 1000, dtype=np.int64)
                w.write(cols, due, phase)
            print("done", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    a = ap.parse_args()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    os.makedirs(a.dir, exist_ok=True)
    live(Writer(a.dir, a.manifest, a.seed, a.events_per_file))


if __name__ == "__main__":
    main()
