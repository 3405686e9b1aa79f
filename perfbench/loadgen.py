"""Open-loop load generator for the `stream_keyed` workload.

Runs as its own process. It makes every file's events first, then
starts its schedule at START_MS (epoch milliseconds, or at once if that
has passed): file `i` holds the events created during
`[start + i*interval, start + (i+1)*interval)` and is due at the end of
that interval; it is written under a hidden temporary name and renamed
into place, so the file source never sees a partial file. The schedule
never waits for the system under test. The file name carries the due
time in epoch milliseconds. On exit the generator prints one JSON line
with how late it ran.

    python3 perfbench/loadgen.py DIR SEED FILES INTERVAL_MS EVENTS_PER_FILE KEYS START_MS
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from datagen import stream_events


def main(argv: list[str]) -> None:
    out_dir = argv[0]
    seed, n_files, interval_ms, per_file, n_keys, start_ms = (int(a) for a in argv[1:7])
    rng = np.random.default_rng(seed)
    batches = [stream_events(rng, per_file, n_keys) for _ in range(n_files)]
    start = max(start_ms / 1000.0, time.time())
    late_ms = []
    for i, table in enumerate(batches):
        due = start + (i + 1) * interval_ms / 1000.0
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        due_ms = round(due * 1000)
        tmp = os.path.join(out_dir, f".tmp-{i:06d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"due-{due_ms}-{i:06d}.parquet"))
        late_ms.append(time.time() * 1000 - due_ms)
    print(json.dumps({"files": n_files, "late_ms_max": max(late_ms)}))


if __name__ == "__main__":
    main(sys.argv[1:])
