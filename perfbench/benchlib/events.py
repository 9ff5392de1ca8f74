"""Seeded JSON-lines event files for lambda_stream, staged from the
generated `events` table: time-ordered files, a fixed share of events
delivered a second time one file later (at-least-once redelivery)."""
import datetime
import json
import os

import numpy as np
import pyarrow.parquet as pq


def stage(data_dir, out_dir, seed, files, redeliver):
    """Writes `files` files; returns (input events, input bytes)."""
    t = pq.read_table(os.path.join(data_dir, "events.parquet"),
                      columns=["event_id", "ts", "user_id", "event_type", "value"])
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ids = t["event_id"].to_pylist()
    ts = t["ts"].cast("int64").to_pylist()  # microseconds, UTC
    users = t["user_id"].to_pylist()
    types = t["event_type"].to_pylist()
    values = t["value"].to_pylist()
    n = len(ids)
    rng = np.random.default_rng(seed)
    again = set(rng.choice(n, size=int(round(redeliver * n)), replace=False).tolist())
    bounds = [n * k // files for k in range(files + 1)]
    epoch = datetime.datetime(1970, 1, 1)

    def line(i):
        when = epoch + datetime.timedelta(microseconds=ts[i])
        return json.dumps({"event_id": ids[i], "ts": when.isoformat() + "Z",
                           "user_id": users[i], "event_type": types[i],
                           "value": values[i]})

    os.makedirs(out_dir, exist_ok=True)
    carry, total, nbytes = [], 0, 0
    base = 1_700_000_000
    for k in range(files):
        rows = carry + [line(i) for i in range(bounds[k], bounds[k + 1])]
        carry = [line(i) for i in range(bounds[k], bounds[k + 1]) if i in again]
        if k == files - 1:
            rows += carry
        path = os.path.join(out_dir, f"events_{k:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(rows) + "\n")
        # the file source takes files oldest first: spread modification times
        os.utime(path, (base + k, base + k))
        total += len(rows)
        nbytes += os.path.getsize(path)
    return total, nbytes
