#!/usr/bin/env python3
"""Open-loop load generator for the relay_paced workload.

Single-threaded: writes one JSON-lines envelope file every 1/files-per-second
seconds from --start-us on, for --seconds seconds, whatever the engine does.
Each file is written under a hidden temporary name and then renamed, so the
file source never sees a partial file. Every record carries its event id and
the time it was due (epoch microseconds). Keys are uniform over user ids
0 until --users and drawn from --seed. At the end a JSON summary goes to
--summary: records written and how late the writes ran against the schedule.
"""
import argparse
import json
import os
import random
import time

EVENT_TYPES = ["view", "click", "cart", "buy", "share"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--files-per-second", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--users", type=int, required=True)
    p.add_argument("--start-us", type=int, required=True)
    p.add_argument("--summary", required=True)
    a = p.parse_args()

    rng = random.Random(a.seed)
    per_file = a.rate // a.files_per_second
    interval_us = 1_000_000 // a.files_per_second
    late_ms = []
    n = 0
    for f in range(a.seconds * a.files_per_second):
        due_us = a.start_us + f * interval_us
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        lines = []
        for eid in range(n, n + per_file):
            user = rng.randrange(a.users)
            payload = ('{"event_id":%d,"due_us":%d,"user_id":%d,"event_type":"%s","value":%.2f}'
                       % (eid, due_us, user, rng.choice(EVENT_TYPES), rng.randrange(100000) / 100))
            lines.append(json.dumps({"data": payload, "partitionKey": str(user), "seq": eid}))
        tmp = os.path.join(a.dir, ".tmp-%06d.json" % f)
        with open(tmp, "w") as out:
            out.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.dir, "part-%06d.json" % f))
        late_ms.append(max(0.0, time.time() * 1e3 - due_us / 1e3))
        n += per_file

    late_ms.sort()
    p99 = late_ms[min(len(late_ms) - 1, int(0.99 * len(late_ms)))] if late_ms else 0.0
    with open(a.summary, "w") as out:
        json.dump({"records": n, "files": len(late_ms), "late_p99_ms": p99}, out)


if __name__ == "__main__":
    main()
