"""Open-loop publisher for the ingest workload's live phase.

Publishes pre-written hidden stream files on a fixed schedule: file ``k``
is due at ``start + k * interval`` (epoch seconds) and becomes visible to
Spark's file source when it is renamed to drop its leading ``.``.  The
schedule never waits for the pipeline.  Writes one JSON line per file
(name, due, published) to ``--log`` when done.

    python3 perfbench/livegen.py --dir FEED --start EPOCH --interval S --log PATH
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    hidden = sorted(n for n in os.listdir(args.dir) if n.startswith(".txn-"))
    log = []
    for k, name in enumerate(hidden):
        due = args.start + k * args.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        src = os.path.join(args.dir, name)
        dst = os.path.join(args.dir, name[1:])
        now = time.time()
        os.utime(src, (now, now))
        os.rename(src, dst)
        log.append({"file": name[1:], "due": due, "published": time.time()})
    with open(args.log, "w") as f:
        for entry in log:
            f.write(json.dumps(entry) + "\n")


if __name__ == "__main__":
    main()
