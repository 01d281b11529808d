"""Open-loop event-file generator for the event_stream workload.

Runs in its own process. File ``i`` is due at ``start + i / rate``; the
generator sleeps until then, writes the file under a staging name and
renames it into the watched directory, so the stream never sees a
partial file. It never waits for the consumer. At the end it writes a
JSON summary: per-file due and written times (the latency reference
point is the due time) and the ids it emitted, for the correctness check.

Usage: python3 stream_gen.py --out DIR --summary FILE --seed N
       --start EPOCH_S --rate FILES_PER_S --files N --events-per-file N
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

from gen import EVENT_DAY, StreamTruth, event_file_lines


def write_event_file(out_dir: str, staging_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(out_dir, name))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--summary", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    a = ap.parse_args()

    rng = random.Random(a.seed)
    truth = StreamTruth()
    staging = a.out.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    files = []
    for i in range(a.files):
        lines = event_file_lines(rng, i, a.events_per_file, EVENT_DAY, truth)
        due = a.start + i / a.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"events-{i:06d}.json"
        write_event_file(a.out, staging, name, lines)
        files.append({"name": name, "due": due, "written": time.time(),
                      "rows": len(lines)})
    with open(a.summary, "w") as fh:
        json.dump({"files": files, "ids": sorted(truth.ids),
                   "invalid_ids": sorted(truth.invalid_ids), "rows": truth.rows}, fh)


if __name__ == "__main__":
    main()
