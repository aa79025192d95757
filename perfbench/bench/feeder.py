"""Open-loop generator for users_to_topic: a single-threaded process that
drops JSON files of `users` rows into the source directory on a fixed
schedule, whether or not the pipeline keeps up.

File i is due at t0 + i * interval, where t0 is `lead` milliseconds after
all file contents are generated. Each file is written under a hidden
name and renamed into place, so the file source never lists a partial
file. The log records, per file, when it was due and when it landed.

Usage: feeder.py <dir> <seed> <files> <rows per file> <interval ms> <lead ms> <log path>
"""
import json
import os
import sys
import time

import gen


def main(directory, seed, files, rows, interval_ms, lead_ms, log_path):
    files, rows, interval = int(files), int(rows), float(interval_ms) / 1e3
    payloads = [gen.users_file(seed, i, rows)[1] for i in range(files)]
    t0 = time.time() + float(lead_ms) / 1e3
    log = []
    for i, data in enumerate(payloads):
        due = t0 + i * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"users-{i:06d}.json"
        tmp = os.path.join(directory, "." + name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(directory, name))
        log.append({"file": name, "due": due, "written": time.time()})
    with open(log_path, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main(*sys.argv[1:])
