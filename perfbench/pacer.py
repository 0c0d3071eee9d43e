"""Open-loop file generator for the paced_windows workload.

Publishes every file of a staging directory into the watched directory by
atomic rename, one file every 1/rate seconds from a fixed start time, in
name order. Each publication is logged as one JSON line with its due time
and the time it actually happened (both epoch milliseconds), so the
benchmark can time latency from the due time and report how late the
generator ran. Exits early if its parent process goes away.

    python3 pacer.py --staging DIR --watch DIR --rate FILES_PER_S
                     --start-ms EPOCH_MS --log FILE --parent PID
"""
import argparse
import json
import os
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--start-ms", type=float, required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--parent", type=int, required=True)
    a = ap.parse_args()
    names = sorted(n for n in os.listdir(a.staging) if not n.startswith("."))
    with open(a.log, "w") as log:
        for i, name in enumerate(names):
            due = a.start_ms + i * 1000.0 / a.rate
            while True:
                if os.getppid() != a.parent:
                    return 1
                wait = due / 1000.0 - time.time()
                if wait <= 0:
                    break
                time.sleep(min(wait, 0.2))
            os.rename(os.path.join(a.staging, name), os.path.join(a.watch, name))
            actual = time.time() * 1000.0
            log.write(json.dumps({"file": name, "due_ms": due, "actual_ms": actual}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
