#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload on two checkouts.

    scripts/ab_pairs.py --parent DIR --change DIR --workload W --seeds 9200-9207 \
        [--data DIR] [--json OUT]

Pair i runs, on seed i of the range,

    python3 perfbench/run.py --paced-files-per-s 7 --workload W --seed S \
        --seconds 12 --trace 0

in both checkouts, one after the other: even-numbered pairs (0, 2, ...) run
the parent first, odd-numbered pairs the change first, so a drift of the
host over the batch does not favour one side. Both checkouts read one input
cache: each checkout's `perfbench/data` is made a symlink to `--data`
(default: the parent's `perfbench/data`) unless it already is that
directory; a checkout whose `perfbench/data` is something else is refused,
since `setup_s` depends on whether the inputs are cached. Passing the same
checkout as both sides gives A/A pairs, the noise floor of the metrics.

Prints one line per run (side, seed, correct, the end-to-end metrics of
BENCHMARK.json and the run's host fingerprint), then, per metric, each
side's median and q1-q3, the change/parent ratio of medians and the number
of pairs the change won (strictly better in the metric's direction). With
`--json` the runs and the summary are also written to a file. Exits 1 if a
run failed or reported `correct: false`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError("empty seed range %r" % text)
    return list(range(lo, hi + 1))


def share_data(checkout, data):
    link = os.path.join(checkout, "perfbench", "data")
    if os.path.lexists(link):
        if os.path.realpath(link) != os.path.realpath(data):
            sys.exit("%s exists and is not %s; move it away or pass --data" % (link, data))
        return
    os.symlink(os.path.realpath(data), link)


def run(checkout, workload, seed, paced, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--paced-files-per-s", str(paced),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "metrics": {}}
    record = os.path.join(checkout, "perfbench", "out", "%s-s%d-t0.json" % (workload, seed))
    host = {}
    if os.path.exists(record):
        with open(record) as f:
            host = json.load(f).get("host", {})
    return {"correct": bool(res.get("correct")) and p.returncode == 0,
            "metrics": {k: v.get("value") for k, v in res.get("metrics", {}).items()},
            "host": host, "failures": [l for l in lines if l.startswith("FAILED")]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fingerprint(h):
    return ("nproc=%s mem_mb=%s heap_mb=%s load=%s->%s steal=%.1f%% commit=%s" % (
        h.get("nproc"), h.get("mem_total_mb"), h.get("jvm_heap_mb"),
        (h.get("load_before") or ["?"])[0], (h.get("load_after") or ["?"])[0],
        100 * h.get("cpu_steal_share", 0.0), str(h.get("commit", "?"))[:12]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 9200-9207")
    ap.add_argument("--data", help="shared input cache (default: the parent's perfbench/data)")
    ap.add_argument("--paced-files-per-s", type=float, default=7)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--json", help="also write runs and summary to this file")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    data = os.path.abspath(a.data or os.path.join(sides["parent"], "perfbench", "data"))
    os.makedirs(data, exist_ok=True)
    for co in sides.values():
        share_data(co, data)
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed, a.paced_files_per_s, a.seconds)
            r.update(pair=i, seed=seed, side=side)
            runs.append(r)
            shown = " ".join("%s=%s" % (m["name"], r["metrics"].get(m["name"])) for m in metrics)
            print("pair %d seed %d %-6s correct=%s %s | %s" % (
                i, seed, side, r["correct"], shown, fingerprint(r["host"])), flush=True)
            for reason in r["failures"]:
                print("  " + reason, flush=True)

    print("\n%s, %d pairs, seeds %d-%d" % (a.workload, len(a.seeds), a.seeds[0], a.seeds[-1]))
    print("%-22s %28s %28s %7s %5s" % ("metric", "parent median [q1-q3]",
                                       "change median [q1-q3]", "ratio", "won"))
    summary = {}
    for m in metrics:
        name = m["name"]
        by_pair = {}
        for r in runs:
            v = r["metrics"].get(name)
            if r["correct"] and v is not None:
                by_pair.setdefault(r["pair"], {})[r["side"]] = v
        both = [p for p in by_pair.values() if len(p) == 2]
        if not both:
            print("%-22s no pair with both sides" % name)
            continue
        par = [p["parent"] for p in both]
        chg = [p["change"] for p in both]
        higher = m["better"] == "higher"
        won = sum(1 for p in both if (p["change"] > p["parent"]) == higher
                  and p["change"] != p["parent"])
        mp, mc = statistics.median(par), statistics.median(chg)
        summary[name] = {"parent": par, "change": chg, "won": won, "pairs": len(both),
                         "parent_median": mp, "change_median": mc,
                         "parent_iqr": quartiles(par), "change_iqr": quartiles(chg)}
        print("%-22s %28s %28s %7s %2d/%d" % (
            name, "%.4g [%.4g-%.4g]" % ((mp,) + quartiles(par)),
            "%.4g [%.4g-%.4g]" % ((mc,) + quartiles(chg)),
            "%.3f" % (mc / mp) if mp else "-", won, len(both)))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
