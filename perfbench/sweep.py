#!/usr/bin/env python3
"""One-off characterisation of oltp_jdbc (not part of the registered runs).

    python3 perfbench/sweep.py [--seed N] [--seconds S]

Runs oltp_jdbc over CDC_MAX_EVENTS_PER_TRIGGER x offered rate to find
the knee between throughput and lag, then once on local[1] as the
single-threaded baseline, and prints one table row per run. The results
recorded in perfbench/README.md justify the registered rate and cap.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CAPS = (250, 500, 2000)
RATES = (20, 40, 80)


def run(seed, seconds, **knobs):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "oltp_jdbc",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    for k, v in knobs.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900).stdout
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if len(lines) < 2:
        return None
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    grid = [dict(cap=c, rate=r) for c in CAPS for r in RATES] + [dict(spark_threads=1)]
    print("| spark threads | cap | offered tx/s | catch-up events/s | lag p50 ms | lag tail ms | correct |")
    print("|---|---|---|---|---|---|---|")
    for knobs in grid:
        got = run(a.seed, a.seconds, **knobs)
        if got is None:
            print(f"| {knobs} | failed |")
            continue
        rep, res = got
        tail = [k for k in rep if k.startswith("lag_p") and k != "lag_p50_ms"]
        tail_txt = f"{tail[0]}={rep[tail[0]]['value']:.0f}" if tail else "-"
        print(f"| {rep['spark_threads']} | {rep['max_events_per_trigger']} | {rep['offered_tps']:.0f} "
              f"| {rep['catchup_eps']:.0f} | {rep['lag_p50_ms']['value']:.0f} | {tail_txt} "
              f"| {res['correct']} |")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
