#!/usr/bin/env python3
"""Offered-rate sweep of the `tail_serve` workload.

    python3 perfbench/sweep.py --rates 4,8,16,32 --seed 1 --seconds 16

Runs `tail_serve` once per offered rate (files per second), untraced,
with the reader cadence of BENCHMARK.json's command, and prints for
each rate how close it runs to the stream's capacity: the share of the
measured window the stream's triggers were busy, files per trigger, the
largest backlog, and the lag and throughput the benchmark reports. Where
the busy share nears 1 and the backlog grows with the window, the rate
is past what the engine sustains. Used to choose the frozen rate.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WINDOW = re.compile(r"window \d+\.\.\d+ \(traced=false\): ([\d.]+) s, (\d+) triggers, "
                    r"([\d.]+) files/trigger, stream busy ([\d.]+) of the window, "
                    r"backlog max (\d+) files")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rates", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=16)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        command = json.load(fh)["command"]
    scan = command[command.index("--scan-every-ms") + 1]
    print("files/s  busy  trigger_s  files/trigger  triggers  backlog_max  lag_ms_p50  "
          "events_per_s  correct")
    for rate in a.rates.split(","):
        cmd = ["python3", os.path.join(HERE, "run.py"), "--tail-files-per-s", rate,
               "--scan-every-ms", scan, "--workload", "tail_serve", "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        w = WINDOW.search(p.stderr)
        try:
            res = json.loads(p.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            print(f"{rate:>7}  run failed (exit {p.returncode})")
            continue
        m = res["metrics"]
        if not w:
            print(f"{rate:>7}  no window line (exit {p.returncode})")
            continue
        wall, trig, fpt, busy, backlog = w.groups()
        per_trigger = float(wall) * float(busy) / int(trig)
        print(f"{rate:>7}  {busy:>4}  {per_trigger:9.2f}  {fpt:>13}  {trig:>8}  {backlog:>11}  "
              f"{m['lag_ms_p50']['value']:10.0f}  {m['events_per_s']['value']:12.0f}  "
              f"{res['correct']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
