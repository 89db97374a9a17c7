"""Record the input fingerprints the benchmark pins.

    python3 perfbench/pin_inputs.py 0 100

Generates each workload's inputs for seeds ``[first, last)`` at the
BENCHMARK.json ``run_seconds`` and writes their fingerprints (event or row
count plus an order-independent digest) to ``perfbench/fingerprints.json``.
A run whose inputs do not match its pinned fingerprint counts as failed,
so a change to an input generator shows up instead of silently changing
what is measured. Needs no Spark session; writes scratch data under
``.perfbench_runs/`` only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import analytics, replay  # noqa: E402


def main() -> int:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    scratch = os.path.join(ROOT, ".perfbench_runs", "pin")
    path = os.path.join(HERE, "fingerprints.json")
    with open(path) as f:
        pins = json.load(f)
    for seed in range(first, last):
        shutil.rmtree(scratch, ignore_errors=True)
        wal = os.path.join(scratch, "wal")
        replay.generate_wal(wal, seed, seconds)
        n, h = replay.wal_fingerprint(wal)
        pins[f"tail:{seconds}:{seed}"] = [n, str(h)]
        data = os.path.join(scratch, "data")
        analytics.generate(data, seed)
        n, h = analytics.fingerprint(data)
        pins[f"analytics:{seconds}:{seed}"] = [n, str(h)]
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch))  # only when no run is using it
    except OSError:
        pass
    with open(path, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    print(f"pinned seeds {first}..{last - 1} at run_seconds={seconds} in {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
