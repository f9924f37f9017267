#!/usr/bin/env python3
"""Record the batch fingerprints of the last run as the expected ones.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0
    python3 perfbench/record_expected.py

Reads `.bench_build/raw.json`, which every run leaves behind, and writes its
warm-up fingerprints to `perfbench/expected/<workload>.json`. Use it only
after a deliberate change to a query's result, and review the diff.
"""

import json
import sys

import run


def main():
    raw = json.loads((run.BUILD / "raw.json").read_text())
    got = raw.get("extra", {}).get("fingerprints")
    if not got:
        run.fail(f"the last run ({raw.get('workload')}) took no fingerprints")
    path = run.EXPECTED / f"{raw['workload']}.json"
    path.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(got)} fingerprints to {path.relative_to(run.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
