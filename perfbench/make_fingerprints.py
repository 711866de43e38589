"""Regenerate ``fingerprints.json``: the DuckDB oracle result fingerprint
of every registered query the workloads run, at every scale under
``data/``. Rerun it when a pinned sample or an oracle changes.

    python3 perfbench/make_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import workloads  # noqa: E402
from perfbench.oracle import DuckOracle, fingerprint  # noqa: E402


def main() -> int:
    from mini_sql_engine_spark.operators import ALL_ORACLES

    names = sorted({n for names in workloads.REGISTERED.values() for n in names})
    out: dict[str, dict[str, str]] = {}
    data_root = os.path.join(HERE, "data")
    for scale in sorted(os.listdir(data_root)):
        oracle = DuckOracle(os.path.join(data_root, scale), threads=len(os.sched_getaffinity(0)))
        out[scale] = {}
        for n in names:
            t0 = time.perf_counter()
            out[scale][n] = fingerprint(oracle.frame(ALL_ORACLES[n]))
            print(f"{scale} {n} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        oracle.close()
        print(f"{scale}: {len(names)} fingerprints", file=sys.stderr)
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
