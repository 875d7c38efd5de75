"""Compute a workload's DuckDB reference values.

    python3 perfbench/prepare.py <workload> <seed> <work dir>

The benchmark runs this in a child process after its set-up, so the
reference queries cost the measured driver neither time nor memory.
Writes ``<work dir>/references.json``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    name, seed, work = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    sys.path.insert(0, os.path.dirname(HERE))
    import workloads

    workload = workloads.WORKLOADS[name](seed, work)
    con = workloads.duck(workload.data_dir, workload.views,
                         os.path.join(work, "tmp"))
    try:
        refs = workload.references(con)
    finally:
        con.close()
    with open(os.path.join(work, "references.json"), "w") as f:
        json.dump(refs, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
