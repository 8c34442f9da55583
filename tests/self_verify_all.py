#!/usr/bin/env python3
"""Builder self-run: the driver-style Spark-vs-DuckDB value comparison
over ALL registry queries at one scale factor, dumped as JSON to a file.

One SF per process: the oracles read their scale from
SPARK_GRAFT_ORACLE_SF, which must match the compared sf_dir.  The
wrapper script/loop merges the per-SF dumps into
CORRECTNESS_SELF_r{N}.json.

Usage: python3 tests/self_verify_all.py <sf_dir> <out.json>
       (set SPARK_GRAFT_ORACLE_SF=<sf_dir> in the environment)
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare_harness import run_all  # noqa: E402

if __name__ == "__main__":
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    assert os.environ.get("SPARK_GRAFT_ORACLE_SF") == sf_dir, (
        "SPARK_GRAFT_ORACLE_SF must match the compared sf_dir")
    results = run_all(sf_dir)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    n_ok = sum(1 for r in results.values()
               if r.get("values_match") or "oracle" in r)
    print(f"{sf_dir}: {n_ok}/{len(results)} ok")
    sys.exit(0 if n_ok == len(results) else 1)
