"""Recompute the stored DuckDB oracle answers of the registry workload.

Writes ``oracle/<query>.parquet`` and ``oracle/manifest.json`` (query →
key, see ``registry_mix.oracle_sql``) for the queries whose oracles are
too slow to run in every benchmark run (``registry_mix.STORED``).  A
benchmark run refuses to start measuring when a stored key no longer
matches.  Run it from the repository root after changing the registry
data definition (``star.py``) or one of these oracles::

    python3 perfbench/make_oracles.py

The dedup oracles are brute force, so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import registry_mix  # noqa: E402
from common import remove_tree  # noqa: E402


def main() -> int:
    data_dir = os.path.join(ROOT, ".perfbench_run", "make-oracles")
    registry_mix.write_data(data_dir)
    data = registry_mix.data_key()
    con = registry_mix.correctness_tool(ROOT).duck_connect(data_dir)
    manifest = {}
    try:
        for name in registry_mix.STORED:
            sql, key = registry_mix.oracle_sql(name, data_dir, data)
            t0 = time.perf_counter()
            df = con.execute(sql).fetchdf()
            df.to_parquet(os.path.join(registry_mix.ORACLE_DIR, f"{name}.parquet"), index=False)
            manifest[name] = key
            print(f"{name}: {len(df)} rows in {time.perf_counter() - t0:.1f} s", flush=True)
    finally:
        con.close()
        remove_tree(data_dir)
    with open(os.path.join(registry_mix.ORACLE_DIR, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
