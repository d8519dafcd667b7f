#!/usr/bin/env python
"""Per-stage scale attribution for `curation_pipeline` (r6 verdict #2).

The composed pipeline drifted super-linear between sf1 and sf10
(40.8 s -> 521.6 s; ~2x over linear extrapolation from sf1).  This
probe forces each stage of the SAME generator the registered query
consumes (`queries/m07_dedup.py curation_pipeline_stages` — no code
drift possible) at two warehouses and writes a per-stage table:

    python tools/curation_stage_probe.py [sf_dir ...]   # default sf1 sf10

Timing semantics per stage:
  - forced stages (the parquet materialization checkpoint) are timed
    inside the generator step; their row count is parquet metadata.
  - lazy stages are forced with a noop write; `count()` then re-runs
    them once more for output rows.  A lazy stage's time INCLUDES its
    upstream lineage up to the last materialization (exactly what the
    executed query pays), so stage deltas — not totals — attribute
    cost: near_dup_pairs reads the checkpoint, so it IS isolated, and
    survivors_anti_join minus near_dup_pairs is the anti-join cost.

Results cache to .scale/curation_stages.json and render into
SCALING.md under "## curation_pipeline per-stage breakdown".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
from world_vaccination_coverage_etl_spark.queries.m07_dedup import (  # noqa: E402
    curation_pipeline_stages,
)
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402

SECTION = "## curation_pipeline per-stage breakdown"


def probe(spark, sf_dir: str) -> dict[str, dict]:
    out: dict[str, dict] = {}
    gen = curation_pipeline_stages(spark, sf_dir)
    t_prev = time.monotonic()
    while True:
        try:
            name, df, forced = next(gen)
        except StopIteration:
            break
        t_gen = time.monotonic() - t_prev
        if forced:
            # generator step ran the materialization; rows from footer
            secs, rows = t_gen, df.count()
        else:
            t0 = time.monotonic()
            measure.run(df)
            secs = time.monotonic() - t0
            rows = df.count()
        out[name] = {"s": round(secs, 2), "rows": rows}
        print(f"  {sf_dir}: {name:22s} {secs:8.2f}s  rows={rows}", flush=True)
        t_prev = time.monotonic()
    return out


def render(results: dict[str, dict[str, dict]]) -> list[str]:
    dirs = list(results)
    stages = list(next(iter(results.values())))
    lines = [
        SECTION,
        "",
        "All `.scale/*` warehouses here are built by `tools/make_sf1.py`"
        " in **decorrelated** mode (every 7th word gets a copy-indexed"
        " suffix, so cross-copy Jaccard ~0.4 stays under the 0.7"
        " near-dup threshold and the TRUE pair answer grows linearly"
        " with the copy count — the way real crawl corpora grow)."
        " Comparing a decorrelated warehouse against a clone-correlated"
        " (`neardup`-mode) one makes the rows column read as a"
        " contradiction (r7 verdict item 5); regenerate both with the"
        " same mode before re-probing.",
        "",
    ]
    head = "| stage |" + "".join(f" {d} s | {d} rows |" for d in dirs) + " time ratio | rows ratio |"
    lines += [head, "|---|" + "---|" * (2 * len(dirs) + 2)]
    for st in stages:
        cells = ""
        for d in dirs:
            r = results[d][st]
            cells += f" {r['s']} | {r['rows']} |"
        a, b = results[dirs[0]][st], results[dirs[-1]][st]
        tr = round(b["s"] / max(a["s"], 1e-9), 1)
        rr = round(b["rows"] / max(a["rows"], 1), 1)
        lines.append(f"| {st} |{cells} {tr}x | {rr}x |")
    tot = {d: round(sum(r["s"] for r in results[d].values()), 1) for d in dirs}
    lines += [
        "",
        f"Stage totals: {', '.join(f'{d}={s}s' for d, s in tot.items())} "
        "(probe totals exceed the single-run pipeline: lazy stages are "
        "forced once for timing and once more for row counts).",
        "",
    ]
    return lines


def main() -> int:
    dirs = sys.argv[1:] or [".scale/sf1", ".scale/sf10"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cache = os.path.join(root, ".scale", "curation_stages.json")
    results: dict[str, dict[str, dict]] = {}
    if os.path.exists(cache):
        results = json.load(open(cache))
    spark = get_spark("curation_stage_probe")
    for d in dirs:
        print(f"probing {d} ...", flush=True)
        results[d] = probe(spark, d)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(results, fh, indent=1)

    lines = render(results)
    measure.replace_section(os.path.join(root, "SCALING.md"), SECTION, lines)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
