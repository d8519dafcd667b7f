"""Streaming scale probe: rows-per-second at 10x input through the
availableNow harness (r9 verdict item 4 — the 10 streaming registry
queries had no scale evidence of any kind).

Why this shape: a micro-batch streaming query's cost at scale is
throughput through its stateful operators, not a one-shot wall time —
and the availableNow harness drains the WHOLE source as one bounded
run, so wall-per-input-row IS the throughput measurement.  Per query
it runs one fresh-checkpoint pass at sf0.1 and one at a 10x warehouse
(``tools/make_sf1.py <sf0.1> .scale/sf1 10 decorrelated``) and records

- wall seconds at each SF (fresh checkpoint both — the resume pool in
  m05 keys on (query, sf_dir) and each probe invocation is that key's
  first, so no pass is a no-op resume);
- events-rows/sec at each SF and the throughput RETENTION ratio
  (10x rate / 1x rate).  Survival bound: retention >= 0.5 — state
  sizes are watermark-bounded by design, so a drop past 2x means
  state or sink machinery grew with input volume (the thing bounded
  state exists to prevent);
- the time ratio for symmetry with the batch probes (bound 10 x 1.5).

Results merge into ``.scale/streaming_probe_results.json``; the
"## streaming scale probe" SCALING.md section regenerates from the
merged map.  Exit 1 if any recorded query breaks either bound.

Usage: python tools/streaming_scale_probe.py [sf01] [sf1] [--only a,b]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402

INPUT_RATIO = 10.0
TIME_BOUND = INPUT_RATIO * 1.5
RETENTION_BOUND = 0.5
SECTION = "## streaming scale probe (sf1, decorrelated, availableNow)"

# every registry query whose plan runs through readStream +
# Trigger.AvailableNow (the streaming harness); cdc/sessionize batch
# siblings are covered by the batch probes.
PROBE = [
    "streaming_tumbling_daily",
    "streaming_tumbling_append",
    "streaming_two_level_window",
    "streaming_sink_jsonl_events",
    "streaming_dedup_events",
    "streaming_enrich_nation",
    "stream_click_attribution",
    "stream_attribution_outer",
    "streaming_upsert_latest",
    "streaming_sessionize_state",
    "streaming_funnel_state",
]


def _events_rows(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        import glob

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(path, "*.parquet"))
        )
    return pq.ParquetFile(path).metadata.num_rows


def main() -> int:
    args = list(sys.argv[1:])
    only = measure.parse_only(args, PROBE)
    sf01 = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    sf1 = args[1] if len(args) > 1 else ".scale/sf1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cache = os.path.join(root, ".scale", "streaming_probe_results.json")
    results = {}
    if os.path.exists(cache):
        results = json.load(open(cache))
    spark = get_spark("streaming_scale_probe")
    measure.warm(spark, sf01)

    rows = {"sf01": _events_rows(sf01), "sf1": _events_rows(sf1)}
    todo = [
        n for n in PROBE if ((n in only) if only else (n not in results))
    ]
    for name in todo:
        rec = {}
        for key, sf_dir in (("sf01", sf01), ("sf1", sf1)):
            wall = measure.sample(spark, name, sf_dir)
            rec[f"{key}_s"] = round(wall, 3)
            rec[f"{key}_rows_per_s"] = round(rows[key] / max(wall, 1e-9))
            measure.release(spark)
        rec["time_ratio"] = round(rec["sf1_s"] / max(rec["sf01_s"], 1e-9), 1)
        rec["retention"] = round(
            rec["sf1_rows_per_s"] / max(rec["sf01_rows_per_s"], 1), 2
        )
        results[name] = rec
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"[stream-probe] {name}: {rec}", file=sys.stderr)

    over = [
        n
        for n, r in results.items()
        if r["time_ratio"] > TIME_BOUND or r["retention"] < RETENTION_BOUND
    ]
    lines = [
        SECTION,
        "",
        "Generated by `tools/streaming_scale_probe.py`: each streaming "
        "registry query drains the full events source once per SF "
        "through its availableNow harness with a FRESH checkpoint "
        "(sf0.1 vs a 10x decorrelated warehouse), measuring "
        "events-rows/second.  Watermark-bounded state means throughput "
        "should be ~flat as input grows; survival bounds: time ratio "
        f"<= {TIME_BOUND:g} AND throughput retention (10x rate / 1x "
        f"rate) >= {RETENTION_BOUND}.",
        "",
        f"Input rows: {rows['sf01']} -> {rows['sf1']}.",
        "",
        f"**Queries over bound: {len(over)}**"
        + (f" — {', '.join(over)}" if over else ""),
        "",
        "| query | sf0.1 (s) | sf1 (s) | time ratio | rows/s sf0.1 | "
        "rows/s sf1 | retention |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in sorted(
        results.items(), key=lambda kv: kv[1]["retention"]
    ):
        lines.append(
            f"| {name} | {r['sf01_s']} | {r['sf1_s']} | "
            f"{r['time_ratio']}x | {r['sf01_rows_per_s']} | "
            f"{r['sf1_rows_per_s']} | {r['retention']} |"
        )
    lines += [
        "",
        f"{len(results)} streaming queries probed.",
        "",
    ]

    measure.replace_section(os.path.join(root, "SCALING.md"), SECTION, lines)
    print(json.dumps({"over_bound": over, "n": len(results)}))
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
