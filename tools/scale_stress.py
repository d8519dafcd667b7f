"""Whole-registry sf0.1 → sf1 cost-curve analysis (r5 verdict item 1).

Reads two full bench tables produced by ``bench.py`` on the SAME host
in the SAME session window — one at sf0.1, one at the 10x-amplified
sf1 warehouse from ``tools/make_sf1.py`` — and rewrites the
"Whole-registry sf1 stress" section of SCALING.md with the per-query
time ratio.

Interpretation: best-of-2 per-query times include a per-fresh-plan
constant (analysis/codegen, often the majority at sub-second scale),
so a LINEAR operator lands well under the 10x input ratio; the bound
that matters is ratio <= input_ratio * 1.5 = 15 (the r5 verdict's
survival criterion).  Queries over the bound are listed first for
re-planning.

Output-bound queries: a query whose TRUE result grows faster than the
input (e.g. near-dup PAIRS over the make_sf1 warehouse, where every
doc's 10 copies form a mutual-near-dup clique ⇒ the exact pair set is
quadratic in the clone count) cannot be linear in the input — no
algorithm emits R rows in o(R) time.  For queries measured by
``tools/output_rows_probe.py`` (recorded in ``SCALING_OUTPUT_ROWS.json``)
the bound becomes ``max(15, output_ratio * 1.5)`` and the report prints
the measured row counts so the exception is auditable.

Usage: python tools/scale_stress.py bench_sf01.json bench_sf1.json
"""

from __future__ import annotations

import json
import os
import sys

import measure

BOUND = 15.0  # 10x input * 1.5
SECTION = "## Whole-registry sf1 stress"


def main() -> int:
    small = json.load(open(sys.argv[1]))
    big = json.load(open(sys.argv[2]))
    qs, qb = small["queries"], big["queries"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    orp = os.path.join(root, "SCALING_OUTPUT_ROWS.json")
    output_rows = json.load(open(orp)) if os.path.exists(orp) else {}
    names = [n for n in qs if n in qb]
    rows = []
    for n in names:
        t1, t10 = qs[n], qb[n]
        ratio = t10 / max(t1, 1e-9)
        rows.append((n, t1, t10, ratio))
    rows.sort(key=lambda r: -r[3])

    def bound_for(name):
        meta = output_rows.get(name)
        if meta and meta["output_ratio"] > 10.0:
            return max(BOUND, meta["output_ratio"] * 1.5)
        return BOUND

    over = [r for r in rows if r[3] > bound_for(r[0])]
    outb = [
        (n, t1, t10, r)
        for n, t1, t10, r in rows
        if r > BOUND and r <= bound_for(n)
    ]

    lines = [
        SECTION,
        "",
        "Generated by `tools/scale_stress.py` from two same-host "
        "`bench.py` tables:",
        f"sf0.1 (total {small['value']} s) vs the `tools/make_sf1.py` "
        f"10x warehouse (total {big['value']} s) — "
        f"overall ratio {big['value'] / small['value']:.2f}x on a 10x "
        "input across the FULL registry.",
        "",
        "Best-of-2 per-query times include a constant fresh-plan cost "
        "(analysis/codegen), so linear operators land well under 10x; "
        f"the survival bound is ratio <= {BOUND:g} (input x1.5).",
        "",
        f"**Queries over the {BOUND:g}x bound: {len(over)}**"
        + (" — re-plan these:" if over else ""),
        "",
    ]
    if over:
        lines += [
            "| query | sf0.1 (s) | sf1 (s) | ratio |",
            "|---|---|---|---|",
        ]
        for n, t1, t10, r in over:
            lines.append(f"| {n} | {t1} | {t10} | {r:.1f}x |")
        lines.append("")
    if outb:
        lines += [
            "**Output-bound queries** — over the input×1.5 bound but "
            "under their measured OUTPUT growth (the DECORRELATED "
            "warehouse keeps Jaccard/cosine answers linear, but copy "
            "prefixes differ by ~4 edits — inside the fuzzy matcher's "
            "8-edit threshold — so ITS true answer is quadratic in the "
            "copy count by construction; no algorithm emits R rows in "
            "o(R) time; measured by `tools/output_rows_probe.py`):",
            "",
            "| query | sf0.1 (s) | sf1 (s) | time ratio | result rows "
            "sf0.1→sf1 | output ratio |",
            "|---|---|---|---|---|---|",
        ]
        for n, t1, t10, r in outb:
            m = output_rows[n]
            lines.append(
                f"| {n} | {t1} | {t10} | {r:.1f}x | "
                f"{m['sf01_rows']}→{m['sf1_rows']} | "
                f"{m['output_ratio']}x |"
            )
        lines.append("")
    lines += [
        "Top 30 by ratio (the cost-curve steepest — all certified "
        "under the bound unless listed above):",
        "",
        "| query | sf0.1 (s) | sf1 (s) | ratio |",
        "|---|---|---|---|",
    ]
    for n, t1, t10, r in rows[:30]:
        lines.append(f"| {n} | {t1} | {t10} | {r:.1f}x |")
    med = sorted(r[3] for r in rows)[len(rows) // 2]
    lines += [
        "",
        f"Registry: {len(rows)} queries compared; median ratio "
        f"{med:.2f}x; max {rows[0][3]:.2f}x ({rows[0][0]}).",
        "",
    ]

    measure.replace_section(os.path.join(root, "SCALING.md"), SECTION, lines)
    print(
        json.dumps(
            {
                "compared": len(rows),
                "median_ratio": round(med, 2),
                "max_ratio": round(rows[0][3], 2),
                "max_query": rows[0][0],
                "over_bound": [r[0] for r in over],
                "output_bound": {
                    n: output_rows[n]["output_ratio"] for n, *_ in outb
                },
            }
        )
    )
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
