"""Seeded dashboard request mix and its correctness check.

Series are drawn Zipf-skewed over the (country, antigen) index, so a few
series are requested often; ``start_year`` is uniform over 1990–2019.
A small fixed share of requests asks for the index page, and another
for a series that does not exist, which must be answered with 404.

The Zipf exponent and the two shares are assumptions, not measurements:
no request log of this dashboard exists.  The exponent sets how often a
key repeats, so the workload reports the share of requests that repeat
an earlier key (``repeat_share``) for a result cache to be judged by.
"""

from __future__ import annotations

import urllib.parse

import numpy as np

from owid import WideTable
from welch import figures_match, window_reference

# assumed, see above
INDEX_SHARE = 0.05
MISSING_SHARE = 0.03
ZIPF_S = 1.1
START_YEARS = (1990, 2019)


class RequestMix:
    def __init__(self, table: WideTable, seed: int):
        self.table = table
        pairs = table.nonempty_series()
        rank = np.random.default_rng([seed, 1]).permutation(len(pairs))
        self.pairs = pairs[rank]
        weights = 1.0 / np.arange(1, len(pairs) + 1) ** ZIPF_S
        self.cdf = np.cumsum(weights) / weights.sum()
        self._refs: dict[tuple[int, int, int], dict] = {}

    def series_request(self, rng: np.random.Generator) -> tuple[str, tuple]:
        e, a = self.pairs[min(int(np.searchsorted(self.cdf, rng.random())), len(self.pairs) - 1)]
        year = int(rng.integers(START_YEARS[0], START_YEARS[1] + 1))
        country = self.table.entities[e]
        antigen = f"coverage__{self.table.antigens[a]}"
        path = (
            f"/dashboard?country={urllib.parse.quote(country)}"
            f"&antigen={urllib.parse.quote(antigen)}&start_year={year}"
        )
        return path, ("series", int(e), int(a), year)

    def request(self, rng: np.random.Generator) -> tuple[str, tuple]:
        u = rng.random()
        if u < INDEX_SHARE:
            return "/", ("index",)
        if u < INDEX_SHARE + MISSING_SHARE:
            name = f"Nowhere {int(rng.integers(0, 10_000)):04d}"
            return (
                f"/dashboard?country={urllib.parse.quote(name)}&antigen=coverage__bcg",
                ("missing",),
            )
        return self.series_request(rng)

    def reference(self, e: int, a: int, year: int) -> dict:
        key = (e, a, year)
        if key not in self._refs:
            years, values = self.table.series(e, a)
            self._refs[key] = window_reference(years, values, year)
        return self._refs[key]

    def check(self, expect: tuple, status: int | None, figures: dict) -> bool:
        """Is this response the right answer to the request?"""
        kind = expect[0]
        if kind == "missing":
            return status == 404
        if status != 200:
            return False
        if kind == "index":
            return figures.get("index_items") == len(self.pairs)
        return figures_match(figures, self.reference(*expect[1:]))
