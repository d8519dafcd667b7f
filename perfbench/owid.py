"""Seeded generator for an OWID-shaped wide coverage CSV.

The file has the layout the ETL reads: ``Entity,Year`` followed by one
``coverage__<antigen>`` column per antigen, one row per (entity, year),
and empty cells where a country reported nothing.  Each (entity,
antigen) series follows a noisy logistic uptake curve, so the Welch
before/after comparison on it has both significant and inconclusive
windows.

The generator keeps its own value cube, which the correctness checks
use as the reference: the program only ever sees the written file.
"""

from __future__ import annotations

import dataclasses

import numpy as np

ANTIGENS = (
    "bcg", "dtp1", "dtp3", "hepb3", "hepb_bd", "hib3",
    "ipv1", "mcv1", "mcv2", "pcv3", "pol3", "rotac",
)
YEAR_FIRST, YEAR_LAST = 1980, 2024
EMPTY_SHARE = 0.15


@dataclasses.dataclass(frozen=True)
class WideTable:
    """The generated cube: ``values[e, y, a]`` is NaN for an empty cell."""

    entities: tuple[str, ...]
    years: np.ndarray
    antigens: tuple[str, ...]
    values: np.ndarray

    @property
    def tidy_rows(self) -> int:
        return int(np.count_nonzero(~np.isnan(self.values)))

    @property
    def coverage_sum(self) -> float:
        return float(np.nansum(self.values))

    def series(self, entity_idx: int, antigen_idx: int) -> tuple[np.ndarray, np.ndarray]:
        """(years, values) of one series with the empty cells dropped."""
        v = self.values[entity_idx, :, antigen_idx]
        keep = ~np.isnan(v)
        return self.years[keep], v[keep]

    def nonempty_series(self) -> np.ndarray:
        """(entity_idx, antigen_idx) pairs that have at least one value."""
        has = (~np.isnan(self.values)).any(axis=1)
        return np.argwhere(has)


def generate(seed: int, n_entities: int = 3000) -> WideTable:
    rng = np.random.default_rng(seed)
    years = np.arange(YEAR_FIRST, YEAR_LAST + 1)
    n_y, n_a = len(years), len(ANTIGENS)
    ceiling = rng.uniform(55.0, 99.0, size=(n_entities, 1, n_a))
    midpoint = rng.uniform(1975.0, 2015.0, size=(n_entities, 1, n_a))
    rate = rng.uniform(0.08, 0.6, size=(n_entities, 1, n_a))
    curve = ceiling / (1.0 + np.exp(-rate * (years[None, :, None] - midpoint)))
    noisy = curve + rng.normal(0.0, 3.0, size=(n_entities, n_y, n_a))
    values = np.round(np.clip(noisy, 0.0, 99.0), 1)
    values[rng.random(values.shape) < EMPTY_SHARE] = np.nan
    entities = tuple(f"Entity {i:04d}" for i in range(n_entities))
    return WideTable(entities, years, tuple(ANTIGENS), values)


def write_csv(table: WideTable, path: str) -> int:
    """Write the wide CSV; returns its size in bytes.  The same table
    always produces the same bytes."""
    header = "Entity,Year," + ",".join(f"coverage__{a}" for a in table.antigens)
    lines = [header]
    # values are whole tenths in [0, 99]: format through a lookup table
    lut = np.array([f"{t / 10:.1f}" for t in range(991)] + [""], dtype=object)
    tenths = np.rint(np.nan_to_num(table.values, nan=99.1) * 10).astype(np.int64)
    cells = lut[tenths]
    for e, name in enumerate(table.entities):
        for y, year in enumerate(table.years):
            lines.append(f"{name},{year}," + ",".join(cells[e, y]))
    data = ("\n".join(lines) + "\n").encode("ascii")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
