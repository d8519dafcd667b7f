"""NumPy reference for the dashboard's before/after window comparison,
and the parser that reads the same figures back out of a rendered page.

The reference is written from the statistics, not from the engine's
code: Welch's t-test with the Welch–Satterthwaite degrees of freedom,
and the Student-t tail from the regularized incomplete beta function.
"""

from __future__ import annotations

import html
import math
import re

import numpy as np

# the windows the dashboard compares: years before and from start_year
PRE_YEARS = POST_YEARS = 5

def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny, eps = 1e-300, 1e-15
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 400):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c
        c = c if abs(c) > tiny else tiny
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def two_sided_p(t: float, dof: float) -> float:
    """2 · P(T_dof > |t|)."""
    return betainc(dof / 2.0, 0.5, dof / (dof + t * t))


def window_reference(years: np.ndarray, values: np.ndarray, start_year: int) -> dict:
    """Before/after means and verdict of one series."""
    before = values[(years >= start_year - PRE_YEARS) & (years <= start_year - 1)]
    after = values[(years >= start_year) & (years <= start_year + POST_YEARS)]
    out = {
        "avg_before": float(before.mean()) if len(before) else None,
        "avg_after": float(after.mean()) if len(after) else None,
        "verdict": "insufficient-data",
    }
    if len(before) < 2 or len(after) < 2:
        return out
    se2_b = before.var(ddof=1) / len(before)
    se2_a = after.var(ddof=1) / len(after)
    if se2_b + se2_a == 0.0:
        return out
    t = (before.mean() - after.mean()) / math.sqrt(se2_b + se2_a)
    dof = (se2_b + se2_a) ** 2 / (
        se2_b**2 / (len(before) - 1) + se2_a**2 / (len(after) - 1)
    )
    p = two_sided_p(t, dof)
    diff = after.mean() - before.mean()
    if p < 0.05 and diff > 0:
        out["verdict"] = "significant-increase"
    elif p < 0.05 and diff < 0:
        out["verdict"] = "significant-decrease"
    else:
        out["verdict"] = "inconclusive"
    return out


_KPI = re.compile(r'<div class="v">([^<]*)</div><div class="l">([^<]*)</div>')
_VERDICT = re.compile(r'verdict:\s*<span class="sig-(?:yes|no)">([^<]*)</span>')


def parse_page(page: str) -> dict:
    """Means and verdict as the dashboard page shows them."""
    kpis = {html.unescape(label): value for value, label in _KPI.findall(page)}

    def number(label: str):
        raw = kpis.get(label)
        if raw is None or raw == "n/a":
            return None
        return float(raw.rstrip("%"))

    verdict = _VERDICT.search(page)
    return {
        "avg_before": number("avg before"),
        "avg_after": number("avg after"),
        "verdict": html.unescape(verdict.group(1)) if verdict else None,
    }


def figures_match(got: dict, ref: dict) -> bool:
    """Means agree to one decimal (the page rounds them) and the
    verdict is the same."""
    if got.get("verdict") != ref["verdict"]:
        return False
    for key in ("avg_before", "avg_after"):
        a, b = got.get(key), ref[key]
        if (a is None) != (b is None):
            return False
        if a is not None and abs(a - b) > 0.05 + 1e-9:
            return False
    return True
