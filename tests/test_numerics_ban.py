"""Numerics ban (r12): no F.round over a division without justification.

``F.round(<quotient>, k)`` on a double is midpoint-exposed when the
quotient is an exact-integer rational: Spark's HALF_UP BigDecimal round
of the double's shortest decimal repr and DuckDB's C-double round
disagree by 1 ulp whenever the exact value lands on (or within an ulp
of) a (k+1)-th-decimal midpoint — the r11 driver-gate failure class
(cohort_ltv). Every such site must either

- use functions.rounding.iround_ratio / iround_ratio_signed (the
  engine-exact integer div-round), or
- carry a ``# round-ok: <reason>`` comment within the 8 lines above the
  ``F.round(`` call, stating why midpoints cannot occur (sqrt/log in
  the DAG, literal folded at build time, quantizer-boundary semantics).

This is the plan-ban pattern (tests/test_plans.py) applied to numerics:
a grep-driven sweep so a NEW rounded quotient cannot land unreviewed.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark",
)

#: lines of lookback for the justification tag
TAG_WINDOW = 8


def _round_call_arg(src: str, start: int) -> str:
    """Balanced-paren argument text of the F.round( call at ``start``."""
    j = src.index("(", start)
    depth = 0
    for k in range(j, len(src)):
        if src[k] == "(":
            depth += 1
        elif src[k] == ")":
            depth -= 1
            if depth == 0:
                return src[j + 1 : k]
    return ""


def iter_offending_sites():
    for dirpath, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            if fname == "rounding.py":  # the helper's own docstring
                continue
            path = os.path.join(dirpath, fname)
            src = open(path).read()
            lines = src.split("\n")
            for m in re.finditer(r"F\.round\(", src):
                arg = _round_call_arg(src, m.start())
                if "/" not in arg:
                    continue
                lineno = src[: m.start()].count("\n") + 1
                ctx = "\n".join(lines[max(0, lineno - 1 - TAG_WINDOW) : lineno - 1])
                if "round-ok" not in ctx:
                    rel = os.path.relpath(path, os.path.dirname(PKG))
                    yield f"{rel}:{lineno} :: {' '.join(arg.split())[:90]}"


def test_no_unjustified_rounded_quotients():
    offenders = list(iter_offending_sites())
    assert not offenders, (
        "F.round over a division without an iround_ratio conversion or a "
        "'# round-ok:' justification within "
        f"{TAG_WINDOW} lines:\n" + "\n".join(offenders)
    )


def test_oracle_sql_round_quotients_are_audited():
    """The oracle side of the same ban: `round(<expr with />, k)` in
    queries.py SQL must stay below the audited r12 census. A NEW rounded
    quotient in an oracle string is the same midpoint exposure on the
    DuckDB side — convert it to the `//` div-round form instead (the
    identity in functions/rounding.py's docstring). Sites audited r12 and left
    deliberately: sqrt/ln-valued quotients, KMV/HLL estimator constants,
    quantizer grids, and decimal-scale-safe literals."""
    qp = os.path.join(PKG, "queries.py")
    src = open(qp).read()
    hits = []
    for m in re.finditer(r"(?<![\w.])round\(", src):
        arg = _round_call_arg(src, m.start())
        if "/" in arg and "//" not in arg:
            hits.append(" ".join(arg.split())[:60])
    # r12 audited census: every one of these was individually reviewed
    # (sqrt/ln in the DAG, or build-time Python literals). Additions fail.
    assert len(hits) <= 32, (
        "new round(<division>) in an oracle SQL string — use the integer "
        "div-round (//) form instead:\n" + "\n".join(hits)
    )
