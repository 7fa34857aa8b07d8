"""Floor-boundary margin audit for the integer-emission oracles.

The repo's cross-engine rounding rule emits floats as integers via
``floor(x*scale + EPS)`` on BOTH engines, spelled by the one helper pair
in ``debias_spark/numeric.py`` (``floor_eps`` / ``floor_eps_sql``; the
module docstring states the rule and its reason).  The residual risk
class — the one that fired as the Y33 ``embedding_kmeans_update``
hash-fail in round 5 — is a value whose ``x*scale + 0.5`` lands within
~1 ulp of an integer boundary: Spark (Java ``Math.log``/double
arithmetic) and DuckDB (C libm) may then disagree in the last ulp and
floor to DIFFERENT integers despite the shared nudge.

This audit measures the danger DIRECTLY on the current testdata, with no
per-key knowledge: every registered oracle containing the helper's SQL
fragment is re-run in DuckDB twice, once with the nudge at 0 and once at
2e-9.  If both runs produce identical frames, then no emitted value's
boundary distance falls inside [0, 2e-9) — the production nudge 1e-9
sits centered in a safe zone at least 1000x wider than any last-ulp
perturbation (ulp of a ~1e7 micro-nat double is ~2e-9 absolute;
intermediate x values are O(1) with ~1e-16 ulps, scaled to ~1e-10 by
*1e6), so an engine-side ulp difference cannot flip any floor.

Usage:
    python tools/float_margin_audit.py [sf_dir]

Exit code 1 and a per-key report if any oracle is boundary-fragile on
this data draw.  tests/test_registry_contract.py runs the same sweep at
sf0.001 as a regression gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debias_spark.numeric import EPS_SQL  # noqa: E402

FRAGMENT = f"+ {EPS_SQL}"
FRAGMENT_LO = "+ 0.5e0"
FRAGMENT_HI = f"+ {0.5 + 2e-9!r}e0"


# Functions whose cross-engine results are NOT guaranteed bit-identical:
# Java Math.log/exp/pow vs C libm may differ in the last ulp.  +-*/ and
# sqrt ARE correctly rounded by IEEE 754 on both engines, so a
# near-boundary value built from rationals is the benign exact-tie class
# (the eps pushes the bit-identical tie the same way on both engines).
_TRANSCENDENTALS = ("ln(", "log(", "log2(", "log10(", "exp(", "pow(", "^")


def audit(sf_dir: str) -> tuple[list[str], list[str], int]:
    """Return (fragile, tie_class, n_audited): keys whose oracle output
    changes between nudge 0 and nudge 2e-9 — i.e. some emitted value
    sits within 2e-9 of a floor boundary on this data — split by whether
    the oracle uses non-correctly-rounded math (FRAGILE: engines can
    disagree) or only IEEE-exact arithmetic (tie class: consistent by
    bit-identical evaluation, the case the nudge exists for), plus the
    number of oracles audited."""
    from debias_spark.registry import load_all_queries
    from debias_spark.testing import duck_connection

    fragile: list[str] = []
    ties: list[str] = []
    n = 0
    con = duck_connection(sf_dir)
    try:
        for name, spec in sorted(load_all_queries().items()):
            if not spec.oracle or FRAGMENT not in spec.oracle:
                continue
            lo = con.execute(spec.oracle.replace(FRAGMENT, FRAGMENT_LO)).fetchall()
            hi = con.execute(spec.oracle.replace(FRAGMENT, FRAGMENT_HI)).fetchall()
            n += 1
            if sorted(map(tuple, lo)) != sorted(map(tuple, hi)):
                low = spec.oracle.lower()
                if any(t in low for t in _TRANSCENDENTALS):
                    fragile.append(name)
                else:
                    ties.append(name)
    finally:
        con.close()
    return fragile, ties, n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    fragile, ties, n = audit(sf_dir)
    print(f"audited {n} floor-eps oracles at {sf_dir}")
    for k in ties:
        print(
            f"  tie-class (benign): {k} — boundary hit, but all arithmetic "
            "is IEEE-exact, so both engines evaluate bit-identically and "
            "the eps breaks the tie the same way"
        )
    if fragile:
        print("BOUNDARY-FRAGILE (transcendental math within 2e-9 of a floor):")
        for k in fragile:
            print(f"  {k}")
        sys.exit(1)
    print("no transcendental-math oracle within 2e-9 of a floor boundary")


if __name__ == "__main__":
    main()
