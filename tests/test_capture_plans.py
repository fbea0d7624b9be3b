"""``tools/capture_plans.py:normalize`` must make two captures of one
plan compare equal when only the process differs (expression ids, the
multi-distinct ``Expand`` column order), and keep every other column
order visible to a ``diff``."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "capture_plans",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "capture_plans.py"),
)
capture_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(capture_plans)

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (7)
+- Project (6)
   +- HashAggregate (5)
      +- Exchange (4)
         +- HashAggregate (3)
            +- Expand (2)
               +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [a#{a}, b#{b}]

(2) Expand
Input [2]: [a#{a}, b#{b}]
Arguments: {expand}

(3) HashAggregate
Input [3]: [{chain}]
Keys [3]: [{chain}]
Functions [2]: [partial_count(a#{a}) FILTER (WHERE (gid#9 = {ga})), partial_count(b#{b}) FILTER (WHERE (gid#9 = {gb}))]
Results [2]: [count#30L, count#31L]

(4) Exchange
Input [2]: [count#30L, count#31L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=17]

(5) HashAggregate
Input [2]: [count#30L, count#31L]
Results [2]: [count(a#{a})#40L AS na#41L, count(b#{b})#42L AS nb#43L]

(6) Project
Output [2]: [{out}]
Input [2]: [na#41L, nb#43L]

(7) AdaptiveSparkPlan
Output [2]: [{out}]
Arguments: isFinalPlan=false
"""


def _plan(first: str, out: str = "na#41L, nb#43L") -> str:
    """The plan with the ``Expand`` built ``first``-column first, as
    Spark's rewrite does when that column has the lower expression id."""
    if first == "a":
        return _PLAN.format(
            a=11, b=12, ga=1, gb=2, out=out,
            expand="[[1, a#11, null], [2, null, b#12]], [gid#9, a#11, b#12]",
            chain="a#11, b#12, gid#9",
        )
    return _PLAN.format(
        a=21, b=20, ga=2, gb=1, out=out,
        expand="[[1, b#20, null], [2, null, a#21]], [gid#9, b#20, a#21]",
        chain="b#20, a#21, gid#9",
    )


def test_expand_column_order_normalizes_away():
    assert _plan("a") != _plan("b")
    assert capture_plans.normalize(_plan("a")) == capture_plans.normalize(_plan("b"))


def test_column_order_above_the_aggregate_chain_stays_visible():
    swapped = _plan("a", out="nb#43L, na#41L")
    assert capture_plans.normalize(swapped) != capture_plans.normalize(_plan("a"))
    assert "Output [2]: [nb#NL, na#NL]" in capture_plans.normalize(swapped)
