"""Tests of the result comparison the query checks use.

    python3 -m pytest perfbench/test_oracle.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402


def _one(v):
    return (["x"], [(v,)])


def test_rounding_tie_accepted():
    # one unit in the last printed place of the finer value
    assert oracle.same(_one(0.125), _one(0.126))
    assert oracle.same(_one(2.49), _one(2.5))


def test_coarse_value_is_not_a_wide_tolerance():
    # 5.0 prints with one decimal; that must not allow an error of 0.1
    assert not oracle.same(_one(5.0), _one(5.09))
    assert not oracle.same(_one(5.09999), _one(5.0))
    assert not oracle.same(_one(100.0), _one(100.05))


def test_shape_and_exact_values():
    assert oracle.same((["a", "b"], [(1, "x")]), (["a", "b"], [(1, "x")]))
    assert not oracle.same((["a", "b"], [(1, "x")]), (["a", "b"], [(2, "x")]))
    assert not oracle.same((["a"], [(1,)]), (["a"], [(1,), (1,)]))
    assert not oracle.same((["a"], [(1,)]), (["b"], [(1,)]))
