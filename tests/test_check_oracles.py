"""No-Spark unit test of the approximate-subset grade in
``tools/check_oracles.py``: recall counts matched rows, not rows."""
import importlib.util
import os

import pandas as pd

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "check_oracles.py")


def _grade():
    spec = importlib.util.spec_from_file_location("check_oracles", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.approx_subset_grade


def test_approx_subset_recall_counts_matched_rows():
    grade = _grade()
    exp = pd.DataFrame({"a": [1, 2, 3, 4], "s": [0.5, 0.25, 1.0, 2.0]})
    # sound subset: 3 of 4 oracle rows
    ok, sound, recall = grade(exp.iloc[:3], exp, 0.7)
    assert (ok, sound, recall) == (True, True, 0.75)
    assert grade(exp.iloc[:3], exp, 0.9)[0] is False
    # a duplicated row is matched once (multiset): unsound, recall 1/4
    dup = exp.iloc[[0, 0]]
    assert grade(dup, exp, 0.1) == (False, False, 0.25)
    # as many rows as the oracle, one of them wrong: recall 3/4, not 1
    wrong = exp.assign(s=[0.5, 0.25, 1.0, 2.5])
    assert grade(wrong, exp, 0.5) == (False, False, 0.75)


def test_approx_subset_empty_oracle():
    grade = _grade()
    got = pd.DataFrame({"a": [1], "s": [0.5]})
    ok, sound, recall = grade(got, got.iloc[:0], 0.0)
    assert (ok, sound, recall) == (False, False, 0.0)
