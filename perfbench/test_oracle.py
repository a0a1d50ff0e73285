"""Tests of query_mix's output comparison (perfbench/oracle.py).

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import pandas as pd

import oracle


def frame(**cols):
    return oracle.canon(pd.DataFrame(cols))


class SameTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = frame(k=[1, 2, 3], v=["x", "y", "z"])
        b = oracle.canon(pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]}))
        self.assertIsNone(oracle.same(a, b))

    def test_a_changed_value_or_row_fails(self):
        a = frame(k=[1, 2, 3], v=["x", "y", "z"])
        self.assertIsNotNone(oracle.same(a, frame(k=[1, 2, 3], v=["x", "y", "w"])))
        self.assertIsNotNone(oracle.same(a, frame(k=[1, 2], v=["x", "y"])))
        self.assertIsNotNone(oracle.same(a, frame(k=[1.0, 2.0, 3.0], v=["x", "y", "z"])))

    def test_floats_may_differ_by_summation_order_only(self):
        a = frame(k=[1, 2], s=[0.1 + 0.2, 1.0])
        self.assertIsNone(oracle.same(a, frame(k=[1, 2], s=[0.3, 1.0])))
        self.assertIsNotNone(oracle.same(a, frame(k=[1, 2], s=[0.3001, 1.0])))


if __name__ == "__main__":
    unittest.main()
