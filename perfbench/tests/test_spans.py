import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from harness import spans  # noqa: E402


def span(id, parent, start, end):
    return {"id": id, "parent": parent, "start_s": start, "end_s": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtract_from_parent(self):
        out = spans.self_times([
            span(0, -1, 0.0, 10.0),   # sql.q_tpch_q3
            span(1, 0, 0.5, 2.5),     # sql.plan
            span(2, 0, 2.5, 9.0),     # sql.exec
            span(3, -1, 10.0, 12.0),  # next operation
        ])
        self.assertAlmostEqual(out[0]["self_s"], 1.5)
        self.assertAlmostEqual(out[1]["self_s"], 2.0)
        self.assertAlmostEqual(out[2]["self_s"], 6.5)
        self.assertAlmostEqual(out[3]["self_s"], 2.0)

    def test_only_direct_children_count(self):
        out = spans.self_times([span(0, -1, 0.0, 4.0), span(1, 0, 0.0, 3.0),
                                span(2, 1, 0.0, 1.0)])
        self.assertEqual([s["self_s"] for s in out], [1.0, 2.0, 1.0])


if __name__ == "__main__":
    unittest.main()
