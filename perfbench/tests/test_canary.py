"""Canaries: every output check passes a correct output and goes red when
one value of it is altered."""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
from harness import build, jvm, oracle  # noqa: E402


class OracleCanaryTest(unittest.TestCase):
    def frames(self):
        import pandas as pd
        spark = pd.DataFrame({"n_name": ["NATION_1", "NATION_2"], "revenue": [10.5, 7.25],
                              "n_lines": [3, 2]})
        duck = pd.DataFrame({"revenue": [7.25, 10.5], "n_lines": [2, 3],
                             "n_name": ["NATION_2", "NATION_1"]})
        return spark, duck

    def test_equal_up_to_row_and_column_order(self):
        spark, duck = self.frames()
        self.assertIsNone(oracle.compare(spark, duck))

    def test_one_altered_value_is_red(self):
        spark, duck = self.frames()
        spark.loc[1, "revenue"] = 7.26
        self.assertIn("line", oracle.compare(spark, duck))

    def test_type_change_is_red(self):
        # preflight's rule: 3 and 3.0 differ
        spark, duck = self.frames()
        spark["n_lines"] = spark["n_lines"].astype(float)
        self.assertIsNotNone(oracle.compare(spark, duck))

    def test_oracle_sql_on_parquet(self):
        import tempfile
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "data", "region.parquet"))
            pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}).to_parquet(
                os.path.join(d, "data", "region.parquet", "part-0.parquet"))
            ref = os.path.join(d, "ref")
            os.makedirs(ref)
            pd.DataFrame({"r_name": ["ASIA"]}).to_parquet(os.path.join(ref, "part-0.parquet"))
            con = oracle.connect(os.path.join(d, "data"))
            sql = "SELECT r_name FROM region WHERE r_regionkey = 1"
            self.assertIsNone(oracle.check(con, ref, sql))
            self.assertIsNotNone(oracle.check(con, ref, sql.replace("= 1", "= 0")))


class DriverChecksCanaryTest(unittest.TestCase):
    """The digest, LIME-row and SP-LIME checks run inside the benchmark JVM;
    graft.perfbench.Canary exercises them on hand-made outputs."""

    def test_checks_turn_red(self):
        root = os.path.dirname(HERE)
        out = os.path.join(root, ".bench_build", "perfbench")
        os.makedirs(out, exist_ok=True)
        classpath = build.ensure(root, out)
        work = os.path.join(out, "canary-work")
        r = subprocess.run(jvm.command(classpath, work, "graft.perfbench.Canary", []),
                           capture_output=True, text=True, timeout=300)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout.count("ok "), 5, r.stdout)


if __name__ == "__main__":
    unittest.main()
