"""Tests of the benchmark's own accounting and output checks.

    python3 -m unittest discover -s perfbench/tests     # from the repository root

The JVM test builds the benchmark jar (about 30 s the first time) and starts
one small Spark session.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def op(kind, id_, start, end, ok=True, units=1, **extra):
    o = {"kind": kind, "id": id_, "ok": ok, "err": None if ok else "boom",
         "start_ms": start if ok else None, "end_ms": end if ok else None, "units": units}
    o.update(extra)
    return o


class Accounting(unittest.TestCase):
    def result(self, ops, workload="table_ops"):
        return {"workload": workload, "ops": ops, "setup_s": [1.0, 2.0, 3.0],
                "live_heap_mb": 100.0, "cpu_ms": 50.0, "drains": []}

    def test_thrown_operation_is_failed_and_not_timed(self):
        ops = [op("stmt", "0-point_read", 0, 10), op("stmt", "1-merge", 10, 30),
               op("stmt", "2-update", None, None, ok=False)]
        attempted, failed, m = metrics.end_to_end(self.result(ops))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(m["latency_p50_ms"], 15.0)       # of 10 and 20 only
        self.assertEqual(m["latency_p90_ms"], 19.0)
        self.assertAlmostEqual(m["work_per_s"], 2 / 0.030)
        self.assertEqual(m["setup_s"], 2.0)

    def test_mismatched_output_is_failed_and_not_timed(self):
        ops = [op("gate", "0-q1_redact", 0, 100), op("gate", "0-q2_detect", 100, 150),
               op("gate", "1-q1_redact", 150, 240), op("gate", "1-q2_detect", 240, 5000)]
        attempted, failed, m = metrics.end_to_end(
            self.result(ops, "batch_gates"), mismatched={"q2_detect"})
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(m["latency_p50_ms"], 95.0)       # q1's two passes only

    def test_every_metric_reported(self):
        ops = [op("epoch", "d0-b0", 0, 50, units=100, first=True),
               op("epoch", "d0-b1", 50, 100, units=100, first=False),
               op("epoch", "d0-b2", 100, 200, units=300, first=False)]
        r = self.result(ops, "redact_backlog")
        r["drains"] = [{"cpu_ms": 10.0, "committed": 500, "digest_ok": True}]
        attempted, failed, m = metrics.end_to_end(r)
        self.assertTrue(set(metrics.END_TO_END) <= set(m))
        self.assertAlmostEqual(m["work_per_s"], 400 / 0.150)   # first epoch left out
        self.assertAlmostEqual(m["cpu_us_per_unit"], 20.0)
        self.assertEqual(sorted(metrics.per_layer(r, 1.0)), sorted(metrics.PER_LAYER))


class GateCheck(unittest.TestCase):
    def test_corrupted_gate_output_fails_the_oracle_check(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            sf = os.path.join(d, "inputs", "sf0.001")
            os.makedirs(sf)
            docs = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b", "c", "d e f"]})
            docs.to_parquet(os.path.join(sf, "documents.parquet"))
            with open(os.path.join(d, "inputs", "oracle_sql.json"), "w") as f:
                json.dump({"q8_token_count": "SELECT doc_id, length(text) AS n FROM documents"}, f)
            out = os.path.join(d, "out", "q8_token_count")
            os.makedirs(out)
            good = pd.DataFrame({"n": [1, 3, 5], "doc_id": [2, 1, 3]})   # other order
            good.to_parquet(os.path.join(out, "part-0.parquet"))
            args = (os.path.join(d, "inputs"), os.path.join(d, "out"), d, ["q8_token_count"])
            self.assertEqual(metrics.check_gates(*args), {})
            bad = good.copy()
            bad.loc[0, "n"] = 2
            bad.to_parquet(os.path.join(out, "part-0.parquet"))
            self.assertIn("q8_token_count", metrics.check_gates(*args))


@unittest.skipUnless(os.path.isdir(os.path.join(ROOT, "src", "main", "scala")),
                     "needs the engine sources")
class Jvm(unittest.TestCase):
    def test_throwing_op_and_corrupted_table(self):
        sys.path.insert(0, os.path.dirname(HERE))
        import build
        import run
        jar = build.build(ROOT)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            cmd = (["java", "-Xmx1g", f"-Dlog4j2.configurationFile="
                    f"{os.path.join(os.path.dirname(HERE), 'log4j2.properties')}",
                    f"-Djava.io.tmpdir={d}"]
                   + [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
                   + ["-cp", os.path.join(build.spark_jars(ROOT), "*") + os.pathsep + jar,
                      "perfbench.SelfTest", os.path.join(d, "work")])
            env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
            out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=170)
            self.assertEqual(out.returncode, 0, out.stderr[-2000:])
            r = json.loads(out.stdout.strip().splitlines()[-1])
        ok, thrown = r["ops"]
        self.assertTrue(ok["ok"])
        self.assertGreater(ok["end_ms"], ok["start_ms"])
        self.assertFalse(thrown["ok"])
        self.assertIsNone(thrown["start_ms"])
        self.assertIn("boom", thrown["err"])
        self.assertEqual(r["before"], r["expected"])
        self.assertNotEqual(r["after"], r["expected"])


if __name__ == "__main__":
    unittest.main()
