"""Tests of the traced run: task attribution and workload separation.

Runs each workload once, traced and short, from the root of a checkout:

    python3 -m unittest discover -s bench -p 'test_trace.py'
"""

import json
import os
import re
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def traced_run(workload):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", "1", "--keep"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    kept = re.search(r"work directory kept: (\S+)", p.stderr)
    if p.returncode != 0 or not kept:
        raise AssertionError(f"{workload} run failed:\n{p.stderr[-3000:]}")
    work = kept.group(1)
    try:
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        with open(res["spans"]) as f:
            spans = [json.loads(line) for line in f]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return json.loads(p.stdout.strip().splitlines()[-1]), res, spans


class TraceTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.runs = {w: traced_run(w) for w in ("block_etl", "analyst_mix", "stream_ingest")}

    def test_every_task_attributed(self):
        for w, (_, res, spans) in self.runs.items():
            attributed = [c for c in res["checks"] if c["name"].startswith("trace: every task")]
            self.assertEqual(len(attributed), 1, w)
            self.assertTrue(attributed[0]["ok"], f"{w}: {attributed[0]['detail']}")
            self.assertGreater(sum(s["tasks"] for s in spans), 0, w)
            for s in spans:
                if s["jobs"] > 0:
                    self.assertGreater(s["tasks"], 0, f"{w}: {s}")
            # every layer span of the timed rounds that ran Spark work is seen
            timed = [s for s in spans if s["run"] == "timed" and s["layer"] != "bench"]
            self.assertTrue(any(s["tasks"] > 0 for s in timed), w)

    def test_workloads_are_separated(self):
        m = {w: r[0]["metrics"] for w, r in self.runs.items()}
        self_s = {w: r[1]["layer_self_s"] for w, r in self.runs.items()}
        # analyst_mix leaves ingest and functions idle
        self.assertEqual(self_s["analyst_mix"].get("ingest", 0.0), 0.0)
        self.assertEqual(self_s["analyst_mix"].get("functions", 0.0), 0.0)
        self.assertGreater(self_s["analyst_mix"]["queries"], 0.0)
        # no registry query runs on the ingest workloads
        for w in ("block_etl", "stream_ingest"):
            self.assertNotIn("queries", self_s[w])
            self.assertTrue(all(v["value"] == 0 for k, v in m[w].items()
                                if k.startswith("queries.")), w)
            self.assertGreater(m[w]["ingest.avro_write_s"]["value"], 0.0, w)
        self.assertGreater(m["block_etl"]["functions.decode_s"]["value"], 0.0)
        self.assertEqual(m["stream_ingest"]["functions.scripts"]["value"], 0.0)
        self.assertGreater(m["stream_ingest"]["streaming.batches"]["value"], 0.0)
        for _, (out, _, _) in self.runs.items():
            self.assertTrue(out["correct"])


if __name__ == "__main__":
    unittest.main()
