"""Tests of the seeded input generator.

    python3 -m unittest discover -s bench -p 'test_gen.py'
"""

import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen


def decodes(script):
    """True when every push of the script fits in it (the decoder's rule)."""
    i = 0
    while i < len(script):
        op = script[i]
        i += 1
        if 0 < op < 0x4c:
            n = op
        elif op == 0x4c:
            if i + 1 > len(script):
                return False
            n = script[i]
            i += 1
        else:
            continue
        if i + n > len(script):
            return False
        i += n
    return True


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, workload, seed, name):
        out = os.path.join(self.dir, name)
        return gen.write_workload(workload, seed, out), out

    def test_same_seed_same_bytes(self):
        for w in gen.WRITERS:
            _, a = self.write(w, 7, w + "-a")
            _, b = self.write(w, 7, w + "-b")
            _, c = self.write(w, 8, w + "-c")
            self.assertEqual(gen.digest(a), gen.digest(b), w)
            self.assertNotEqual(gen.digest(a), gen.digest(c), w)

    def blocks(self, out):
        rows = []
        for f in sorted(os.listdir(out)):
            if f.endswith(".parquet"):
                rows += pq.read_table(os.path.join(out, f)).to_pylist()
        return rows

    def check_manifest(self, workload):
        man, out = self.write(workload, 3, workload)
        rows = self.blocks(out)
        distinct = {r["block_id"]: r for r in rows}
        scripts = [s for r in rows for t in r["transactions"]
                   for s in [i["script"] for i in t["inputs"]] +
                   [o["script"] for o in t["outputs"]]]
        self.assertEqual(man["blocks"], len(distinct))
        self.assertEqual(man["duplicates"], len(rows) - len(distinct))
        self.assertEqual(man["empty_blocks"],
                         sum(not r["transactions"] for r in distinct.values()))
        self.assertEqual(man["transactions"],
                         sum(len(r["transactions"]) for r in distinct.values()))
        self.assertEqual(man["transactions_delivered"], sum(len(r["transactions"]) for r in rows))
        self.assertEqual(man["scripts_delivered"], len(scripts))
        self.assertEqual(man["truncated_delivered"], sum(not decodes(s) for s in scripts))
        self.assertEqual(sum(d["rows"] for d in man["deliveries"]), len(rows))
        for k, d in enumerate(man["deliveries"]):
            mine = [r for r in rows if r["delivery"] == k]
            self.assertEqual(d["rows"], len(mine))
            self.assertEqual(d["transactions"], sum(len(r["transactions"]) for r in mine))
        # every duplicate arrives in a later delivery than its first copy
        first = {}
        for r in rows:
            first.setdefault(r["block_id"], r["delivery"])
            self.assertGreaterEqual(r["delivery"], first[r["block_id"]])
        # the advertised rates
        self.assertAlmostEqual(man["truncated_scripts"] / man["scripts"], 0.01, delta=0.005)
        self.assertEqual(man["empty_blocks"], max(1, round(0.03 * man["blocks"])))
        self.assertAlmostEqual(man["duplicates"] / man["blocks"], 0.10, delta=0.02)
        return man, rows

    def test_block_manifest(self):
        self.check_manifest("block_etl")

    def test_stream_manifest(self):
        man, _ = self.check_manifest("stream_ingest")
        self.assertEqual(len(man["deliveries"]), gen.STREAM_HOURS)

    def test_covers_golden_fixture_quirks(self):
        """Every quirk of Bitcoin.goldenBlocks appears in the input."""
        man, rows = self.check_manifest("block_etl")
        txs = [t for r in rows for t in r["transactions"]]
        ins = [i for t in txs for i in t["inputs"]]
        outs = [o for t in txs for o in t["outputs"]]
        self.assertTrue(any(i["coinbase"] for i in ins))  # coinbase "" pubkey
        self.assertTrue(any(not r["transactions"] for r in rows))  # transactions = []
        self.assertTrue(any(not decodes(i["script"]) for i in ins))  # decode error
        self.assertTrue(any(not decodes(o["script"]) for o in outs))
        self.assertTrue(any(o["satoshis"] is None for o in outs))  # null satoshis
        too_big = (2 ** 63 - 1) * 10 ** 11  # work_terahash overflows into work_error
        self.assertTrue(any(int(r["chain_work"]) > too_big for r in rows))
        self.assertTrue(any(o["script"][:2] == b"\xa9\x14" and o["script"][-1:] == b"\x87"
                            for o in outs))  # P2SH
        self.assertGreater(man["null_satoshis"], 0)
        self.assertGreater(man["work_overflow"], 0)
        self.assertGreater(man["p2sh_outputs"], 0)
        # ~500 transactions in a non-empty block, with a heavy tail
        sizes = [len(r["transactions"]) for r in {r["block_id"]: r for r in rows}.values()
                 if r["transactions"]]
        self.assertEqual(sum(sizes), gen.TX_PER_BLOCK * len(sizes))
        self.assertGreater(max(sizes), 2 * gen.TX_PER_BLOCK)

    def test_analyst_tables(self):
        man, out = self.write("analyst_mix", 3, "analyst_mix")
        for name in ("orders", "lineitem", "events", "documents", "embeddings"):
            self.assertEqual(pq.read_metadata(os.path.join(out, f"{name}.parquet")).num_rows,
                             man["rows"][name])
        docs = pq.read_table(os.path.join(out, "documents.parquet")).column("text").to_pylist()
        self.assertLess(len(set(docs)), len(docs))  # exact duplicates to find


if __name__ == "__main__":
    unittest.main()
