import os
import sys
import tempfile
import unittest

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def read(out, path):
    return pq.read_table(os.path.join(out, path, "part-0.parquet"))


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def generate(self, workload, seed, name="in"):
        out = os.path.join(self.tmp.name, name)
        return gen.generate(workload, seed, out), out

    def test_same_seed_same_inputs(self):
        for w in gen.PROFILES:
            (a, _), (b, _) = self.generate(w, 7), self.generate(w, 7)
            self.assertEqual(a["tables"], b["tables"], w)
            self.assertEqual({k: v for k, v in a.items() if k != "data_dir"},
                             {k: v for k, v in b.items() if k != "data_dir"})

    def test_different_seed_different_inputs_same_sizes(self):
        # The dimension tables are the pool's whole tables; line items
        # follow their orders, 1-7 per order.
        fixed = tuple(f"data/{t}.parquet" for t in gen.DIMS)
        for w in gen.PROFILES:
            (a, _), (b, _) = self.generate(w, 7), self.generate(w, 8)
            self.assertEqual(a["tables"].keys(), b["tables"].keys())
            for path in a["tables"]:
                if path.startswith(fixed):
                    continue
                self.assertNotEqual(a["tables"][path]["sha256"],
                                    b["tables"][path]["sha256"], path)
                if "lineitem" not in path:
                    self.assertEqual(a["tables"][path]["rows"],
                                     b["tables"][path]["rows"], path)

    def test_slices_keep_keys_and_days_in_arrival_order(self):
        m, out = self.generate("dag_refresh", 5)
        orders = read(out, "data/orders.parquet")
        events = read(out, "data/events.parquet")
        top_key = pc.max(orders["o_orderkey"]).as_py()
        last_ts = pc.max(events["ts"]).as_py()
        for k in range(m["slices"]):
            o = read(out, f"slices/{k:03d}/orders.parquet")
            li = read(out, f"slices/{k:03d}/lineitem.parquet")
            ev = read(out, f"slices/{k:03d}/events.parquet")
            self.assertGreater(pc.min(o["o_orderkey"]).as_py(), top_key)
            self.assertTrue(pc.all(pc.is_in(
                li["l_orderkey"], value_set=o["o_orderkey"])).as_py())
            self.assertGreater(pc.min(ev["ts"]).as_py(), last_ts)
            self.assertEqual(ev.schema, events.schema)
            top_key = pc.max(o["o_orderkey"]).as_py()
            last_ts = pc.max(ev["ts"]).as_py()

    def test_items_keep_ids_and_anchors(self):
        m, out = self.generate("query_serving", 3)
        docs = read(out, "data/documents.parquet")["doc_id"].to_pylist()
        vecs = read(out, "data/embeddings.parquet")["vec_id"].to_pylist()
        self.assertEqual(docs, vecs)
        self.assertEqual(docs[:gen.ANCHORS], list(range(gen.ANCHORS)))

    def test_corpus_plan_is_consistent(self):
        m, out = self.generate("corpus_takedown", 3)
        ids = read(out, "data/documents.parquet")["doc_id"].to_pylist()
        lo, hi = m["batches"][0]
        self.assertEqual(lo, m["history_cut"] + 1)
        self.assertEqual(hi, max(ids))
        victims = [v for s in m["victim_sets"] for v in s]
        self.assertEqual(len(victims), len(set(victims)))
        self.assertTrue(all(v % 5 != 0 and lo <= v <= hi and v in ids
                            for v in victims))

    def test_fingerprint_ignores_case_and_spacing(self):
        self.assertEqual(gen.fingerprint("Spark  line "),
                         gen.fingerprint("spark line"))


if __name__ == "__main__":
    unittest.main()
