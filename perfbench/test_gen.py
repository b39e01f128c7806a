"""Tests of the seeded generators: the same seed gives byte-identical
inputs; another seed gives different bytes but the same amount of work.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import hashlib
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen

LAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")


def digests(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def generate(root, seed):
    gen.lake(LAKE, os.path.join(root, "lake"), seed)
    truth = gen.doc_tree(os.path.join(root, "docs"), seed)
    labels = gen.deliveries(os.path.join(root, "deliveries"), os.path.join(root, "lake"), seed)
    return truth, labels


def work_counts(root, truth, labels):
    """Every count a run's work depends on."""
    rows = {t: pq.read_metadata(os.path.join(root, "lake", f"{t}.parquet")).num_rows
            for t in gen.TABLES}
    per_delivery = {}
    for k in range(gen.DELIVERIES):
        d = os.path.join(root, "deliveries", f"d{k}")
        ids = pq.read_table(os.path.join(d, "docs.parquet")).column("doc_id").to_pylist()
        per_delivery[k] = (collections.Counter(labels["labels"][str(i)] for i in ids),
                           pq.read_metadata(os.path.join(d, "events.parquet")).num_rows)
    inv = truth["invoices"]
    return {
        "lake_rows": rows,
        "invoices": len(inv),
        "items": truth["n_items"],
        "items_per_invoice": collections.Counter(len(i["items"]) for i in inv),
        "layouts": collections.Counter(i["layout"] for i in inv),
        "suppliers": collections.Counter(collections.Counter(
            i["supplier_name"] for i in inv).values()),
        "nc_rows": truth["nc_rows"],
        "nc_files": collections.Counter(
            os.path.basename(d) for d, _, fs in os.walk(os.path.join(root, "docs", "nc"))
            for _ in fs),
        "deliveries": per_delivery,
    }


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.runs = {}
        for name, seed in [("a", 1), ("b", 1), ("c", 2)]:
            root = os.path.join(cls.tmp.name, name)
            cls.runs[name] = (root, *generate(root, seed))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(digests(self.runs["a"][0]), digests(self.runs["b"][0]))

    def test_other_seed_changes_every_input(self):
        a, c = digests(self.runs["a"][0]), digests(self.runs["c"][0])
        for part in ["lake/lineitem.parquet", "lake/documents.parquet",
                     "deliveries/d0/docs.parquet", "deliveries/d0/events.parquet"]:
            self.assertNotEqual(a[part], c[part], part)
        self.assertNotEqual({k for k in a if k.startswith("docs/")},
                            {k for k in c if k.startswith("docs/")})

    def test_other_seed_keeps_the_work(self):
        self.assertEqual(work_counts(*self.runs["a"]), work_counts(*self.runs["c"]))

    def test_delivery_classes_have_exact_counts(self):
        _, _, labels = self.runs["c"]
        counts, events = work_counts(*self.runs["c"])["deliveries"][0]
        self.assertEqual(counts, {"exact": gen.EXACT, "near": gen.NEAR,
                                  "fresh": gen.FRESH, "twin": 2 * gen.TWIN_PAIRS})
        self.assertEqual(events, gen.EVENTS_PER_DELIVERY)


if __name__ == "__main__":
    unittest.main()
