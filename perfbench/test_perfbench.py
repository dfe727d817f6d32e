"""Tests of the benchmark's generator and output digest, at a tiny size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import tempfile
import unittest
from decimal import Decimal
from pathlib import Path

import pyarrow.parquet as pq

import gen
import oracle


def tree_digest(path):
    h = hashlib.sha256()
    for f in sorted(Path(path).rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(path)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


class PatientsTest(unittest.TestCase):
    ARGS = dict(backfill=50, batches=4, batch_size=30, repeat_frac=0.3,
                points=4, maintain_every=2, warm_batches=1)

    def make(self, seed):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        truth = gen.patients(tmp.name, seed, **self.ARGS)
        return Path(tmp.name), truth

    def test_same_seed_same_inputs_other_seed_differs(self):
        a, ta = self.make(5)
        b, tb = self.make(5)
        c, tc = self.make(6)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertEqual(json.dumps(ta), json.dumps(tb))
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_ground_truth_is_latest_wins_per_valid_consented_mrn(self):
        d, truth = self.make(9)
        rows = pq.read_table(d / "backfill.parquet").to_pylist() + sorted(
            pq.read_table(d / "batches.parquet").to_pylist(),
            key=lambda r: (r["batch"], r["pos"]))
        latest, invalid, blocked = {}, 0, 0
        for r in rows:
            ok = (r["resourceType"] == "Patient" and r["mrn"] and r["name"]
                  and (r["birthDate"] is None or r["birthDate"][4:5] == "-")
                  and r["gender"] in (None, "male", "female", "other", "unknown")
                  and (r["ssn"] is None or len(r["ssn"]) == 11))
            consent = dict(r["consent"] or [])
            if not ok:
                invalid += 1
            elif consent.get("data_sharing") is not True:
                blocked += 1
            else:
                latest[r["mrn"]] = (r["birthDate"], r["gender"], r["mrn"],
                                    r["name"], r["ssn"])
        full = truth["etl"]["full"]
        self.assertEqual(full["quarantine"], invalid)
        self.assertEqual(full["blocked"], blocked)
        self.assertEqual(full["patients"]["hash"], oracle.digest(
            ["birthDate", "gender", "mrn", "name", "ssn"], list(latest.values()))[2])
        self.assertTrue(any(p[1] == 0 for p in full["points"]))
        for m, n in full["points"]:
            self.assertEqual(n, 1 if m in latest else 0)

    def test_batches_respect_the_api_cap_and_repeat_mrns(self):
        d, _ = self.make(3)
        b = pq.read_table(d / "batches.parquet").to_pylist()
        back = {r["mrn"] for r in pq.read_table(d / "backfill.parquet").to_pylist()}
        for k in range(self.ARGS["batches"]):
            mrns = [r["mrn"] for r in b if r["batch"] == k and r["mrn"]]
            self.assertLessEqual(len(mrns), 1000)
            self.assertEqual(len(mrns), len(set(mrns)))
        self.assertTrue(any(r["mrn"] in back for r in b))


class DigestTest(unittest.TestCase):
    def test_order_insensitive_and_column_sorted(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [("y", 2), ("y", 2)]))

    def test_maps_and_structs_render_as_canon_does(self):
        # Canon.value renders a Spark Map and a Row alike: {k=v,...},
        # sorted by the rendered key
        import duckdb
        con = duckdb.connect()
        rel = con.sql(
            "SELECT map(['b', 'a'], [2, 1]) AS m, "
            "[map([10, 9], [{'z': 1.50, 'y': NULL}, {'z': 2, 'y': 'q'}])] AS l, "
            "{'z': 1, 'a': map(['k'], [true])} AS s")
        row = rel.fetchone()
        self.assertEqual([oracle.value(x, t) for x, t in zip(row, rel.types)],
                         ["{a=1,b=2}", "[{10={y=\\N,z=1.5},9={y=q,z=2}}]",
                          "{a={k=true},z=1}"])
        self.assertEqual(oracle.sql_digest(con, "SELECT 1 AS x")[2],
                         oracle.digest(["x"], [(1,)])[2])

    def test_numbers_compare_by_value(self):
        self.assertEqual(oracle.value(3), oracle.value(3.0))
        self.assertEqual(oracle.value(Decimal("3.00")), "3")
        self.assertEqual(oracle.value(0.1), "0.1")
        self.assertEqual(oracle.value(Decimal("0.10")), "0.1")
        self.assertEqual(oracle.value(-0.0), "0")
        self.assertEqual(oracle.value(1e-7), "0.0000001")
        self.assertEqual(oracle.value(123456789012.5), "123456789000")
        self.assertEqual(oracle.value(2.0 ** 60), str(2 ** 60))


if __name__ == "__main__":
    unittest.main()
