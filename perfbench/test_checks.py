"""The benchmark's own tests: each correctness check accepts a correct output
at a tiny size and rejects the same output with one thing corrupted.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import shutil
import tempfile
import unittest
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen_tables
import webs


class RoundsCheck(unittest.TestCase):
    def setUp(self):
        self.web = webs.ZipfWeb(seed=7, hosts=5, top=6, links=3)
        seeds = self.web.seed_urls()
        # round 0 fetches every seed (one per host), round 1 one more page
        self.trace = [(i, 0, u, "NEW") for i, u in enumerate(seeds)]
        self.trace.append((len(seeds), 1, self.web.url(1), "NEW"))
        seen = set(seeds)
        for _, _, u, _ in self.trace:
            seen |= webs.uris(self.web.body(self.web.doc(u)))
        self.seen = seen
        self.res = {"check": {"seen": webs.digest(seen),
                              "seen_filter": {"new": 4, "last_round_discovered": 4}}}

    def bad(self, res=None, trace=None, sim=None):
        trace = self.trace if trace is None else trace
        return checks.check_rounds(res or self.res, self.web, trace,
                                   self.trace if sim is None else sim)

    def test_accepts_correct_output(self):
        self.assertEqual(self.bad(), [])

    def test_rejects_seen_set_missing_one_url(self):
        seen = set(self.seen)
        seen.discard(sorted(seen)[0])
        res = {"check": dict(self.res["check"], seen=webs.digest(seen))}
        self.assertTrue(self.bad(res=res))

    def test_rejects_seen_set_with_one_url_changed(self):
        seen = set(self.seen)
        seen.discard(sorted(seen)[0])
        seen.add("http://other.test/")
        res = {"check": dict(self.res["check"], seen=webs.digest(seen))}
        self.assertTrue(self.bad(res=res))

    def test_rejects_trace_that_differs_from_the_simulator(self):
        sim = list(self.trace)
        sim[2] = (2, 0, sim[2][2], "FORCE")
        self.assertTrue(self.bad(sim=sim))

    def test_rejects_host_fetched_twice_in_one_round(self):
        # page 1 shares host 0 with the seed page 0; move it into round 0
        trace = list(self.trace)
        trace[-1] = (trace[-1][0], 0, trace[-1][2], "NEW")
        self.assertTrue(self.bad(trace=trace, sim=trace))

    def test_rejects_seen_filter_disagreeing_with_the_round(self):
        res = {"check": dict(self.res["check"],
                             seen_filter={"new": 5, "last_round_discovered": 4})}
        self.assertTrue(self.bad(res=res))

    def test_resumed_trace(self):
        sim = self.trace
        self.assertEqual(checks.check_resumed(sim, sim, 2), [])
        self.assertTrue(checks.check_resumed(sim[:-1], sim, 2))


class StoreCheck(unittest.TestCase):
    def setUp(self):
        self.dir = Path(tempfile.mkdtemp())
        self.hashes = [webs.url_hash(f"http://h{i}.test/") for i in range(6)]

    def tearDown(self):
        shutil.rmtree(self.dir)

    def store(self, hashes):
        """A store whose latest manifest points at two frontier buckets."""
        buckets = {}
        for b, part in enumerate((hashes[:3], hashes[3:])):
            d = self.dir / "data" / "frontier" / "v000002" / f"bucket={b}"
            d.mkdir(parents=True)
            pq.write_table(pa.table({"url_hash": part}), d / "part-0.parquet")
            buckets[str(b)] = str(d)
        (self.dir / "snapshots").mkdir()
        (self.dir / "snapshots" / "v000001.json").write_text(
            json.dumps({"version": 1, "cow": {}}))
        (self.dir / "snapshots" / "v000002.json").write_text(
            json.dumps({"version": 2, "cow": {"frontier": buckets}}))
        return str(self.dir)

    def test_accepts_correct_store(self):
        self.assertEqual(checks.check_store(self.store(self.hashes), 6), [])

    def test_rejects_duplicate_url_hash(self):
        dup = self.hashes[:5] + [self.hashes[0]]
        self.assertTrue(checks.check_store(self.store(dup), 6))

    def test_rejects_row_count_the_driver_does_not_report(self):
        self.assertTrue(checks.check_store(self.store(self.hashes), 7))


class QueriesCheck(unittest.TestCase):
    SQL = {"qa": "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1",
           "qb": "SELECT doc_id, n_chars FROM documents WHERE n_chars > 300"}

    def setUp(self):
        self.dir = Path(tempfile.mkdtemp())
        self.tables = self.dir / "tables"
        gen_tables.write(self.tables, 3)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tables}/{t}.parquet')")
        self.out = {k: con.sql(v).arrow() for k, v in self.SQL.items()}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def results(self, out):
        res = self.dir / "results"
        shutil.rmtree(res, ignore_errors=True)
        for name, t in out.items():
            (res / name).mkdir(parents=True)
            pq.write_table(t, res / name / "part-0.parquet")
        return res

    def test_accepts_outputs_equal_to_the_oracle(self):
        self.assertEqual(checks.check_queries(
            self.tables, self.results(self.out), self.SQL), [])

    def test_rejects_one_changed_row(self):
        t = self.out["qb"]
        vals = t.column("n_chars").to_pylist()
        vals[0] += 1
        bad = dict(self.out, qb=t.set_column(1, "n_chars", pa.array(vals, pa.int64())))
        self.assertTrue(checks.check_queries(self.tables, self.results(bad), self.SQL))

    def test_rejects_one_missing_row(self):
        bad = dict(self.out, qa=self.out["qa"].slice(1))
        self.assertTrue(checks.check_queries(self.tables, self.results(bad), self.SQL))

    def test_skips_a_failed_query(self):
        out = {"qa": self.out["qa"]}
        self.assertTrue(checks.check_queries(self.tables, self.results(out), self.SQL))
        self.assertEqual(checks.check_queries(self.tables, self.results(out),
                                              self.SQL, skip={"qb"}), [])


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen_tables.tables(5), gen_tables.tables(5)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["documents"].equals(gen_tables.tables(6)["documents"]))
        w = webs.ZipfWeb(5, 10, 20, 4)
        self.assertEqual(w.body(17), webs.ZipfWeb(5, 10, 20, 4).body(17))
        self.assertNotEqual(w.body(17), webs.ZipfWeb(6, 10, 20, 4).body(17))

    def test_zipf_pages_round_trip(self):
        w = webs.ZipfWeb(1, 50, 100, 4)
        self.assertEqual(w.offsets[1], 100)  # host 0 is the mega-host
        for d in (0, 99, 100, w.pages - 1):
            self.assertEqual(w.doc(w.url(d)), d)
        self.assertIsNone(w.doc(webs.REFS))


if __name__ == "__main__":
    unittest.main()
