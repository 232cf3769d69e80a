"""Tests of the benchmark's own logic: no Spark, no JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import pandas as pd  # noqa: E402

from bench import gen, oracle, stats  # noqa: E402


def temp_dir():
    base = ROOT / ".bench_work" / "tests"
    base.mkdir(parents=True, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


def digest_files(paths):
    return [hashlib.sha256(Path(p).read_bytes()).hexdigest() for p in paths]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files_other_seed_other_files(self):
        with temp_dir() as d:
            a = gen.write_batch_input(f"{d}/a", 7, 400, 2)
            b = gen.write_batch_input(f"{d}/b", 7, 400, 2)
            c = gen.write_batch_input(f"{d}/c", 8, 400, 2)
            self.assertEqual(digest_files(a), digest_files(b))
            self.assertNotEqual(digest_files(a), digest_files(c))
            sa, na = gen.write_stream_input(f"{d}/sa", 7, 5, 40, 0.1, 2)
            sb, nb = gen.write_stream_input(f"{d}/sb", 7, 5, 40, 0.1, 2)
            sc, _ = gen.write_stream_input(f"{d}/sc", 8, 5, 40, 0.1, 2)
            self.assertEqual(digest_files(sa), digest_files(sb))
            self.assertNotEqual(digest_files(sa), digest_files(sc))
            self.assertEqual(na, nb)
            self.assertEqual(na, 4 * 4)

    def test_stream_duplicates_are_exact_copies_of_recent_rows(self):
        with temp_dir() as d:
            paths, planted = gen.write_stream_input(d, 3, 6, 50, 0.2, 2)
            con = oracle.connect()
            total, distinct = con.sql(
                f"SELECT count(*), count(DISTINCT key) FROM read_parquet({oracle._files(paths)})"
            ).fetchone()
            self.assertEqual(total - distinct, planted)
            rows, keys = con.sql(
                f"SELECT count(*), count(DISTINCT key) FROM "
                f"(SELECT DISTINCT * FROM read_parquet({oracle._files(paths)}))").fetchone()
            self.assertEqual(rows, keys)


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(99), 89)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertIsNone(stats.highest_percentile(19))

    def test_tail_refuses_a_thin_tail(self):
        self.assertAlmostEqual(stats.tail(list(range(101)), 90), 90.0)
        with self.assertRaises(ValueError):
            stats.tail(list(range(99)), 90)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)


def progress(batch, ts, start, end, rows, trigger_ms):
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"startOffset": None if start is None else {"logOffset": start},
                         "endOffset": {"logOffset": end}}]}


class AttributionTest(unittest.TestCase):
    def test_files_map_to_the_batch_that_covered_them(self):
        log = {"f0": 0, "f1": 0, "f2": 1, "f3": 2}
        events = [
            progress(1, "2026-01-01T00:00:01.000Z", 0, 2, 20, 500),
            progress(0, "2026-01-01T00:00:00.000Z", None, 0, 20, 800),
            progress(2, "2026-01-01T00:00:02.000Z", 2, 2, 0, 100),  # no new data
        ]
        batches = stats.micro_batches(events, log)
        self.assertEqual([b["batch"] for b in batches], [0, 1])
        self.assertEqual(batches[0]["files"], ["f0", "f1"])
        self.assertEqual(batches[1]["files"], ["f2", "f3"])
        t0 = stats.parse_ts_ms("2026-01-01T00:00:00.000Z")
        self.assertEqual(batches[0]["commit_ms"], t0 + 800)
        self.assertEqual(batches[1]["commit_ms"], t0 + 1500)

        commits = stats.file_commits(batches)
        landings = [{"file": f, "due_ms": t0 + due, "landed_ms": t0 + due}
                    for f, due in [("f0", -100), ("f1", 0), ("f2", 400), ("f3", 900),
                                   ("f4", 1400)]]
        lat, missing = stats.latencies(landings, commits)
        self.assertEqual(lat, [900, 800, 1100, 600])
        self.assertEqual(missing, ["f4"])
        # f0, f1 and f2 are all out at t0+400; f4 is never committed
        self.assertEqual(stats.max_lag(landings, commits, t0 - 1000, t0 + 2000), 3)

    def test_source_log_reads_compacted_and_plain_entries(self):
        with temp_dir() as d:
            log_dir = Path(d, "sources", "0")
            log_dir.mkdir(parents=True)
            entry = '{{"path":"file:///x/land/{}","timestamp":1,"batchId":{},"action":"add"}}'
            (log_dir / "9.compact").write_text(
                "v1\n" + entry.format("a.parquet", 3) + "\n" + entry.format("b.parquet", 9))
            (log_dir / "10").write_text("v1\n" + entry.format("c.parquet", 10))
            (log_dir / ".10.crc").write_text("ignored")
            self.assertEqual(stats.read_source_log(d),
                             {"a.parquet": 3, "b.parquet": 9, "c.parquet": 10})

    def test_union_of_intervals(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms(stats.clip([(0, 10), (20, 30)], 5, 25)), 10)


class CorrectnessCheckTest(unittest.TestCase):
    """The checks accept a right output and catch a corrupted one."""

    def write_chain_output(self, con, inputs, out_dir, dedup=False):
        os.makedirs(out_dir)
        rel = oracle.chain_sql(inputs)
        if dedup:
            rel = f"SELECT DISTINCT * FROM ({rel})"
        con.execute(f"COPY ({rel}) TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)")

    def test_connect_digest_catches_one_changed_row(self):
        with temp_dir() as d:
            inputs = gen.write_batch_input(f"{d}/in", 5, 300, 3)
            con = oracle.connect()
            self.write_chain_output(con, inputs, f"{d}/good")
            want = oracle.expected_digest(con, inputs)
            self.assertEqual(oracle.output_digest(con, f"{d}/good"), want)
            self.assertEqual(want[0], 300)
            os.makedirs(f"{d}/bad")
            con.execute(
                f"COPY (SELECT * REPLACE (CASE WHEN \"timestamp\" = (SELECT min(\"timestamp\") "
                f"FROM read_parquet('{d}/good/*.parquet')) THEN props || ' ' "
                f"ELSE props END AS props) FROM read_parquet('{d}/good/*.parquet')) "
                f"TO '{d}/bad/part-0.parquet' (FORMAT PARQUET)")
            bad = oracle.output_digest(con, f"{d}/bad")
            self.assertEqual(bad[0], want[0])
            self.assertNotEqual(bad, want)
            os.makedirs(f"{d}/short")
            con.execute(f"COPY (SELECT * FROM read_parquet('{d}/good/*.parquet') LIMIT 299) "
                        f"TO '{d}/short/part-0.parquet' (FORMAT PARQUET)")
            self.assertNotEqual(oracle.output_digest(con, f"{d}/short"), want)

    def test_stream_digest_needs_the_duplicates_dropped(self):
        with temp_dir() as d:
            inputs, planted = gen.write_stream_input(f"{d}/in", 5, 4, 50, 0.2, 2)
            con = oracle.connect()
            self.write_chain_output(con, inputs, f"{d}/dedup", dedup=True)
            self.write_chain_output(con, inputs, f"{d}/raw")
            want = oracle.expected_digest(con, inputs, dedup=True)
            self.assertEqual(oracle.output_digest(con, f"{d}/dedup"), want)
            self.assertEqual(oracle.output_digest(con, f"{d}/raw")[0], want[0] + planted)

    def test_curation_compare_uses_oracle_check_rules(self):
        oc = oracle.load_oracle_check(ROOT / "tools" / "oracle_check.py")
        good = pd.DataFrame({"doc_id": [2, 1], "rank": [10, 20]})
        same = pd.DataFrame({"rank": [20, 10], "doc_id": [1, 2]})
        self.assertTrue(oracle.frames_equal(oc, good, same))
        self.assertFalse(oracle.frames_equal(oc, good, same.assign(rank=[20, 11])))
        self.assertFalse(oracle.frames_equal(oc, good, same.assign(rank=[20.0, 10.0])))
        self.assertFalse(oracle.frames_equal(oc, good, same.head(1)))


if __name__ == "__main__":
    unittest.main()
