#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py          # Python checks and the JVM CEP-twin check
    python3 perfbench/selftest.py --quick  # Python checks only

Covers: the segment-to-batch mapping read from a checkpoint's source log,
the rule of at least ten samples beyond a reported percentile, the character
set of metric names and units (and that BENCHMARK.json lists exactly the
metrics the code reports), and planted wrong outputs that the output checks
must reject.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def entry(name, batch):
    return json.dumps({"path": f"file:///x/stream/{name}", "size": 1, "isDir": False,
                       "modificationTime": 0, "blockReplication": 1, "blockSize": 1,
                       "action": "add", "batchId": batch})


class SegmentMapping(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.ck, self.out = os.path.join(d, "ck"), os.path.join(d, "out")
        src = os.path.join(self.ck, "sources", "0")
        # batches 0..9 compacted into 9.compact, then plain logs 10 and 11
        write(os.path.join(src, "9.compact"), "v1\n" + "\n".join(
            entry(f"10000-chg-{b:04d}-000.parquet", b) for b in range(10)) + "\n")
        write(os.path.join(src, "10"), "v1\n" + entry("10000-chg-0010-000.parquet", 10) + "\n"
              + entry("10000-chg-0011-000.parquet", 10) + "\n")
        write(os.path.join(src, "11"), "v1\n" + entry("10000-chg-0012-000.parquet", 11) + "\n")
        write(os.path.join(src, ".11.crc"), "ignored")
        for b in range(11):  # batch 11 never commits
            m = os.path.join(self.out, "_manifest", f"batch-{b:09d}.json")
            write(m, "{}")
            os.utime(m, ns=(0, (1000 + b * 100) * 1000000))

    def tearDown(self):
        self.tmp.cleanup()

    def test_mapping_reads_compact_and_plain_logs(self):
        m = metrics.source_log_batches(self.ck)
        self.assertEqual(m["10000-chg-0003-000.parquet"], 3)
        self.assertEqual(m["10000-chg-0011-000.parquet"], 10)
        self.assertEqual(m["10000-chg-0012-000.parquet"], 11)
        self.assertEqual(len(m), 13)

    def test_latency_is_manifest_mtime_minus_due(self):
        due = [{"file": "10000-chg-0011-000.parquet", "due_ms": 1900.0},
               {"file": "10000-chg-0012-000.parquet", "due_ms": 1950.0},
               {"file": "10000-chg-0099-000.parquet", "due_ms": 1990.0}]
        lat = metrics.segment_latencies(due, self.ck, self.out)
        self.assertEqual([n for _, n, _ in lat], [10, 11, None])
        self.assertAlmostEqual(lat[0][2], 2000.0 - 1900.0)
        # planted failure: batch 11's manifest is missing, so the segment
        # never committed and must not yield a latency
        self.assertIsNone(lat[1][2])
        self.assertIsNone(lat[2][2])


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([7], 0.9), 7)

    def test_ten_samples_beyond_p90_need_100(self):
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertLess(metrics.beyond(99, 0.9), 10)

    def test_cdc_tail_supports_p90(self):
        import run
        self.assertGreaterEqual(metrics.beyond(run.CDC["tail"], 0.9), 10)


class Names(unittest.TestCase):
    def test_charset(self):
        for table in (metrics.END_TO_END, metrics.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, metrics.NAME_RE)
                self.assertRegex(unit, metrics.UNIT_RE)
        for bad in ("", "_x", "a b", "x" * 65, "q1/agg"):
            self.assertIsNone(metrics.NAME_RE.match(bad))

    def test_benchmark_json_matches_code(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(m["bound"] <= 0.25 for m in b["end_to_end"]))


class CheckedLine(unittest.TestCase):
    def test_failed_check_makes_line_incorrect(self):
        res = {"checks": [{"name": "x", "ok": False, "detail": ""}], "attempted": 1, "failed": 1}
        line = metrics._line(res, {"a": "s"}, {"a": 1.0})
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)


def jvm_selftest():
    classes = build.build()
    cmd = ["java", "-Xmx1g", "-XX:-UsePerfData"]
    import run
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
                "perfbench.SelfTest"]
        r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    print(r.stdout.strip())
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
    return r.returncode == 0


if __name__ == "__main__":
    quick = "--quick" in sys.argv
    argv = [a for a in sys.argv if a != "--quick"]
    ok = unittest.main(argv=argv, exit=False).result.wasSuccessful()
    if not quick:
        ok = jvm_selftest() and ok
    sys.exit(0 if ok else 1)
