"""Tests of the benchmark's own code: the generator, the percentile
helper and the output checks. No Spark needed:

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.GENERATORS:
            a = self.gen(workload, 7, workload + "-a")
            b = self.gen(workload, 7, workload + "-b")
            c = self.gen(workload, 8, workload + "-c")
            files = sorted(os.listdir(a))
            self.assertEqual(files, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), workload)
            _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            # every generated input changes with the seed
            self.assertEqual(sorted(set(differ) | {"inputs.json"}), files, workload)

    def test_ingest_mix_is_realised(self):
        props = gen.generate("ingest", 3, os.path.join(self.tmp, "i"))["input"]
        self.assertAlmostEqual(props["link_share"], gen.LINK_SHARE)
        self.assertAlmostEqual(props["duplicate_share"], gen.DUPLICATE_SHARE)
        first, batch = (checks.read_csv(os.path.join(self.tmp, "i", "batch-%03d.csv" % k))
                        for k in (0, 1))
        self.assertEqual(len(batch), gen.BATCH_ROWS)
        # duplicates re-submit rows of the previous batch, never of their own
        self.assertEqual(len({r[0] for r in batch}), gen.BATCH_ROWS)
        self.assertEqual(len({tuple(r) for r in batch} & {tuple(r) for r in first}),
                         int(gen.BATCH_ROWS * gen.DUPLICATE_SHARE))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(stats.percentile(list(range(199)), 0.95))
        self.assertEqual(stats.percentile(list(range(200)), 0.95), 189)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_tail_picks_highest_reportable(self):
        self.assertEqual(stats.tail(list(range(100))), (0.9, 89))
        self.assertEqual(stats.tail(list(range(1000))), (0.99, 989))
        self.assertIsNone(stats.tail(list(range(30))))


def ingest_case():
    """Two batches, a registry and the table the engine should write."""
    batches = [
        [["S1", "IBD1", "", "1", "Blood", "m0000", "1.0"],
         ["S2", "IBD2", "N9", "2", "DNA", "m0000", "2.0"]],
        [["S3", "IBD1", "", "3", "RNA", "m0001", "3.0"],
         ["S3", "IBD1", "", "3", "RNA", "m0001", "3.0"]],
    ]
    table = [["S1", "IBD1", None, "1", "Blood", "m0000", "1.0", "G1"],
             ["S2", "IBD2", "N9", "2", "DNA", "m0000", "2.0", "G2"],
             ["S3", "IBD1", None, "3", "RNA", "m0001", "3.0", "G1"]]
    registry = [["1", "IBD1", "consortium_id", "G1"], ["3", "IBD1", "consortium_id", "G1"],
                ["2", "IBD2", "consortium_id", "G2"], ["2", "N9", "niddk_no", "G2"]]
    keys = [{"batch": 0, "samples": ["S1", "S0"], "refs": ["IBD1", "IBD0"]},
            {"batch": 1, "samples": ["S3", "S2"], "refs": ["IBD2"]}]
    readbacks = [{"batch": 1, "samples": [table[2], table[1]], "refs": [["IBD2", "G2"]]}]
    return batches, table, registry, {"IBD1": "G1"}, keys, readbacks


class IngestCheckTest(unittest.TestCase):
    def check(self, batches, table, registry, seeded, keys, readbacks):
        return (checks.check_ingest(batches, table, registry, seeded)
                + checks.check_readback(batches, readbacks, keys, table, registry, seeded))

    def test_correct_output_passes(self):
        self.assertEqual(self.check(*ingest_case()), [])

    def test_dropped_row_fails(self):
        case = list(ingest_case())
        case[1] = case[1][:2]
        self.assertEqual([k for k, _ in self.check(*case)], [1])

    def test_duplicated_row_fails(self):
        case = list(ingest_case())
        case[1] = case[1] + [case[1][2]]
        self.assertTrue(self.check(*case))

    def test_wrong_gsid_fails(self):
        case = list(ingest_case())
        case[1] = [r[:-1] + ["G9"] if r[0] == "S2" else r for r in case[1]]
        self.assertTrue(self.check(*case))

    def test_registry_with_two_gsids_fails(self):
        case = list(ingest_case())
        case[2] = case[2] + [["4", "IBD1", "consortium_id", "G7"]]
        self.assertTrue(self.check(*case))

    def test_wrong_readback_fails(self):
        for bad in ({"samples": []}, {"refs": [["IBD2", "G1"]]},
                    {"refs": [["IBD2", "G2"], ["IBD0", "G0"]]}):
            case = list(ingest_case())
            case[5] = [dict(case[5][0], **bad)]
            self.assertTrue(self.check(*case), bad)


class DedupCheckTest(unittest.TestCase):
    words = ["w%d" % i for i in range(40)]
    docs = {"a": " ".join(words[:20]),
            "b": " ".join(words[:19] + ["x"]),
            "c": " ".join(words[20:])}

    def test_correct_output_passes(self):
        exact = checks.brute_force_pairs(self.docs, 0.8)
        self.assertEqual(exact, {("a", "b")})
        fails, recall = checks.check_dedup(self.docs, exact, exact, 0.8, 1)
        self.assertEqual((fails, recall), ([], 1.0))
        _, recall = checks.check_dedup(self.docs, set(), exact, 0.8, 1)
        self.assertEqual(recall, 0.0)

    def test_extra_minhash_pair_fails(self):
        exact = {("a", "b")}
        fails, _ = checks.check_dedup(self.docs, exact | {("a", "c")}, exact, 0.8, 1)
        self.assertTrue(fails)

    def test_extra_or_missing_exact_pair_fails(self):
        for exact in ({("a", "b"), ("b", "c")}, set()):
            fails, _ = checks.check_dedup(self.docs, set(), exact, 0.8, 1)
            self.assertTrue(fails, exact)


class NoSourcesTest(unittest.TestCase):
    def test_exits_nonzero_without_engine_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(os.path.dirname(HERE), os.path.join(tmp, "perfbench"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1"],
                               cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
