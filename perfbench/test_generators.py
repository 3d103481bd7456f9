"""Generator tests: the same seed gives byte-identical inputs, another seed
different ones, and the measured properties match what was asked for.

    python3 -m unittest perfbench/test_generators.py     (from the repo root)

The CDC test builds the benchmark (first run only) and starts the JVM
generator twice.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    return gen_corpus.digest(d)


class CorpusGeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.join(os.getcwd(), ".bench_build")
                                    if os.path.isdir(".bench_build") else None)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        pa = gen_corpus.generate(7, a)
        pb = gen_corpus.generate(7, b)
        gen_corpus.generate(8, c)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))
        self.assertEqual(pa, pb)

    def test_properties(self):
        p = gen_corpus.generate(3, os.path.join(self.tmp, "p"))
        docs = p["documents"]
        self.assertEqual(docs["rows"], gen_corpus.SIZES["documents"])
        self.assertAlmostEqual(docs["injected_exact_duplicate_share"],
                               gen_corpus.EXACT_DUP_SHARE, delta=0.01)
        self.assertAlmostEqual(docs["injected_near_duplicate_share"],
                               gen_corpus.NEAR_DUP_SHARE, delta=0.01)
        # injected copies are exact duplicates; the measured share can only
        # be higher (a near-duplicate with no edit is exact too)
        self.assertGreaterEqual(docs["exact_duplicate_share"],
                                docs["injected_exact_duplicate_share"])
        for t, n in gen_corpus.SIZES.items():
            self.assertEqual(p[t]["rows"], n)
            self.assertGreater(p[t]["bytes"], 0)


class CdcGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        root = os.getcwd()
        build_dir = os.path.join(root, ".bench_build")
        jars = run.spark_jars()
        classes, _ = run.build(root, build_dir, jars)
        tmp = tempfile.mkdtemp(dir=build_dir)
        try:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                out = os.path.join(tmp, str(i))
                cmd = ["java", "-XX:-UsePerfData", "-cp", f"{classes}:{jars}/*", "graftbench.Main",
                       "--workload", "gen_cdc", "--seed", str(seed), "--out", out,
                       "--cores", "1"]
                subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL,
                               env=dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
                                   f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS)))
                h = hashlib.sha256()
                gen = os.path.join(out, "gen", "cdc")
                for f in sorted(os.listdir(gen)):
                    with open(os.path.join(gen, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
                digests.append(h.hexdigest())
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
