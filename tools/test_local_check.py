#!/usr/bin/env python3
"""Tests for `local_check.py --decode-bench` on stored bench tails.

    python3 -m unittest discover -s tools -p 'test_*.py'

fixtures/bench_tail_r22.json is the stored 2000-char stdout tail
of the r22 sf0.1 bench, whose line lost its head (and with it the
`queries` map); fixtures/gates_r22.json is that run's gate inventory.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
TAIL = os.path.join(HERE, "fixtures", "bench_tail_r22.json")
GATES = os.path.join(HERE, "fixtures", "gates_r22.json")


def decode(bench_path):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "local_check.py"),
         "--decode-bench", bench_path, GATES],
        capture_output=True, text=True)


class DecodeBenchTest(unittest.TestCase):
    def tail_file(self, text):
        f = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
        self.addCleanup(os.remove, f.name)
        json.dump({"tail": text}, f)
        f.close()
        return f.name

    def test_head_truncated_tail_decodes_every_gate(self):
        r = decode(TAIL)
        self.assertEqual(r.returncode, 0, r.stderr)
        got = json.loads(r.stdout)
        with open(GATES) as fh:
            self.assertEqual(sorted(got), json.load(fh))
        # the surviving end of the `queries` map has centisecond values
        # for the last gates; the deciseconds must agree with them
        with open(TAIL) as fh:
            tail = json.load(fh)["tail"]
        self.assertNotIn('"queries"', tail)
        for name, secs in (("s31_stream_hybrid_multi", 36.76),
                           ("s27_stream_hybrid_indexed", 28.41),
                           ("t25_bm25_index_serve", 2.52)):
            self.assertIn(f'"{name}":{secs}', tail)
            self.assertAlmostEqual(got[name], secs, delta=0.05)

    def test_whole_line_uses_the_queries_map(self):
        line = ('{"metric":"total","value":3.5,"unit":"sec","queries":'
                '{"d01_dedup_exact":1.25,"s01_stream_mirror":2.25},'
                '"sf":"x","q_ds":{"d":[12],"s":[22]},"spill_ds":1,'
                '"failed":[],"sf":"x"}')
        r = decode(self.tail_file("[info] run\n" + line + "\n[success] done\n"))
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertEqual(json.loads(r.stdout),
                         {"d01_dedup_exact": 1.25, "s01_stream_mirror": 2.25})

    def test_unnamed_failures_refuse_positional_decoding(self):
        with open(TAIL) as fh:
            tail = json.load(fh)["tail"]
        cut = tail.replace('"failed":[]', '"failed":["d01_dedup_exact",'
                           '"+9 more (see bench_detail.json)"]')
        r = decode(self.tail_file(cut))
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("+9 more", r.stderr)
        self.assertIn("bench_detail.json", r.stderr)

    def test_no_bench_line_is_a_clear_error(self):
        r = decode(self.tail_file("[error] Total time: 3 s\n"))
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("no bench JSON line found", r.stderr)
        self.assertNotIn("Traceback", r.stderr)


if __name__ == "__main__":
    unittest.main()
