#!/usr/bin/env python3
"""Guard: the data plane's durable layout is spelled only in EpochCommit.

    python3 -m unittest discover -s tools -p 'test_*.py'

The commit markers (`_graft_commits`), the staging dirs (`_staging-`)
and the published epoch-file names (`graft-<ns>-e<N>-p<i>.parquet`)
are named once, in src/main/scala/graft/streaming/EpochCommit.scala.
A second spelling anywhere else in src/main/scala, code or comment, can
drift from the one the writer uses; this test fails on it.
"""
import os
import re
import shutil
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
MAIN = os.path.join(os.path.dirname(HERE), "src", "main", "scala")
OWNER = "EpochCommit.scala"
# an epoch-file name is "graft-", a namespace, "-e", an epoch, "-p"
SPELLINGS = re.compile(r"_graft_commits|_staging-|graft-\S*-e\S*-p")


def stray_spellings(root):
    """(file, line number, line) of every layout spelling under `root`
    outside the owner."""
    hits = []
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(".scala") or f == OWNER:
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if SPELLINGS.search(line):
                        hits.append((os.path.relpath(path, root), n, line.strip()))
    return hits


class LayoutOwnerTest(unittest.TestCase):
    def test_layout_is_spelled_only_in_epoch_commit(self):
        hits = stray_spellings(MAIN)
        self.assertEqual(hits, [], "durable layout spelled outside %s:\n%s" % (
            OWNER, "\n".join("%s:%d: %s" % h for h in hits)))

    def test_owner_spells_the_layout(self):
        with open(os.path.join(MAIN, "graft", "streaming", OWNER), encoding="utf-8") as fh:
            text = fh.read()
        for spelling in ("_graft_commits", "_staging-", "graft-$ns-e$epoch-p"):
            self.assertIn(spelling, text)

    def test_a_planted_spelling_fires_the_guard(self):
        root = tempfile.mkdtemp(prefix="layout-guard-")
        self.addCleanup(shutil.rmtree, root)
        copy = os.path.join(root, "scala")
        shutil.copytree(MAIN, copy)
        self.assertEqual(stray_spellings(copy), [])
        planted = [
            'val m = new Path(dest, s"_graft_commits/$ns")',
            'val s = new Path(dest, s"_staging-$ns-$epoch")',
            'val f = s"graft-${ns}-e$e-p0.parquet"',
        ]
        target = os.path.join(copy, "graft", "streaming", "CdcMerge.scala")
        with open(target, "a", encoding="utf-8") as fh:
            fh.write("\n".join("// " + p for p in planted) + "\n")
        hits = stray_spellings(copy)
        self.assertEqual([h[0] for h in hits], [os.path.join("graft", "streaming", "CdcMerge.scala")] * 3)


if __name__ == "__main__":
    unittest.main()
