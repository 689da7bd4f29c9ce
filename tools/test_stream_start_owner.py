#!/usr/bin/env python3
"""Guard: every streaming query starts through StreamStart.

    python3 -m unittest discover -s tools -p 'test_*.py'

src/main/scala/graft/streaming/StreamStart.scala is the one place a
DataStreamWriter is made and started: it pins how the query's session
clone loads classes, so a restarted query reuses the classes its plan
already compiled. A writer is only reachable through `writeStream`, and
can only be handed around as a `DataStreamWriter`; a start anywhere else
needs one of the two spellings in its file. This test fails on either
spelling in src/main/scala outside the owner, code or comment.
"""
import os
import re
import shutil
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
MAIN = os.path.join(os.path.dirname(HERE), "src", "main", "scala")
OWNER = "StreamStart.scala"
SPELLINGS = re.compile(r"\bwriteStream\b|\bDataStreamWriter\b")


def stray_writers(root):
    """(file, line number, line) of every stream-writer spelling under
    `root` outside the owner."""
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


class StreamStartOwnerTest(unittest.TestCase):
    def test_writers_are_spelled_only_in_stream_start(self):
        hits = stray_writers(MAIN)
        self.assertEqual(hits, [], "stream writer outside %s:\n%s" % (
            OWNER, "\n".join("%s:%d: %s" % h for h in hits)))

    def test_owner_starts_the_writer(self):
        with open(os.path.join(MAIN, "graft", "streaming", OWNER), encoding="utf-8") as fh:
            text = fh.read()
        for spelling in ("df.writeStream", "writer.start()"):
            self.assertIn(spelling, text)

    def test_a_planted_start_fires_the_guard(self):
        root = tempfile.mkdtemp(prefix="stream-start-guard-")
        self.addCleanup(shutil.rmtree, root)
        copy = os.path.join(root, "scala")
        shutil.copytree(MAIN, copy)
        self.assertEqual(stray_writers(copy), [])
        planted = [
            '    val q = out.writeStream.format("memory").start()',
            '  def run(w: DataStreamWriter[Row]): Unit = w.start().awaitTermination()',
        ]
        target = os.path.join(copy, "graft", "queries", "StreamingQueries.scala")
        with open(target, "a", encoding="utf-8") as fh:
            fh.write("\n".join(planted) + "\n")
        hits = stray_writers(copy)
        self.assertEqual([h[0] for h in hits],
                         [os.path.join("graft", "queries", "StreamingQueries.scala")] * 2)


if __name__ == "__main__":
    unittest.main()
