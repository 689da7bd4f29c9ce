#!/usr/bin/env python3
"""Guard: epochAppend stages its batch through EpochWriter.

    python3 -m unittest discover -s tools -p 'test_*.py'

EpochCommit.epochAppend commits each epoch of the parquet transport and
of the s-gates. Its staged write goes through
src/main/scala/graft/streaming/EpochWriter.scala, which ships the write's
Hadoop conf once as a broadcast. A `DataFrameWriter` chain
(`b.write....parquet(s)`) in its place would ship the session's whole
conf inside every write task again, a cost no test sees. This test fails
when the `stage =` argument of epochAppend spells a DataFrameWriter, or
does not name EpochWriter.
"""
import os
import re
import shutil
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
MAIN = os.path.join(os.path.dirname(HERE), "src", "main", "scala")
COMMIT = os.path.join("graft", "streaming", "EpochCommit.scala")
WRITER = re.compile(r"\.write\s*\.|\bDataFrameWriter\b|\.(parquet|save|format|mode)\(")


def epoch_append_stage(root):
    """The text of epochAppend's `stage =` argument under `root`."""
    with open(os.path.join(root, COMMIT), encoding="utf-8") as fh:
        text = fh.read()
    body = re.search(r"\n  def epochAppend\(.*?(?=\n  /\*\*|\n  def |\n  private def )", text, re.S)
    if body is None:
        raise AssertionError("no epochAppend in %s" % COMMIT)
    stage = re.search(r"\bstage\s*=(.*?)\brelativeGlob\s*=", body.group(0), re.S)
    if stage is None:
        raise AssertionError("epochAppend passes no stage to the commit")
    return stage.group(1).strip()


def stage_problems(root):
    """What is wrong with epochAppend's stage under `root`, if anything."""
    stage = epoch_append_stage(root)
    problems = []
    if WRITER.search(stage):
        problems.append("epochAppend stages through a DataFrameWriter: %s" % stage)
    if "EpochWriter" not in stage:
        problems.append("epochAppend does not stage through EpochWriter: %s" % stage)
    return problems


class EpochWriterOwnerTest(unittest.TestCase):
    def test_epoch_append_stages_through_epoch_writer(self):
        self.assertEqual(stage_problems(MAIN), [])

    def test_a_dataframe_writer_stage_fires_the_guard(self):
        root = tempfile.mkdtemp(prefix="epoch-writer-guard-")
        self.addCleanup(shutil.rmtree, root)
        copy = os.path.join(root, "scala")
        shutil.copytree(MAIN, copy)
        target = os.path.join(copy, COMMIT)
        with open(target, encoding="utf-8") as fh:
            text = fh.read()
        stage = epoch_append_stage(copy)
        planted = '(b, s) => b.write.mode("overwrite").parquet(s),'
        with open(target, "w", encoding="utf-8") as fh:
            fh.write(text.replace(stage, planted, 1))
        problems = stage_problems(copy)
        self.assertEqual(len(problems), 2, problems)
        self.assertIn("DataFrameWriter", problems[0])


if __name__ == "__main__":
    unittest.main()
