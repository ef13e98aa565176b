"""The same seed stages the same sensor recording; another seed does not.

Runs the benchmark JVM once (building it first if needed), so it takes
about half a minute; skipped where sbt or Spark is missing.

    python3 -m unittest discover -s perfbench/tests
"""

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


def rows(d, table):
    """The staged table's lines, header first, rows in sorted order."""
    lines = []
    for p in glob.glob(os.path.join(d, table, "*.csv")):
        with open(p) as f:
            part = f.read().splitlines()
        header, body = part[0], part[1:]
        lines.extend(body)
    return [header] + sorted(lines)


@unittest.skipUnless(shutil.which("sbt") and (os.environ.get("SPARK_HOME")
                                              or shutil.which("spark-submit")),
                     "needs sbt and Spark")
class RecordingTest(unittest.TestCase):
    def test_same_seed_same_recording(self):
        env = dict(os.environ, SPARK_HOME=run.spark_home())
        cp, _ = run.build(env)
        os.makedirs(os.path.join(run.HERE, ".runs"), exist_ok=True)
        base = tempfile.mkdtemp(dir=os.path.join(run.HERE, ".runs"))
        try:
            a, b, c = (os.path.join(base, x) for x in "abc")
            subprocess.run(run.java_cmd(cp, ["-Djava.io.tmpdir=" + base]) + [
                "perfbench.Main", "--stage", "5:%s,5:%s,6:%s" % (a, b, c),
                "--minutes", "0.5", "--run", base],
                env=env, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=170)
            for table in ("camera", "motion", "log"):
                self.assertGreater(len(rows(a, table)), 10)
                self.assertEqual(rows(a, table), rows(b, table))
                self.assertNotEqual(rows(a, table), rows(c, table))
        finally:
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
