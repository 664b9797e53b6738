"""Runs the open-loop generator's self-check (OpenLoopCheck.scala) against
the compiled harness. Compiles the service and harness first if needed.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class OpenLoopGenerator(unittest.TestCase):
    def test_stall_inflates_queued_requests(self):
        jars = run.spark_jars()
        if jars is None:
            self.skipTest("no Spark install")
        classes, digest = run.build(jars)
        out = os.path.join(run.BUILD, f"test-classes-{digest}")
        os.makedirs(out, exist_ok=True)
        cp = f"{classes}:{os.path.join(jars, '*')}"
        subprocess.run(["java", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", out,
                        os.path.join(HERE, "OpenLoopCheck.scala")], check=True)
        p = subprocess.run(["java", "-cp", f"{out}:{cp}", "perfbench.OpenLoopCheck"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertIn("OpenLoopCheck: ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
