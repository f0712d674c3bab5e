#!/usr/bin/env python3
"""The benchmark's own tests: python3 perfbench/selftest.py

Runs the Python tests (percentile rule, self time, run-record metrics),
then stages the library sources as run.py does and runs the Scala tests
(key-partition guard, failure accounting) with the benchmark's build."""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        sys.exit(1)
    os.makedirs(run.BUILD, exist_ok=True)
    run.stage_sources()
    sys.exit(subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                            cwd=HERE, env=run.sbt_env()).returncode)


if __name__ == "__main__":
    main()
