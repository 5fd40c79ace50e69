"""Test of the harness's gate deadline: a gate that runs past it is
cancelled and counted as failed, and the run goes on.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

It starts the harness JVM, so it needs the classes that `run.py` builds on
its first run; without them it is skipped.
"""
import json
import os
import shutil
import unittest

import gen
import run
from workloads import WORKLOADS


@unittest.skipUnless(os.path.isdir(run.CLASSES),
                     "harness not built; run perfbench/run.py once")
class Deadline(unittest.TestCase):
    def test_gates_past_their_deadline_fail_and_the_run_goes_on(self):
        tmp = os.path.join(run.BUILD, "test-deadline")
        shutil.rmtree(tmp, ignore_errors=True)
        data = os.path.join(tmp, "data")
        gen.generate(WORKLOADS["pair_dedup"]["spec"], 1, data)
        # a streaming gate (its jobs run in the query's own thread, so only
        # stopping the query frees the builder) and a batch pair gate; both
        # take far longer than 50 ms in every pass
        gates = ["stream_minhash_pairs", "pipe_ppjoin"]
        try:
            r = run.jvm(["--out", tmp, "--gates",
                         ",".join(gates), "--seed", "1", "--seconds", "0",
                         "--trace", "0", "--deadline-s", "0.05",
                         "--data", data, "--cores", "2",
                         "--tables", "documents",
                         "--scratch", os.path.join(tmp, "spark")],
                        os.path.join(tmp, "tmp"), timeout=170)
            self.assertEqual(r.returncode, 0)
            with open(os.path.join(tmp, "records.json")) as f:
                rec = json.load(f)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # cold, burn-in and the three fewest measured passes all ran
        self.assertEqual([p["pass"] for p in rec["passes"]], [0, 1, 2, 3, 4])
        self.assertEqual(len(rec["execs"]), 5 * len(gates))
        for x in rec["execs"]:
            self.assertTrue(x["deadlined"], x)
            self.assertFalse(x["ok"], x)
            self.assertTrue(x["error"].startswith("deadline"), x)
            # stopped, not left to hang until the run's own time limit
            self.assertLess((x["action"][1] - x["build"][0]) / 1e3, 20, x)


if __name__ == "__main__":
    unittest.main()
