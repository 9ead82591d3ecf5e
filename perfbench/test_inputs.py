#!/usr/bin/env python3
"""The benchmark's own tests: inputs are a function of the seed.

    python3 -m unittest perfbench/test_inputs.py     # from the repository root

Each workload's generated inputs are digested without starting Spark:
the same seed must give identical digests, another seed different ones.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
WORKLOADS = ["retrieve", "refresh"]


def digests(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed), "--digest-only"],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            a, b = digests(w, 7), digests(w, 7)
            self.assertEqual(a["digests"], b["digests"], w)
            self.assertEqual(a["shares"], b["shares"], w)

    def test_other_seed_other_inputs(self):
        for w in WORKLOADS:
            a, b = digests(w, 7), digests(w, 8)
            for table, d in a["digests"].items():
                self.assertNotEqual(d, b["digests"][table], f"{w}/{table}")

    def test_planted_shares_are_recorded(self):
        shares = digests("refresh", 7)["shares"]
        for k in ["corpus.exact_dup", "corpus.near_dup", "corpus.contaminated",
                  "delta.changed", "delta.added", "delta.removed"]:
            self.assertGreater(shares[k], 0.0, k)
        shares = digests("retrieve", 7)["shares"]
        self.assertGreater(shares["requests.repeat"], 0.0)
        self.assertGreater(shares["requests.rag_fallback"], 0.0)


if __name__ == "__main__":
    unittest.main()
