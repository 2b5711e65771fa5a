"""The benchmark's own test: its seeded generators are deterministic.

Run from the repository root: ``python3 perfbench/test_generators.py``.
Builds the benchmark and runs its self-test, which generates every input
twice from one seed and once from another, and checks that the same seed
gives the same CDA tree bytes, manifest sequence, op schedules and expected
answers, while another seed gives other inputs.
"""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_same_seed_same_inputs():
    proc = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--selftest"],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "selftest ok", proc.stdout


if __name__ == "__main__":
    test_same_seed_same_inputs()
    print("ok")
