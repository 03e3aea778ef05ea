"""Full-suite oracle sweep as a slow-marked test.

The driver's per-round gate samples ~50 of the ~200 gated queries, so a
regression in a never-sampled query could hide indefinitely.  This test
runs the complete ``tools/oracle_check.py`` value sweep (every
``queries()`` entry vs its DuckDB oracle at sf0.01 — row count, column
names, order-insensitive value hash, dtype classes) so the whole suite
is re-verified locally every round:

    python -m pytest tests/ -m slow -q

It runs in a subprocess: the sweep wants the package's own full-size
SparkSession (local[*], 32 shuffle partitions), not the test fixture's
local[4], and the two must not share a JVM.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

SWEEP_SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.slow
def test_full_oracle_sweep():
    proc = subprocess.run(
        [sys.executable, "tools/oracle_check.py", SWEEP_SF_DIR],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    tail = proc.stdout[-6000:] + "\n--- stderr ---\n" + proc.stderr[-2000:]
    assert proc.returncode == 0, tail


@pytest.mark.slow
def test_rotating_never_sampled_slice_cross_scale():
    """r8 (VERDICT r7 item 7): a rotating slice of the queries the
    DRIVER has never sampled (union of CORRECTNESS_r*.json keys),
    re-verified at sf0.001 — the full sweep above covers sf0.01, and
    one scale alone can hide data-dependent oracle bugs (the r6
    DuckDB list_reduce chunk-shape class).  Rotation advances with
    the round count (number of CORRECTNESS files), so successive
    rounds walk the whole tail; slice widened 20 → 30 in r9 (VERDICT
    r8 item 7), 30 → 40 in r11 (VERDICT r10 item 8: the driver
    resampled zero new queries in r10, cumulative coverage stuck at
    157/310, so this slice is the only instrument walking the
    153-query tail — 40/round closes it in ~4 rounds), 40 → 60 in
    r16 (VERDICT r15 item 6: driver coverage stalled at 162/341 for
    a third round, so the ~180-query tail should recycle every ~3
    rounds, not ~6)."""
    import glob
    import json

    sampled: set[str] = set()
    rounds = sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json")))
    for f in rounds:
        sampled |= set(json.load(open(f)))
    import __spark_entry__ as entry

    never = sorted(set(entry.queries()) - sampled)
    if not never:
        pytest.skip("every query has been driver-sampled")
    off = (len(rounds) * 60) % max(len(never), 1)
    slice_ = (never + never)[off : off + 60][: len(never)]
    proc = subprocess.run(
        [sys.executable, "tools/oracle_check.py",
         "/root/testdata/sf0.001", *slice_],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    tail = proc.stdout[-6000:] + "\n--- stderr ---\n" + proc.stderr[-2000:]
    assert proc.returncode == 0, tail
