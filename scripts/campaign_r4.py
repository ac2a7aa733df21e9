"""Round-4 measurement campaign: run every scaling/bench artifact in
clean windows, unattended.

The shared host's co-tenant load comes and goes on a scale of tens of
minutes (boxmeter records it per sample). This driver sequences the four
round-4 measurement programs, holding before each for a quiet box, so one
invocation eventually produces a full set of clean, mutually-attributable
artifacts:

  1. bench_scaling 300k x2   — the north-rule same-JVM N-vs-4N pair
  2. bench.py                — the single-window bench re-run (VERDICT
     round-3 #2); per-layer build attribution comes from
     `perfbench/run.py --trace 1`
  3. bench_concurrency 300k  — aggregate(4x local[8]) vs local[32] vs
     4x solo local[8]: the box-vs-engine verdict
  4. bench_jvm_ab 300k       — GC / shuffle-buffer / codec A/B inside one
     JVM, localizing any in-process share of the gap

Each step's stdout lands in BENCH/campaign_r4_<step>.log; the underlying
harnesses append their own jsonl artifacts as usual.

Run: python scripts/campaign_r4.py [--skip=step1,step2 ...]
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))
from boxmeter import probe_cotenant, wait_clean  # noqa: E402

# max hold per step; on timeout the step runs anyway, metered
MAX_WAIT_S = 4800.0


def _run(name: str, cmd: list[str], timeout_s: float) -> None:
    log = REPO / "BENCH" / f"campaign_r4_{name}.log"
    print(f"[campaign] {name}: waiting for a clean window "
          f"(probe now: {probe_cotenant(4):.1f} busy cores)", flush=True)
    wait_clean(MAX_WAIT_S, thresh_cores=2.0, poll_s=60.0)
    print(f"[campaign] {name}: starting — {' '.join(cmd)}", flush=True)
    t0 = time.monotonic()
    with log.open("w") as fh:
        proc = subprocess.run(
            cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=str(REPO),
            timeout=timeout_s,
        )
    print(f"[campaign] {name}: exit={proc.returncode} "
          f"in {time.monotonic() - t0:.0f}s (log: {log})", flush=True)


def main() -> None:
    skip = set()
    for a in sys.argv[1:]:
        if a.startswith("--skip="):
            skip = set(a.split("=", 1)[1].split(","))
    py = sys.executable
    steps = [
        ("scaling", [py, "scripts/bench_scaling.py", "300000", "2",
                     "--clean-pairs=1800"], 7200),
        ("bench", [py, "bench.py"], 3600),
        ("concurrency", [py, "scripts/bench_concurrency.py", "300000", "1"], 4800),
        ("jvm_ab", [py, "scripts/bench_jvm_ab.py", "300000", "1"], 4800),
    ]
    for name, cmd, timeout_s in steps:
        if name in skip:
            print(f"[campaign] {name}: skipped", flush=True)
            continue
        try:
            _run(name, cmd, timeout_s)
        except Exception as exc:  # keep going — later steps still valuable
            print(f"[campaign] {name}: FAILED ({exc})", flush=True)
    print("[campaign] done", flush=True)


if __name__ == "__main__":
    main()
