"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced on tiny inputs, and
checks that each run is correct and reports every metric it names, with
its unit. Then runs one workload whose expected counts are deliberately
wrong and checks that its ops count as failed, which proves the output
check is live. Exits 0 when all of this holds. Takes a few minutes: each
run starts its own JVM.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402


def shrink() -> None:
    """Toy sizes, so a run takes seconds."""
    workloads.TALL_ROWS = 3_000
    workloads.WIDE_ROWS = 500
    workloads.WIDE_DATA_COLS = 8
    workloads.WIDE_SHARED_COLS = 5
    workloads.LEDGER_FRESH = 30
    workloads.LEDGER_CORPUS_COPIES = 4
    workloads.LEDGER_BATCH_COPIES = 3


class WrongTruth(workloads.TallGate):
    """tall_gate with one common row too many in its ground truth."""

    def prepare(self, seed: int, root: str) -> None:
        super().prepare(seed, root)
        self.pair.truth.common_rows += 1


def units(result) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    problems = []
    shrink()
    for name in workloads.WORKLOADS:
        for trace in (False, True):
            result, detail = run.run(name, seed=7, seconds=1, trace=trace)
            want = run.declared("per_layer" if trace else "end_to_end")
            tag = f"{name} trace={int(trace)}"
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: failed ops: {detail['errors']}")
            if result["attempted"] < 1:
                problems.append(f"{tag}: no ops attempted")
            got = units(result)
            absent = [m for m in want if m not in got and m not in detail.get("missing", ())]
            if absent or any(got[m] != want[m] for m in got if m in want):
                problems.append(f"{tag}: metrics {got} differ from {want}")
            if set(got) - set(want):
                problems.append(f"{tag}: unnamed metrics {sorted(set(got) - set(want))}")
            print(f"selftest: {tag}: {result['attempted']} ops, {len(got)} metrics", flush=True)

    result, detail = run.run("tall_gate", seed=7, seconds=1, trace=False, workload=WrongTruth())
    if result["correct"] or result["failed"] != result["attempted"]:
        problems.append(f"a wrong expected count did not fail every op: {result}")
    elif "common_rows" not in detail["errors"][0]:
        problems.append(f"the failure does not name the wrong count: {detail['errors'][0]}")
    print(f"selftest: wrong truth: {result['failed']}/{result['attempted']} ops failed", flush=True)

    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest: ok" if not problems else f"selftest: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
