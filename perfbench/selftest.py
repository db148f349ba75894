#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001 row counts).

    python3 perfbench/selftest.py

For every workload it runs ``run.py`` untraced and traced and checks
that each metric named in ``BENCHMARK.json`` is emitted with its unit,
that the oracle gate passes and that the outcome of each known open
defect is reported. It then breaks one query's oracle
(``--break-oracle``) and checks that the run reports the query as
failed, so the correctness gate cannot pass silently. It also checks
that the exact counts of the ledger repeat between two traced runs on
one seed. Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import suite  # noqa: E402

EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "workloads.construct_jobs")


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    """Run one workload; return the result and the line before it."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"selftest: {' '.join(cmd[1:])} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(suite.WORKLOADS)
    problems = []
    for workload in suite.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, summary = bench(workload, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{workload} trace={trace}: oracle gate failed")
            for q in suite.OPEN_DEFECTS.get(workload, ()):
                if f"'{q}': 'matched'" not in summary and f"'{q}': 'missed'" not in summary:
                    problems.append(f"{workload} trace={trace}: no outcome for open defect {q}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{workload} trace={trace}: {m['name']} missing or wrong unit")
            extra = res["metrics"].keys() - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{workload} trace={trace}: unlisted metrics {sorted(extra)}")
            if trace:
                again, _ = bench(workload, 1)
                for name in EXACT:
                    if res["metrics"][name]["value"] != again["metrics"][name]["value"]:
                        problems.append(f"{workload}: {name} differs between two traced runs")
        victim = suite.WORKLOADS[workload][0]
        broken, _ = bench(workload, 0, "--break-oracle", victim)
        if broken["correct"] or broken["failed"] < 1:
            problems.append(f"{workload}: a broken oracle for {victim} was not reported")
    for p in problems:
        print(f"selftest: {p}")
    print(f"selftest: {'FAIL' if problems else 'ok'} ({len(problems)} problems)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
