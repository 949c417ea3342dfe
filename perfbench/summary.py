#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/summary.py --workloads extract_mixed,query_suite \
        --seeds 1-10 [--seconds 8] [--trace 0]

For each workload and end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread, the
inter-quartile distance as a share of the median, beside the metric's
bound from ``BENCHMARK.json``. With both ``extract_mixed`` and
``extract_1core`` in the set it also prints
``scaling_eff = docs_per_s(extract_mixed) / (nproc * docs_per_s(extract_1core))``
from the two medians (reported, not gated). Each run's last stdout line
and the detail line before it are kept in ``--out`` (JSON lines) for
later inspection.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import common


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def _spec() -> dict:
    try:
        with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except OSError:
        return {}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    spec = _spec()
    ap.add_argument("--seconds", type=float,
                    default=spec.get("run_seconds", 8))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(common.WORK_ROOT,
                                                  "summary.jsonl"))
    args = ap.parse_args()

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", ())}
    medians: dict = {}
    run_py = os.path.join(common.HERE, "run.py")
    with open(args.out, "a") as log:
        for w in args.workloads.split(","):
            values: dict = {}
            bad = 0
            for seed in _seeds(args.seeds):
                proc = subprocess.run(
                    [sys.executable, run_py, "--workload", w, "--seed",
                     str(seed), "--seconds", str(args.seconds), "--trace",
                     str(args.trace)],
                    cwd=common.ROOT, capture_output=True, text=True)
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: exit {proc.returncode}\n"
                          f"{proc.stderr[-2000:]}", file=sys.stderr)
                    bad += 1
                    continue
                res = json.loads(lines[-1])
                detail = json.loads(lines[-2]) if len(lines) > 1 else {}
                log.write(json.dumps({"workload": w, "seed": seed, **res,
                                      "detail": detail}) + "\n")
                bad += not res["correct"]
                for k, v in res["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            print(f"== {w}: {len(_seeds(args.seeds)) - bad} good runs, "
                  f"{bad} failed or incorrect")
            for k, vs in values.items():
                med = statistics.median(vs)
                q1, _, q3 = (statistics.quantiles(vs, n=4) if len(vs) > 1
                             else (vs[0], vs[0], vs[0]))
                spread = (q3 - q1) / med if med else float("nan")
                medians[(w, k)] = med
                b = bounds.get(k)
                print(f"  {k:34s} median {med:12.4f}  q1 {q1:12.4f}  "
                      f"q3 {q3:12.4f}  spread {spread:7.4f}"
                      + (f"  bound {b}" if b is not None else ""))
    hi, lo = medians.get(("extract_mixed", "docs_per_s")), medians.get(
        ("extract_1core", "docs_per_s"))
    if hi and lo:
        print(f"scaling_eff {hi / (common.nproc() * lo):.4f} "
              f"(extract_mixed {hi:.1f} docs/s on {common.nproc()} cores, "
              f"extract_1core {lo:.1f} docs/s on 1)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
