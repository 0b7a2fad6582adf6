"""Benchmark entry point.

    python3 perfbench/run.py --workload eod_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench/`` under the checkout; the program is imported from the
checkout's sources and runs at its defaults on ``local[<cores>]``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Human-readable
lines (including the tracing overhead) go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "securities_pricing_data_pipeline_spark"


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["eod_daily", "dashboard", "eod_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end numbers for the same workload and
    seed, when an untraced run of it left its record in ``out_dir``."""
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        plain = json.load(fh)["e2e"]
    return {
        k: {"traced": v, "untraced": plain[k], "delta": v - plain[k],
            "share": (v - plain[k]) / plain[k] if plain[k] else None}
        for k, v in traced.items() if k in plain
    }


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(
        os.path.join(ROOT, "tools")
    ):
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(no {PACKAGE}/ or tools/)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the engine's package and tools/

    from harness import Run, isolate_environment
    from stats import cpu_count
    from workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate_environment(work, cpu_count())
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work)
    try:
        WORKLOADS[args.workload](run)
        result = run.result()
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    e2e = {k: v for k, (v, _) in run.e2e.items()}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "e2e": e2e, "info": run.info, "problems": run.ops.problems}
    if run.traced:
        record["overhead"] = overhead(out_dir, args.workload, args.seed, e2e)
        run.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"),
                        record)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, v in e2e.items():
        print(f"{args.workload} {k} = {v:.6g}", file=sys.stderr)
    print(f"{args.workload} attempted={run.ops.attempted} failed={run.ops.failed} "
          f"failed_share={run.ops.failed_share:.4g} info={json.dumps(run.info, default=str)}",
          file=sys.stderr)
    for why in run.ops.problems:
        print(f"{args.workload} problem: {why}", file=sys.stderr)
    if run.traced:
        ov = record["overhead"]
        if ov is None:
            print("tracing overhead: no untraced run of this workload and seed to compare with",
                  file=sys.stderr)
        else:
            for k, d in ov.items():
                print(f"tracing overhead {k}: traced {d['traced']:.6g} untraced "
                      f"{d['untraced']:.6g} delta {d['delta']:+.6g}", file=sys.stderr)
    print(f"{args.workload} run wall {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
