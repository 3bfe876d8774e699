#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Lines before it describe the run.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout; traced runs leave their spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metric prefixes of layers a workload kind never calls; they
#: read 0 on that kind, so every traced run prints every metric
NOT_RUN = {
    "crawl": ("pulse.",),
    "search": ("crawl.", "fetch.", "extract.", "canonicalize.",
               "politeness.", "scheduling.", "dedup.", "tables."),
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vyntr_spark", "__init__.py")):
        print("perfbench: no vyntr_spark package next to perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import SHAPES, CrawlBench, SearchBench

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    harness.prepare_env(work)
    if args.workload in SHAPES:
        kind = "crawl"
        bench = CrawlBench(args.workload, args.seed, work, bool(args.trace))
    else:
        kind = "search"
        bench = SearchBench(args.seed, work, bool(args.trace))
    try:
        out = bench.run(args.seconds)
    finally:
        bench.close()
        harness.rmtree(work)
        harness.reap_descendants()

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in out.metrics:
            value = out.metrics[name]
        elif args.trace and name.startswith(NOT_RUN[kind]):
            value = 0.0
        else:
            print(f"perfbench: {args.workload} produced no {name}",
                  file=sys.stderr)
            return 3
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    for line in out.notes:
        print(f"# {line}")
    print(json.dumps({"correct": out.failed == 0,
                      "attempted": out.attempted,
                      "failed": out.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
