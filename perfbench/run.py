#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload extract_web_mix --seed 1 \
        --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
``.perfbench/inputs``), sets the pinned ``local[nproc]`` session up
several times, checks the program's outputs outside the timed region,
measures for ``--seconds`` seconds (always at least one whole round) and
prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
traced run and writes its spans to ``.perfbench/traces``. The lines
before it give each timing's median, tail and sample count, the box,
the injected input shares and ``failed_frac``.
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
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3          # set-ups per untraced run; setup_s is their median

END_TO_END = [("setup_s", "s"), ("docs_per_s", "1/s"), ("resume_s", "s"),
              ("peak_rss_mb", "MB")]


class Checks:
    """Correctness outcomes: every check is one attempted operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def add(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(name)


class Context:
    def __init__(self, workload: str, seed: int) -> None:
        self.seed = seed
        self.inputs_dir = os.path.join(WORK, "inputs")
        self.run_dir = os.path.join(WORK, "runs",
                                    f"{workload}-s{seed}-{os.getpid()}")


def _pin_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let the Python workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}' pyspark-shell")


def _workload(name: str, ctx: Context):
    if name == "extract_web_mix":
        from extract_web_mix import Workload
    elif name == "crawl_corpus":
        from crawl_corpus import Workload
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return Workload(ctx)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_web_mix", "crawl_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    ctx = Context(args.workload, args.seed)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    _pin_environment(ctx.run_dir)

    from common import Ledger, box_facts, describe, measure_setups, stop_spark

    wl = _workload(args.workload, ctx)
    checks = Checks()
    spark = None
    try:
        # a traced run reports no setup_s, so it sets up once
        spark, setups = measure_setups(f"perfbench-{args.workload}",
                                       wl.warm_up,
                                       1 if args.trace else SETUPS)
        wl.prepare(spark, checks)
        if args.trace:
            ledger = Ledger(f"{args.workload}-s{args.seed}-{int(time.time())}",
                            enabled=True)
            # the root span's self time is whatever no layer span covers
            with ledger.span(args.workload):
                layer = wl.trace(spark, ledger)
        else:
            samples = wl.measure(spark, args.seconds)
        wl.check(spark, checks)
    finally:
        if spark is not None:
            stop_spark(spark, jvm=True)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    facts = {"workload": args.workload, **box_facts(args.seed),
             "inputs": wl.describe_inputs()}
    if args.trace:
        for key, label in (("_ordering", "scan <= scan+spread <= extract"),
                           ("_coverage_ok", "crawl.ledger_coverage in band")):
            if key in layer:
                checks.add(label, bool(layer[key]))
        layer["pipeline.quarantine_rows"] = wl.quarantine_rows
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in wl.layers}
        ledger.write(os.path.join(WORK, "traces", f"{ledger.run_id}.json"),
                     {"facts": facts, "metrics": metrics})
    else:
        samples["setup_s"] = setups
        stats = {k: describe(samples[k]) for k, _ in END_TO_END}
        print("perfbench timings " + json.dumps(stats, sort_keys=True))
        metrics = {k: {"value": stats[k]["median"], "unit": u}
                   for k, u in END_TO_END}
    failed_frac = len(checks.failures) / max(1, checks.attempted)
    print("perfbench facts " + json.dumps(facts, sort_keys=True))
    print("perfbench failed_frac " + json.dumps(
        {"value": failed_frac, "unit": "ratio",
         "first_failures": checks.failures[:10]}))
    print(json.dumps({"correct": not checks.failures,
                      "attempted": max(1, checks.attempted),
                      "failed": len(checks.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
