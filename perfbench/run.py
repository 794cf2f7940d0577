"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload batch_kg --seed 1 --seconds 8 --trace 0

Generates the seeded inputs, computes their reference outputs, runs the
workload for ``--seconds``, checks every output and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the run
alternates untraced and traced units of work to report the tracing
overhead.
The full record (every sample, errors, spans) goes to
``perfbench/.work/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_kg", "ner_kernel", "stream_kg")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0):
    """Run one workload in this process and return its Outcome. A run
    that raises outside its units of work (set-up, reference) comes back
    as one failed attempt."""
    import importlib

    from perfbench.common import Outcome, run_dir

    module = importlib.import_module(f"perfbench.{workload}")
    workdir = run_dir(workload, seed)
    try:
        return module.run(seed, seconds, trace, workdir, scale=scale)
    except Exception as exc:  # noqa: BLE001 - reported as a failed run
        res = Outcome()
        res.attempt(False, f"run: {exc!r}")
        return res
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def headline(res, spec: dict, trace: bool) -> dict:
    """The last line a run prints. A run in which no unit of work
    completed, or any failed, is not correct; its missing samples read 0."""
    if res.attempted == 0:
        res.attempt(False, "no unit of work ran")
    if trace:
        wanted = spec["per_layer"]
        values = {m["name"]: res.layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = res.end_to_end()
    return {
        "correct": res.failed == 0 and bool(res.op_s),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "transner_spark")):
        print("perfbench: the transner_spark package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import WORK, adopt_orphans, prepare_env, reap_children

    prepare_env()
    adopt_orphans()
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # every process the run started, the Spark JVM's Python workers
        # included, has ended before the result is printed
        left = reap_children()
    if left:
        print(f"perfbench: waited for {len(left)} process(es) the run left behind",
              file=sys.stderr)
    line = headline(res, _spec(), bool(args.trace))

    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if res.tracers:
        with open(stem + ".spans.jsonl", "w") as fh:
            for tracer in res.tracers:
                tracer.write(fh)
    record = {
        "args": vars(args),
        "headline": line,
        "samples": {"op_s": res.op_s, "read_s": res.read_s, "op_turns": res.op_turns,
                    "op_triples": res.op_triples},
        "errors": res.errors,
        "left_processes": len(left),
        "layers": res.layers,
    }
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
