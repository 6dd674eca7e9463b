"""Run one benchmark workload of the search_spark engine.

    python3 perfbench/run.py --workload point_query --seed 1 --seconds 10 --trace 0

Run it from the repository root: it imports ``search_spark`` from the
working directory.  All stores, stream checkpoints, corpora and Spark
scratch files live in one temporary directory under ``.perfbench/``, which
is deleted when the run ends.  A traced run (``--trace 1``) also writes its
spans to ``.perfbench/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``), each as
``{"value", "unit"}``.  Lines before it describe the run: its input
properties, error rate, host steal share and, when traced, per-layer self
times and the run's own end-to-end figures.  A metric that could not be
measured, because every operation it is taken from failed, is left out of
the result, which then says ``"correct": false``; the exit code is then 3.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full", help="input sizes (smoke: the smallest)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "search_spark", "__init__.py")):
        print("perfbench: search_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    # Python workers started by Spark import search_spark from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from perfbench import inputs, pipeline

    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.makedirs(tempfile.tempdir)
    sizes = inputs.SMOKE if args.scale == "smoke" else inputs.FULL
    try:
        run = pipeline.Run(args.workload, args.seed, args.seconds, sizes, bool(args.trace), workdir)
        run.run()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    run.props["query_lengths"] = dict(sorted(run.inputs.query_lengths.items()))
    run.props["error_rate"] = run.failed / max(1, run.attempted)
    print("properties " + json.dumps(run.props))
    if args.trace:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(run.tracer.to_json(), f)
        print(f"spans {len(run.tracer.spans)} written to {os.path.relpath(path, root)}")
        print("self_s " + json.dumps({k: round(v, 4) for k, v in sorted(run.tracer.self_times().items())}))
        print("traced_end_to_end " + json.dumps(run.m))
        values, wanted = run.layer, spec["per_layer"]
    else:
        values, wanted = run.m, spec["end_to_end"]
    # a metric whose every sample failed is not measured: the run reports
    # what it has, marked incorrect, and exits non-zero
    missing = [w["name"] for w in wanted if values.get(w["name"]) is None]
    result = {
        "correct": run.failed == 0 and not missing,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            w["name"]: {"value": float(values[w["name"]]), "unit": w["unit"]}
            for w in wanted
            if w["name"] not in missing
        },
    }
    print(json.dumps(result))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
