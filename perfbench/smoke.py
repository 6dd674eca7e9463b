"""Smoke check of the benchmark itself, at the smallest input sizes.

    python3 perfbench/smoke.py

Run from the repository root.  For every workload in BENCHMARK.json it
runs one untraced and one traced run at ``--scale smoke`` and checks that

- every end-to-end (untraced) and per-layer (traced) metric is printed
  with its unit, and no operation failed (error rate 0);
- the traced run wrote spans for every layer the benchmark names;
- a directory holding only BENCHMARK.json and perfbench/ makes the
  benchmark exit non-zero without printing a result.

It prints the traced-minus-untraced difference of each end-to-end metric,
the tracing overhead as the traced run sees it.  Exits non-zero on the
first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

#: span names every traced run must record, one or more per layer
LAYER_SPANS = (
    "spark.session_start",
    "analyzer.tokenize_arrow",
    "docids.assign_doc_ids",
    "indexer.build_index",
    "indexer.stage_docs",
    "indexer.build_unit",
    "indexer.finalize",
    "codec.decode_block",
    "index_store.refresh",
    "wand.plan",
    "wand.exec",
    "wand.candidate_blocks",
    "wand.rehydrate",
    "ingest.batch",
    "ingest.finalize_stream",
    "compact.compact_index",
)


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "7"]
    cmd += ["--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.splitlines()


def _check(cond: bool, msg: str) -> None:
    if not cond:
        sys.exit(f"smoke: FAILED: {msg}")
    print(f"smoke: ok: {msg}")


def main() -> None:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        traced_e2e = None
        for trace, kind in ((1, "per_layer"), (0, "end_to_end")):
            code, out = _run(root, name, trace)
            _check(code == 0 and out, f"{name} trace={trace} exits 0 with output")
            result = json.loads(out[-1])
            _check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{name} result keys")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            _check(got == want, f"{name} trace={trace} prints every {kind} metric with its unit")
            _check(result["failed"] == 0 and result["correct"], f"{name} trace={trace} error rate 0")
            if trace:
                path = os.path.join(root, ".perfbench", "traces", f"{name}-seed7.json")
                with open(path) as f:
                    names = {s["name"] for s in json.load(f)}
                missing = [n for n in LAYER_SPANS if n not in names]
                _check(not missing, f"{name} traced run has spans for every layer (missing: {missing})")
                traced_e2e = json.loads(next(line for line in out if line.startswith("traced_end_to_end "))[18:])
            else:
                diff = {k: round(traced_e2e[k] - v["value"], 4) for k, v in result["metrics"].items()}
                print(f"smoke: {name} tracing overhead (traced - untraced): {json.dumps(diff)}")

    # without the program the benchmark must fail, not report
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".perfbench"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path))
        code, out = _run(bare, spec["workloads"][0]["name"], 0)
        _check(code != 0 and not out, "exits non-zero without a result when the program is absent")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
