#!/usr/bin/env python3
"""End-to-end benchmark of the tax compliance engine.

    python3 e2ebench/run.py --workload {tax_cli,catalog_heavy} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the first run builds the engine and the
harness with sbt (later runs reuse the build while its inputs are
unchanged). Every output is checked against an independent oracle. The
last stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics of BENCHMARK.json with tracing off, its
per-layer metrics with `--trace 1`. The line before it is the run record
(environment, inputs, sample counts, every failure with its error).
Exits 1 when any output is wrong or any operation failed.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from benchlib import catalog, proc, tax_cli  # noqa: E402

WORKLOADS = {"tax_cli": tax_cli.run, "catalog_heavy": catalog.run}


def not_exercised(workload, name):
    """Per-layer metrics of a layer the workload never calls read 0: the
    tax pipeline's layers in the catalog workloads, the catalog's query
    construction, its shared-lineage cache and its queries in tax_cli."""
    if workload == "tax_cli":
        return name == "catalog.build_s" or name.startswith(
            ("exec.op_", "cache.persist", "cache.mb", "cache.disk"))
    return name.startswith("tax.")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = proc.ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        raise SystemExit("BENCHMARK.json not found at the checkout root")
    bench = json.loads(spec_file.read_text())
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]

    t0 = time.perf_counter()
    launch = proc.build()
    t1 = time.perf_counter()
    proc.clear_scratch()
    t2 = time.perf_counter()
    metrics, layers, attempted, failures, record = WORKLOADS[a.workload](
        launch, a.seed, a.seconds, a.trace)
    if layers is not None:
        idle = [m["name"] for m in wanted
                if m["name"] not in layers and not_exercised(a.workload, m["name"])]
        layers.update({n: 0.0 for n in idle})
        record["not_exercised"] = idle
    values = layers if a.trace else metrics
    missing = [m["name"] for m in wanted if values is None or m["name"] not in values]
    if missing:
        failures.append({"op": "metrics", "pass": 0, "stage": "report",
                         "error": "MissingMetric", "message": ", ".join(missing)})
    # one failed operation per (op, pass), however many of its checks failed
    failed = len({(f["op"], f["pass"]) for f in failures})
    record.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": proc.cpus(), "heap": proc.heap(), **proc.versions(launch),
        "git_sha": git_sha(), "source_stamp": (proc.WORK / "build" / "stamp").read_text(),
        "harness_s": {"build": t1 - t0, "clear": t2 - t1, "total": time.perf_counter() - t0},
        "failed_frac": failed / attempted, "failures": failures,
        "end_to_end": metrics, "per_layer": layers,
    })
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] not in missing},
    }))
    sys.exit(0 if not failures else 1)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=proc.ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
