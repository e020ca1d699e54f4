#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from the checkout's sources (once per
source change), generates the workload's inputs from the seed (reused for
the same seed), runs the harness in a working directory the benchmark owns
and empties at the start of every run, checks every query's output, and
prints one JSON line last: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics untraced, the per-layer metrics traced). A
self-describing record of the run goes to perfbench/.work/records/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import asdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import build, checks, gen, metrics  # noqa: E402
from bench.workloads import WORKLOADS  # noqa: E402

SETUPS = 2
JVM_TIMEOUT_S = 170


def units():
    """{metric: unit} as BENCHMARK.json declares them."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(correct, attempted, failed, values, unit):
    """The benchmark's last stdout line, or None when a metric has no value
    (no clean pass to time): such a run prints no result."""
    if any(v is None for v in values.values()):
        return None
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": unit[k]} for k, v in values.items()}})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def inputs_for(name, wl, seed):
    out = build.WORK / "inputs" / f"{name}-seed{seed}-v{gen.VERSION}"
    done = out / "_DONE"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        gen.generate(str(out), seed, wl.docs, wl.vectors, copies=wl.copies, primes=wl.primes)
        done.write_text("ok\n")
        log(f"generated {out.name} in {time.time() - t0:.1f}s")
    return out


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    unit = units()
    build.WORK.mkdir(parents=True, exist_ok=True)

    try:
        build.ensure_built(build.WORK / "build.log")
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 2

    input_dir = inputs_for(args.workload, wl, args.seed)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = fresh_dir(build.WORK / "run" / tag)
    check_dir = fresh_dir(build.WORK / "checks" / tag)
    spark_tmp = fresh_dir(build.WORK / "tmp" / tag)
    out_file = build.WORK / "results" / f"{tag}.json"
    out_file.parent.mkdir(parents=True, exist_ok=True)
    out_file.unlink(missing_ok=True)

    # one copy of the corpus per set-up: a new snapshot path is a new corpus
    # to the engine, so each set-up pays for its artifacts
    snaps = fresh_dir(build.WORK / "snapshots" / tag)
    for i in range(SETUPS):
        shutil.copytree(input_dir, snaps / f"snap{i}", ignore=shutil.ignore_patterns("_DONE"))
    cmd = build.java_command("perfbench.Driver", [
        "--inputs", ",".join(str(snaps / f"snap{i}") for i in range(SETUPS)),
        "--out", str(out_file),
        "--check-dir", str(check_dir), "--queries", ",".join(wl.queries),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--chunk-seed", str(args.seed)], spark_tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(spark_tmp))
    jvm_log = build.WORK / "results" / f"{tag}.log"
    t_jvm = time.time()
    with open(jvm_log, "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=logf,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"harness timed out after {JVM_TIMEOUT_S}s; see {jvm_log}")
            return 3
    if r.returncode != 0 or not out_file.exists():
        log(f"harness exited {r.returncode}; see {jvm_log}")
        return 3
    result = json.loads(out_file.read_text())
    log(f"harness ran {time.time() - t_jvm:.1f}s")
    shutil.rmtree(snaps)
    shutil.rmtree(spark_tmp)

    verdicts = checks.check_outputs(
        str(input_dir), str(check_dir), list(wl.queries), result["oracle_sql"],
        {"cold": result["setups"][-1]["pass"]["queries"],
         "warm": result["check_pass"]["queries"]})
    for name, v in verdicts.items():
        if not v["ok"]:
            log(f"check failed ({v['output']} output): {name}: "
                f"{v['error_class']}: {v['error']}")
    for p in result["passes"]:
        for q in p["queries"]:
            if not q["ok"]:
                log(f"query failed in a {p['kind']}: {q['name']}: "
                    f"{q['error_class']}: {q['error']}")

    e2e, attempted, failed, samples = metrics.end_to_end(result, verdicts)
    stats = gen.table_stats(str(input_dir))
    input_bytes = sum(t["bytes"] for t in stats.values())
    printed = metrics.per_layer(result, input_bytes) if args.trace else e2e

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(), "source_hash": build.source_hash(),
        "workload_spec": asdict(wl),
        "setups": SETUPS, "pass_samples": samples,
        "config": result["config"],
        "env_overrides": {k: v for k, v in os.environ.items()
                          if k.startswith(("SPARK_", "PERFBENCH_", "SBT_"))},
        "input_dir": str(input_dir.relative_to(build.ROOT)), "input_tables": stats,
        "storage_memory_mb": result["config"]["storage_memory_mb"],
        "peak_cached_mb": max((q["storage_bytes"] for p in result["passes"]
                               for q in p["queries"]), default=0) / metrics.MB,
        "checks": verdicts, "end_to_end": e2e,
        "metrics": printed,
    }
    rec_dir = build.WORK / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{tag}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        trace = {k: result.get(k) for k in ("spans", "trace", "probes")}
        (rec_dir / f"{tag}.trace.json").write_text(json.dumps(trace))

    correct = failed == 0 and all(v["ok"] for v in verdicts.values())
    log(f"{args.workload}: {samples} pass samples, correct={correct}")
    line = result_line(correct, attempted, failed, printed, unit)
    if line is None:
        log("no pass without a failed query to time; no result")
        return 4
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
