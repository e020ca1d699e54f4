"""Turns the driver's result file into the benchmark's metrics.

End-to-end metrics come from the untraced passes only. Per-layer metrics
come from the traced passes: the harness's own spans (run, setup, pass,
query, build, exec, Engine calls, kernel probes) plus the job and stage
spans Spark's listener reported, parented to the query through the job
group the harness set before each query.
"""
import statistics

NS = 1e9
MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    Children may overlap each other (concurrent jobs and stages) and may
    stick out of their parent (listener times have millisecond
    resolution); only the covered part inside the parent counts."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length([(max(c["start_ns"], lo), min(c["end_ns"], hi))
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = max(0, hi - lo - covered)
    return out


def listener_spans(spans, jobs, stages, next_id):
    """Job and stage spans parented into the harness's span tree.

    A job belongs to the query whose span name is its job group, and to
    that query's build or exec phase by start time: jobs that start while
    the query function is still building its DataFrame are eager
    materializations. Stages hang off their job."""
    by_query = {s["name"]: s for s in spans if s["kind"] == "query"}
    phases = {}
    for s in spans:
        if s["kind"] in ("build", "exec"):
            phases.setdefault(s["parent"], []).append(s)
    out, job_span = [], {}
    for j in sorted(jobs, key=lambda j: j["start_ns"]):
        q = by_query.get(j["group"])
        if q is None:
            continue
        parent, phase = q["id"], "exec"
        for p in phases.get(q["id"], []):
            if p["start_ns"] <= j["start_ns"] <= p["end_ns"] or (
                    p["kind"] == "build" and j["start_ns"] < p["end_ns"]):
                parent, phase = p["id"], p["kind"]
                break
        next_id += 1
        job_span[j["id"]] = next_id
        out.append({"id": next_id, "parent": parent, "kind": "job",
                    "name": f"{phase}:{j['id']}", "start_ns": j["start_ns"],
                    "end_ns": max(j["end_ns"], j["start_ns"]), "phase": phase,
                    "query": q["id"]})
    for st in stages:
        if st["job"] in job_span:
            next_id += 1
            out.append({"id": next_id, "parent": job_span[st["job"]], "kind": "stage",
                        "name": str(st["id"]), "start_ns": st["start_ns"],
                        "end_ns": max(st["end_ns"], st["start_ns"]), "stage": st})
    return out


def ancestors(spans):
    """{span id: set of ancestor ids}."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        seen, p = set(), parent[sid]
        while p in parent and p not in seen:
            seen.add(p)
            p = parent[p]
        out[sid] = seen
    return out


# --------------------------------------------------------------- passes

def pass_seconds(p):
    return sum(q["total_ns"] for q in p["queries"]) / NS


def pass_ok(p):
    return all(q["ok"] for q in p["queries"])


def median_pass(passes):
    """Seconds of the median pass, as graft.Bench totals it: each query's
    median over the passes, summed over the queries; None without a pass."""
    if not passes:
        return None
    times = {}
    for p in passes:
        for q in p["queries"]:
            times.setdefault(q["name"], []).append(q["total_ns"])
    return sum(median(ts) for ts in times.values()) / NS


def end_to_end(result, verdicts):
    """The end-to-end metrics' values, the (attempted, failed) counts and
    the number of pass_s samples.

    A pass in which any query failed is not a pass_s sample, so a query
    that fails fast cannot make the workload look faster; its failures
    count against ok_ratio instead. Without a single clean pass pass_s is
    None, never a time. A query whose checked output is wrong (cold or
    warm) counts as failed on every execution."""
    timed = [p for p in result["passes"] if p["kind"] == "pass"]
    wrong = {n for n, v in verdicts.items() if not v["ok"]}
    attempted = sum(len(p["queries"]) for p in result["passes"])
    failed = sum(1 for p in result["passes"] for q in p["queries"]
                 if not q["ok"] or q["name"] in wrong)
    good = [p for p in timed if pass_ok(p)]
    setups = [s["setup_ns"] / NS for s in result["setups"]]
    metrics = {
        "setup_s": median(setups),
        "pass_s": median_pass(good),
        "heap_live_peak_mb": max((p["heap_live_mb"] for p in timed), default=0.0),
        "ok_ratio": 1.0 - failed / attempted if attempted else 0.0,
    }
    return metrics, attempted, failed, len(good)


def _sum(xs):
    return float(sum(xs))


def per_layer(result, input_bytes):
    """Per-layer metrics from the traced passes of a traced run."""
    passes = result["passes"]
    traced = [p for p in passes if p["kind"] == "traced_pass"]
    untraced = [p for p in passes if p["kind"] == "pass"]
    tr = result.get("trace") or {}
    spans = result["spans"]
    next_id = max((s["id"] for s in spans), default=0)
    spans = spans + listener_spans(spans, tr.get("jobs", []), tr.get("stages", []), next_id)
    selfs = self_times(spans)
    anc = ancestors(spans)
    cores = result["config"]["cores"]
    execs = {}
    for e in tr.get("executions", []):
        execs.setdefault(e["query"], []).append(e)

    pass_spans = [s for s in spans if s["kind"] == "traced_pass"]
    rows = []
    for p, ps in zip(traced, pass_spans):
        inside = [s for s in spans if ps["id"] in anc[s["id"]]]
        jobs = [s for s in inside if s["kind"] == "job"]
        stg = [s["stage"] for s in inside if s["kind"] == "stage"]
        build_jobs = {s["id"] for s in jobs if s["phase"] == "build"}
        build_stg = [s["stage"] for s in inside
                     if s["kind"] == "stage" and s["parent"] in build_jobs]
        # the query's last execution is its noop write; earlier ones are
        # actions its build ran
        writes = [execs[q["group"]][-1] for q in p["queries"] if execs.get(q["group"])]
        secs = pass_seconds(p)
        plan_s = _sum(w["plan_ms"] for w in writes) / 1e3
        build_s = _sum(q["build_ns"] for q in p["queries"]) / NS
        exec_s = _sum(q["exec_ns"] for q in p["queries"]) / NS - plan_s
        mr = {k: _sum(selfs[s["id"]] for s in inside if s["kind"] == k) / NS
              for k in ("mr.chunk", "mr.map", "mr.reduce")}
        row = {
            "traced_pass_s": secs,
            "build_s": build_s, "plan_s": plan_s, "exec_s": exec_s,
            "build_jobs": float(len(build_jobs)),
            "build_task_s": _sum(s["run_ms"] for s in build_stg) / 1e3,
            "plan_exchanges": _sum(w["exchanges"] for w in writes),
            "plan_scans": _sum(w["scans"] for w in writes),
            "jobs": float(len(jobs)), "stages": float(len(stg)),
            "tasks": _sum(s["tasks"] for s in stg),
            "task_run_s": _sum(s["run_ms"] for s in stg) / 1e3,
            "task_cpu_s": _sum(s["cpu_ns"] for s in stg) / NS,
            "task_gc_s": _sum(s["gc_ms"] for s in stg) / 1e3,
            "core_busy_ratio": _sum(s["task_wall_ms"] for s in stg) / 1e3 / (cores * secs),
            "failed_tasks": _sum(s["failed_tasks"] for s in stg),
            "scan_input_mb": _sum(s["input_bytes"] for s in stg) / MB,
            "scan_input_rows": _sum(s["input_rows"] for s in stg),
            "scan.floor_fired": _sum(w["floor_repartitions"] for w in writes),
            "shuffle_write_mb": _sum(s["shuffle_write_bytes"] for s in stg) / MB,
            "shuffle_read_mb": _sum(s["shuffle_read_bytes"] for s in stg) / MB,
            "shuffle_fetch_wait_s": _sum(s["fetch_wait_ms"] for s in stg) / 1e3,
            "spill_mem_mb": _sum(s["spill_mem_bytes"] for s in stg) / MB,
            "spill_disk_mb": _sum(s["spill_disk_bytes"] for s in stg) / MB,
            "peak_exec_mem_mb": max((s["peak_exec_mem_bytes"] for s in stg), default=0) / MB,
            "cached_relations_after_query": float(max(q["cached_relations"] for q in p["queries"])),
            "storage_mb_after_query": max(q["storage_bytes"] for q in p["queries"]) / MB,
            "codegen_compiles": float(p["codegen_compiles"]),
            "codegen_compile_s": p["codegen_ms"] / 1e3,
            "jvm_gc_s": p["gc_ms"] / 1e3,
            "mr.chunk_s": mr["mr.chunk"], "mr.map_s": mr["mr.map"],
            "mr.reduce_s": mr["mr.reduce"],
            "self.build_s": _sum(selfs[s["id"]] for s in inside if s["kind"] == "build") / NS,
            "self.exec_s": _sum(selfs[s["id"]] for s in inside if s["kind"] == "exec") / NS,
            "self.job_s": _sum(selfs[s["id"]] for s in jobs) / NS,
            "self.stage_s": _sum(selfs[s["id"]] for s in inside if s["kind"] == "stage") / NS,
        }
        rows.append(row)

    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    first = result["setups"][0]
    out["session_init_s"] = median([s["session_init_ns"] / NS for s in result["setups"]])
    out["setup_first_s"] = first["setup_ns"] / NS
    out["setup_codegen_compiles"] = float(first["pass"]["codegen_compiles"])
    out["setup_codegen_compile_s"] = first["pass"]["codegen_ms"] / 1e3
    # what the last set-up wrote: each set-up publishes for its own snapshot
    arts = [{"files": 0, "bytes": 0}] + [s["artifacts"] for s in result["setups"]]
    art = {k: arts[-1][k] - arts[-2][k] for k in ("files", "bytes")}
    out["artifact_mb"] = art["bytes"] / MB
    out["artifact_files"] = float(art["files"])
    out["artifact_write_amp"] = art["bytes"] / input_bytes if input_bytes else 0.0
    probes = result.get("probes") or {}
    for fn, v in sorted((probes.get("kernels") or {}).items()):
        out[f"kernel.{fn}.ns_per_row"] = v
    out["mr.chunk_skew"] = float(probes.get("chunk_skew", 0.0))
    clean = [median_pass([p for p in ps if pass_ok(p)]) for ps in (traced, untraced)]
    out["trace_overhead_s"] = None if None in clean else clean[0] - clean[1]
    return out
