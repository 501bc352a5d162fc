"""Per-layer numbers from a traced run's spans.

The runner records a span for the setup steps, each pass, each gate and
each call into the program (construct, plan, exec), and one per Spark job,
whose parent is the call that started it.  A span's self time is its
duration minus the part of it that its children cover.  Everything except
the setup steps is averaged over the traced half of the timed passes:
counts of jobs, stages and tasks per pass, all else per query.
"""
import json
from collections import defaultdict

CALLS = ("construct", "plan", "exec")
JOB_SUMS = ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_rows",
            "output_mb")


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def attribute_jobs(spans):
    """Points each job at the call span that started it.  A job whose
    recorded span does not enclose its start (a thread that inherited a
    stale property) goes to the call span running at that moment."""
    by_id = {s["id"]: s for s in spans}
    calls = [s for s in spans if s["kind"] in CALLS]
    for j in (s for s in spans if s["kind"] == "job"):
        p = by_id.get(j["parent"])
        if p is None or p["kind"] not in CALLS or \
                not p["start"] - 0.002 <= j["start"] <= p["end"] + 0.002:
            hit = [c for c in calls if c["start"] <= j["start"] <= c["end"]]
            j["parent"] = min(hit, key=lambda c: c["end"] - c["start"])["id"] if hit else 0


def per_layer(res, spans_text, out_path, result_rows):
    spans = [json.loads(line) for line in spans_text.splitlines() if line]
    for s in spans:
        s["id"], s["parent"] = str(s["id"]), str(s["parent"])
    attribute_jobs(spans)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"] - covered(
            [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"])

    # fold each gate's calls and jobs onto its gate span, for ranking gates
    gates = [s for s in spans if s["kind"] == "gate"]
    for g in gates:
        calls = {c["kind"]: c for c in children[g["id"]]}
        jobs = [j for c in calls.values() for j in children[c["id"]]]
        g["jobs"] = len(jobs)
        g["construct_jobs"] = len(children[calls["construct"]["id"]]) if "construct" in calls else 0
        g["construct_self_s"] = calls["construct"]["self"] if "construct" in calls else 0.0
        g["plan_s"] = calls["plan"]["self"] if "plan" in calls else 0.0
        g["exec_s"] = calls["exec"]["dur"] if "exec" in calls else 0.0
        g["driver_gap_s"] = calls["exec"]["self"] if "exec" in calls else 0.0
        for k in JOB_SUMS:
            g[k] = sum(j[k] for j in jobs)
        g["peak_exec_mem_mb"] = max((j["peak_exec_mem_mb"] for j in jobs), default=0.0)
        g["result_rows"] = result_rows.get(g["name"], 0)

    out_path.parent.mkdir(parents=True, exist_ok=True)
    with open(out_path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    ops_path = out_path.with_suffix(".ops.json")
    ops_path.write_text(json.dumps(res["ops"], indent=0))

    n_q = max(1, len(gates))
    n_pass = max(1, sum(1 for s in spans if s["kind"] == "pass"))

    def per_query(key):
        return sum(g[key] for g in gates) / n_q

    def op_total(node_part, metric_part):
        return sum(o["value"] for o in res["ops"]
                   if node_part in o["node"] and o["metric"].startswith(metric_part)) / n_q

    # fastest traced over fastest untraced execution of each gate, so that
    # neither the JIT's warm-up trend nor one slow pass reads as overhead
    walls = {True: defaultdict(list), False: defaultdict(list)}
    for q in res["timed"]:
        walls[q["traced"]][q["gate"]].append(q["wall_s"])
    both = [g for g in walls[False] if g in walls[True]]
    overhead = sum(min(walls[True][g]) for g in both) / \
        sum(min(walls[False][g]) for g in both) - 1 if both else 0.0
    rows_in = sum(g["input_rows"] for g in gates)
    rows_out = sum(g["result_rows"] for g in gates)
    m = {
        "graft.session_s": (res["session_s"], "s"),
        "graft.register_s": (res["register_s"], "s"),
        "queries.construct_s": (per_query("construct_self_s"), "s"),
        "queries.construct_jobs": (per_query("construct_jobs"), "count"),
        "plans.plan_s": (per_query("plan_s"), "s"),
        "spark.jobs": (sum(g["jobs"] for g in gates) / n_pass, "count"),
        "spark.stages": (sum(g["stages"] for g in gates) / n_pass, "count"),
        "spark.tasks": (sum(g["tasks"] for g in gates) / n_pass, "count"),
        "spark.jobs_per_query": (per_query("jobs"), "count"),
        "spark.driver_gap_s": (per_query("driver_gap_s"), "s"),
        "spark.task_run_s": (per_query("task_run_s"), "s"),
        "spark.task_cpu_s": (per_query("task_cpu_s"), "s"),
        "spark.gc_s": (per_query("gc_s"), "s"),
        "spark.peak_exec_mem_mb": (max((g["peak_exec_mem_mb"] for g in gates), default=0.0), "MB"),
        "spark.shuffle_write_mb": (per_query("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (per_query("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (per_query("spill_mb"), "MB"),
        "spark.input_rows": (per_query("input_rows"), "count"),
        "spark.output_mb": (per_query("output_mb"), "MB"),
        "spark.input_rows_per_result_row": (rows_in / max(1, rows_out), "ratio"),
        "ops.aggregate_s": (op_total("Aggregate", "aggTime"), "s"),
        "ops.scan_s": (op_total("Scan", "scanTime"), "s"),
        "trace.overhead_frac": (overhead, "frac"),
    }
    return m
