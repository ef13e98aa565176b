"""Metrics from the JVM's records (one JSON object per line).

End-to-end metrics come from operations and passes; per-layer metrics
from the traced run's spans, jobs, stages, tasks, Catalyst phases and
streaming progress. Unless stated otherwise a per-layer number is the
mean per warm operation; the cold pass is excluded from both."""

import json

from . import stats

# query-name prefixes of the engine's query families
FAMILIES = {
    "ext": ("pipe_", "text_", "emb_", "dedup_", "corpus_", "sim_", "doc_", "feat_"),
    "analytics": ("a1_", "a2_", "a3_", "a4_", "a5_"),
    "multimodal": ("mm_",),
    "sync": ("y_", "y1_", "y2_", "y3_", "y4_", "y5_", "y6_", "y7_"),
    "sql": ("q_", "q1_", "q2_", "q3_", "q4_", "q5_", "q6_", "q7_", "q8_", "q9_"),
}

STREAM_PHASES = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}


def family(name):
    for fam, prefixes in FAMILIES.items():
        if name.startswith(prefixes) and not (fam == "sql" and name.startswith("q_stream_")):
            return fam
    return None


def load(path):
    """The records, with every asynchronous record (jobs, stages, tasks,
    phases, batches) tagged with the operation it was delivered in."""
    recs, current = [], None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["k"] == "op_start":
                current = r["op"]
                continue
            if r["k"] == "op":
                current = None
            elif r["k"] in ("job", "job_end", "stage", "task", "qe", "batch"):
                r["in_op"] = current
            recs.append(r)
    return recs


class Run:
    """One run's records, indexed."""

    def __init__(self, recs):
        self.recs = recs
        self.meta = next(r for r in recs if r["k"] == "meta")
        self.ops = [r for r in recs if r["k"] == "op"]
        self.setup = {r["phase"]: r["ms"] for r in recs if r["k"] == "setup"}
        self.setup_done = next(r for r in recs if r["k"] == "setup_done")
        self.end = next(r for r in recs if r["k"] == "end")
        self.batches = [r for r in recs if r["k"] == "batch"]
        self.spans = [r for r in recs if r["k"] == "span"]

    def warm(self):
        return [o for o in self.ops if o["phase"] == "warm"]

    def cold(self):
        return [o for o in self.ops if o["phase"] == "cold"]

    def passes(self):
        out = {}
        for o in self.warm():
            out.setdefault(o["pass"], []).append(o)
        return [out[k] for k in sorted(out)]

    def op_batches(self, ops):
        ids = {o["op"] for o in ops}
        return [b for b in self.batches if b["in_op"] in ids]

    @staticmethod
    def latencies(ops):
        """Per-operation latency in ms."""
        return [o["t1"] - o["t0"] for o in ops]


def end_to_end(run):
    """The end-to-end metrics of one untraced run, and the wall-clock
    and JIT figures the report prints next to them.

    Apart from set-up, the metrics are process CPU times: on a shared host
    whose CPUs are taken away for minutes at a time, the wall time of the
    same run moved by up to 2x while its CPU time moved by a tenth. The
    typical warm operation is a geometric mean, not a median: a run has 2
    sensor pipelines or 18 query executions, and a median over that few
    jumps between the clusters of the query panel. The cold pass is a
    sum: the seeded order decides which query pays each first-time cost
    the queries share, and the sum does not depend on it."""
    passes, warm, cold = run.passes(), run.warm(), run.cold()

    def cpu_ms(ops):
        return [o["cpu_ns"] / 1e6 for o in ops]
    metrics = {
        "setup_s": run.setup_done["uptime_ms"] / 1000.0,
        "cpu_s": stats.median([sum(cpu_ms(p)) for p in passes]) / 1000.0,
        "op_cpu_ms": stats.gmean(cpu_ms(warm)),
        "cold_cpu_s": sum(cpu_ms(cold)) / 1000.0,
        "peak_rss_mb": run.end["peak_rss_kb"] / 1024.0,
    }
    wall = {
        "jit_s": stats.median([sum(o["jit_ms"] for o in p) for p in passes]) / 1000.0,
        "wall_s": stats.median([sum(run.latencies(p)) for p in passes]) / 1000.0,
        "op_wall_ms": stats.gmean(run.latencies(warm)),
        "cold_wall_s": sum(run.latencies(cold)) / 1000.0,
    }
    return metrics, wall


def added_by_trace(run):
    """The spans of work only the traced run does: the noop writes
    (`*.materialize`) that time the sensor pipeline's lazy frames."""
    return [s for s in run.spans if s["name"].endswith(".materialize")]


def codegen(ops, extra):
    """(compiles, compile ms, operations whose compile time is unknown)
    over `ops`, leaving out the compiles inside the `extra` spans. The
    time is unknown once the process has compiled more than the engine's
    timing histogram keeps (the records carry null)."""
    n = ms = unknown = 0
    for o in ops:
        ex = [s for s in extra if s["op"] == o["op"]]
        n += o["codegen_n"] - sum(s["codegen_n"] for s in ex)
        if o["codegen_ms"] is None or any(s["codegen_ms"] is None for s in ex):
            unknown += 1
        else:
            ms += o["codegen_ms"] - sum(s["codegen_ms"] for s in ex)
    return n, ms, unknown


def per_layer(run, scratch_left_bytes):
    """The per-layer metrics of one traced run.

    The jobs, stages, tasks, Catalyst phases, compiles and time of the
    traced run's own noop writes (`added_by_trace`) count only in the
    `*.materialize_ms` metrics; every other figure is the program's work
    alone."""
    warm = run.warm()
    warm_ids = {o["op"] for o in warm}
    n_ops = max(len(warm), 1)
    spans = [s for s in run.spans if s["op"] in warm_ids]
    span_name = {s["id"]: s["name"] for s in run.spans}
    extra = added_by_trace(run)
    extra_ids = {s["id"] for s in extra}

    def extra_ms(o):
        return sum(s["t1"] - s["t0"] for s in extra if s["op"] == o["op"])

    def in_extra(q):
        return q["t0"] is not None and any(
            s["op"] == q["in_op"] and s["t0"] <= q["t0"] <= s["t1"] for s in extra)
    stage_of = {}
    for r in run.recs:
        if r["k"] == "stage" and r["op"] in warm_ids and r["span"] not in extra_ids:
            stage_of[r["stage"]] = r
    jobs = [r for r in run.recs
            if r["k"] == "job" and r["op"] in warm_ids and r["span"] not in extra_ids]
    job_end = {r["job"]: r["t1"] for r in run.recs if r["k"] == "job_end"}
    tasks = [r for r in run.recs if r["k"] == "task" and r["stage"] in stage_of]
    qes = [r for r in run.recs
           if r["k"] == "qe" and r["in_op"] in warm_ids and not in_extra(r)]

    def module(span_id, prefix):
        return span_id is not None and span_name.get(span_id, "").startswith(prefix)

    def span_ms(name):
        return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name) / n_ops

    def jobs_in(prefix):
        return sum(1 for j in jobs if module(j["span"], prefix)) / n_ops

    def task_sum(key, prefix=None):
        return sum(t[key] for t in tasks
                   if prefix is None or module(stage_of[t["stage"]]["span"], prefix)) / n_ops

    m = {
        "sources.records_read": task_sum("in_rec"),
        "sources.bytes_read": task_sum("in_bytes"),
        "clean.call_ms": span_ms("clean.call"),
        "clean.jobs": jobs_in("clean.call"),
        "clean.materialize_ms": span_ms("clean.materialize"),
        "sync.call_ms": span_ms("sync.call"),
        "sync.jobs": jobs_in("sync.call"),
        "sync.materialize_ms": span_ms("sync.materialize"),
        "sync.shuffle_write_bytes": task_sum("sh_w", "sync.call"),
        "sync.spill_bytes": task_sum("spill", "sync.call"),
        "io.export_ms": span_ms("io.export"),
        "io.records_written": task_sum("out_rec", "io.export"),
        "io.bytes_written": task_sum("out_bytes", "io.export"),
        "io.scratch_left_bytes": scratch_left_bytes,
        "queries.build_ms": span_ms("queries.build"),
        "queries.build_jobs": jobs_in("queries.build"),
        "queries.exec_ms": span_ms("queries.exec"),
        "queries.exec_jobs": jobs_in("queries.exec"),
    }
    # summed warm latency per query family, per pass
    n_pass = max(len(run.passes()), 1)
    for fam in FAMILIES:
        m[fam + ".query_ms"] = sum(o["t1"] - o["t0"] for o in warm
                                   if family(o["name"]) == fam) / n_pass
    # driver: counts, Catalyst phases of the executed plans, and the time
    # inside an operation when no job runs
    gaps = []
    for o in warm:
        iv = [(j["t0"], job_end.get(j["job"], o["t1"])) for j in jobs if j["op"] == o["op"]]
        gaps.append((o["t1"] - o["t0"]) - extra_ms(o)
                    - stats.union_length(stats.clipped(iv, o["t0"], o["t1"])))
    cg_n, cg_ms, cg_unknown = codegen(warm, extra)
    cold_n, cold_ms, _ = codegen(run.cold(), extra)
    m.update({
        "driver.jobs": len(jobs) / n_ops,
        "driver.stages": len(stage_of) / n_ops,
        "driver.tasks": len(tasks) / n_ops,
        "driver.analysis_ms": sum(q["analysis_ms"] for q in qes) / n_ops,
        "driver.optimization_ms": sum(q["optimization_ms"] for q in qes) / n_ops,
        "driver.planning_ms": sum(q["planning_ms"] for q in qes) / n_ops,
        "driver.job_gap_ms": stats.mean(gaps),
        "driver.codegen_compiles": cg_n / n_ops,
        "driver.codegen_ms": cg_ms / max(len(warm) - cg_unknown, 1),
        "driver.cold_codegen_compiles": cold_n,
        "driver.cold_codegen_ms": cold_ms,
    })
    # executor: task metrics, busy share of the cores, and skew of each
    # operation's longest stage (max over median task time)
    wall = sum(o["t1"] - o["t0"] - extra_ms(o) for o in warm)
    skews = []
    for o in warm:
        by_stage = {}
        for t in tasks:
            if stage_of[t["stage"]]["op"] == o["op"]:
                by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
        if by_stage:
            durs = max(by_stage.values(), key=sum)
            med = stats.median(durs)
            skews.append(max(durs) / med if med > 0 else 1.0)
    m.update({
        "executor.run_ms": task_sum("run_ms"),
        "executor.cpu_ms": task_sum("cpu_ns") / 1e6,
        "executor.gc_ms": task_sum("gc_ms"),
        "executor.shuffle_read_bytes": task_sum("sh_r"),
        "executor.shuffle_write_bytes": task_sum("sh_w"),
        "executor.spill_bytes": task_sum("spill"),
        "executor.peak_exec_mem_bytes": max([t["peak_mem"] for t in tasks], default=0),
        "executor.busy_ratio": (sum(t["run_ms"] for t in tasks) / (wall * run.meta["cores"])
                                if wall > 0 else 0.0),
        "executor.task_skew": stats.median(skews),
        "jvm.jit_ms": sum(o["jit_ms"] for o in warm) / n_ops,
    })
    # streaming: per warm pass for counts, per micro-batch for times/state
    batches = run.op_batches(warm)
    nb = max(len(batches), 1)
    trigger_s = sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1000.0
    m["streaming.batches"] = len(batches) / n_pass
    m["streaming.input_rows"] = sum(b["rows"] for b in batches) / n_pass
    m["streaming.rows_per_s"] = (sum(b["rows"] for b in batches) / trigger_s
                                 if trigger_s > 0 else 0.0)
    for name, key in STREAM_PHASES.items():
        m["streaming." + name] = sum(b["ms"].get(key, 0) for b in batches) / nb
    for key in ("state_commit_ms", "state_rows", "state_mem_bytes"):
        m["streaming." + key] = sum(b[key] for b in batches) / nb
    for phase in ("session", "stage_inputs", "warmup", "warmup_query"):
        m["setup.%s_ms" % phase] = run.setup.get(phase, 0.0)
    m["cache.entries_left"] = sum(o["cache_left"] for o in run.ops)
    return m


def span_rows(run):
    """Every span with its self time, for the span file."""
    selfs = stats.self_times(run.spans)
    return [{"op": s["op"], "id": s["id"], "parent": s["parent"], "name": s["name"],
             "t0": s["t0"], "t1": s["t1"], "dur_ms": s["t1"] - s["t0"],
             "self_ms": selfs[s["id"]]} for s in run.spans]
