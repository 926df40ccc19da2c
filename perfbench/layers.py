"""Per-layer metrics of a traced run, and the stream's progress arithmetic
shared with the end-to-end metrics.

Spans come from perfbench.Tracer (spans.jsonl): eager calls into a layer,
mix queries and live micro-batches, each with the Spark counters of the
jobs it started. A span's counters hold only the work tagged with its own
id, so a layer's figures are sums over its subtree.
"""
import glob
import json
import os

import stats

PHASES = ("low", "high")
STREAM_DURATIONS = {  # metric suffix -> progress durationMs keys
    "trigger_ms_p50": ("triggerExecution",),
    "plan_ms_p50": ("queryPlanning",),
    "get_batch_ms_p50": ("latestOffset", "getBatch"),
    "add_batch_ms_p50": ("addBatch",),
    "commit_ms_p50": ("walCommit", "commitOffsets"),
}


def file_batches(run):
    """{file name: micro-batch id} from the stream's checkpointed source
    log, which records the files each batch read."""
    out = {}
    for path in glob.glob(f"{run}/checkpoint/sources/0/*"):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def stream_view(res):
    """Per-phase latencies, batch durations, busy time, capacity and the
    backlog verdict of a stream_score run."""
    commit = {p["batch"]: p["start_ms"] + p["durations"].get("triggerExecution", 0)
              for p in res["progress"]}
    fb = res["file_batch"]
    files = res["generator"]
    batch_phase = {}
    for f in files:  # a batch belongs to the phase of its latest file
        b = fb.get(f["file"])
        if b is not None:
            batch_phase[b] = f["phase"]
    v = {"lat": {}, "trigger_ms": {}, "rows": {}, "batches": {},
         "durations": {}, "backlog_max": {}, "late_ms": [], "flat": True,
         "lag_slope": 0.0}
    for ph in PHASES:
        fs = [f for f in files if f["phase"] == ph and fb.get(f["file"]) in commit]
        due = [f["due_ms"] for f in fs]
        done = [commit[fb[f["file"]]] for f in fs]
        v["lat"][ph] = stats.due_latencies(due, done)
        prog = [p for p in res["progress"] if batch_phase.get(p["batch"]) == ph]
        v["batches"][ph] = [p["batch"] for p in prog]
        v["trigger_ms"][ph] = [p["durations"].get("triggerExecution", 0) for p in prog]
        v["rows"][ph] = [p["rows"] for p in prog]
        v["durations"][ph] = {
            k: [sum(p["durations"].get(x, 0) for x in keys) for p in prog]
            for k, keys in STREAM_DURATIONS.items()}
        series = stats.backlog_series(due, done)
        v["backlog_max"][ph] = max([b for _, b in series] or [0])
    hi = [f for f in files if f["phase"] == "high"]
    if hi:
        due = [f["due_ms"] for f in hi]
        done = [commit.get(fb.get(f["file"]), float("inf")) for f in hi]
        v["flat"] = stats.backlog_flat(due, done)
        seen = [(d, c) for d, c in zip(due, done) if c != float("inf")]
        v["lag_slope"] = stats.lag_slope([d for d, _ in seen], [c for _, c in seen])
    v["late_ms"] = stats.lateness([f["due_ms"] for f in files],
                                  [f["moved_ms"] for f in files])
    busy = sum(v["trigger_ms"]["high"]) / 1000
    v["capacity"] = sum(v["rows"]["high"]) / busy if busy > 0 else 0.0
    return v


def _load_spans(run):
    path = f"{run}/spans.jsonl"
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


class Spans:
    def __init__(self, spans, first_op_ms):
        self.all = [s for s in spans if s["id"] != "unattributed"]
        self.by_id = {s["id"]: s for s in self.all}
        self.kids = {}
        for s in self.all:
            self.kids.setdefault(s["parent"], []).append(s)
        self.first_op_ms = first_op_ms

    def in_timed_region(self, s):
        while s is not None:
            if s["name"] in ("pipeline.iteration", "streaming.batch") or \
                    s["name"].startswith("mix."):
                return s["start_ms"] >= self.first_op_ms
            s = self.by_id.get(s["parent"])
        return False

    def timed(self):
        return [s for s in self.all if self.in_timed_region(s)]

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids.get(x["id"], []))
        return out

    def total(self, spans, key):
        return sum(s.get(key, 0) for s in spans)

    def inclusive(self, s, key):
        return self.total(self.subtree(s), key)

    def named(self, name):
        return [s for s in self.timed() if s["name"] == name]


def _median0(xs):
    return stats.median(xs) if xs else 0.0


def per_layer(workload, res, run, gen_s, attempted, failed, e2e, history,
              mix_queries):
    """{metric: (value, unit)} for every per-layer name; a layer the
    workload does not run reads 0."""
    sp = Spans(_load_spans(run), res["first_op_ms"])
    timed = sp.timed()
    m = {}
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000  # noqa: E731

    m["setup.session_s"] = (res["session_s"], "s")
    m["setup.generate_s"] = (gen_s, "s")
    m["setup.warmup_s"] = (res.get("warmup_s", 0.0), "s")
    m["setup.model_fit_s"] = (res.get("model_fit_s", 0.0), "s")

    m["sources.scan_s"] = (sp.total(timed, "scan_ms") / 1000, "s")
    m["sources.scan_bytes"] = (sp.total(timed, "scan_bytes"), "bytes")
    m["sources.files_read"] = (sp.total(timed, "files_read"), "count")
    writes = sp.named("sources.write") + sp.named("ml.save")
    m["sources.write_s"] = (sum(dur(s) for s in writes), "s")
    m["sources.write_bytes"] = (sp.total(timed, "output_bytes"), "bytes")

    def step(name, key, scale=1.0):
        return _median0([sp.inclusive(s, key) / scale for s in sp.named(name)])

    for st in ("preprocess", "eda"):
        name = f"pipeline.{st}"
        m[f"{name}_s"] = (_median0([dur(s) for s in sp.named(name)]), "s")
        m[f"{name}_cpu_s"] = (step(name, "cpu_ns", 1e9), "s")
        m[f"{name}_tasks"] = (step(name, "tasks"), "count")
        m[f"{name}_shuffle_bytes"] = (step(name, "shuffle_write_bytes"), "bytes")
    for st in ("compare", "train", "save", "load", "score"):
        m[f"ml.{st}_s"] = (_median0([dur(s) for s in sp.named(f"ml.{st}")]), "s")
    m["ml.compare_cpu_s"] = (step("ml.compare", "cpu_ns", 1e9), "s")
    m["ml.compare_jobs"] = (step("ml.compare", "jobs"), "count")
    m["ml.train_jobs"] = (step("ml.train", "jobs"), "count")
    iters = sp.named("pipeline.iteration")
    m["ml.cache_bytes"] = (_median0([
        sum(sp.inclusive(s, "block_bytes") for s in sp.subtree(it)
            if s["name"] in ("ml.compare", "ml.train"))
        for it in iters]), "bytes")

    if workload == "stream_score":
        v = stream_view(res)
        batch_cpu = {s["id"]: s.get("cpu_ns", 0) for s in sp.named("streaming.batch")}
    for ph in PHASES:
        pre = f"streaming.{ph}"
        if workload != "stream_score":
            for k in ("batches", "rows_per_batch_p50", *STREAM_DURATIONS,
                      "backlog_files_max", "cpu_s", "p50_ms", "tail_ms"):
                m[f"{pre}.{k}"] = (0, _unit(k))
            continue
        m[f"{pre}.batches"] = (len(v["batches"][ph]), "count")
        m[f"{pre}.rows_per_batch_p50"] = (_median0(v["rows"][ph]), "count")
        for k, xs in v["durations"][ph].items():
            m[f"{pre}.{k}"] = (_median0(xs), "ms")
        m[f"{pre}.backlog_files_max"] = (v["backlog_max"][ph], "count")
        m[f"{pre}.cpu_s"] = (sum(batch_cpu.get(f"b{b}", 0)
                                 for b in v["batches"][ph]) / 1e9, "s")
        m[f"{pre}.p50_ms"] = (_median0(v["lat"][ph]), "ms")
        m[f"{pre}.tail_ms"] = (stats.tail(v["lat"][ph])[1] if v["lat"][ph] else 0, "ms")
    if workload == "stream_score":
        m["streaming.capacity_docs_per_s"] = (v["capacity"], "docs/s")
        m["gen.files"] = (len(res["generator"]), "count")
        m["gen.late_ms_p99"] = (stats.percentile(v["late_ms"], 99), "ms")
    else:
        m["streaming.capacity_docs_per_s"] = (0, "docs/s")
        m["gen.files"] = (0, "count")
        m["gen.late_ms_p99"] = (0, "ms")

    m["shuffle.write_bytes"] = (sp.total(timed, "shuffle_write_bytes"), "bytes")
    m["shuffle.read_bytes"] = (sp.total(timed, "shuffle_read_bytes"), "bytes")
    m["shuffle.spill_bytes"] = (sp.total(timed, "spill_bytes"), "bytes")
    m["materialize.blocks"] = (sp.total(timed, "blocks"), "count")
    m["materialize.bytes"] = (sp.total(timed, "block_bytes"), "bytes")
    m["plan.exchanges"] = (sp.total(timed, "exchanges"), "count")
    m["plan.roundrobin_exchanges"] = (sp.total(timed, "roundrobin_exchanges"), "count")

    runs = {}
    for r in res.get("runs", []):
        runs.setdefault(r["query"], []).append(r["s"])
    for q in mix_queries:
        name = f"mix.{q}"
        m[f"{name}.s"] = (_median0(runs.get(q, [])), "s")
        m[f"{name}.tasks"] = (step(name, "tasks"), "count")
        m[f"{name}.shuffle_bytes"] = (step(name, "shuffle_write_bytes"), "bytes")
        m[f"{name}.materialized_bytes"] = (step(name, "block_bytes"), "bytes")

    wall = (res["timed_end_ms"] - res["first_op_ms"]) / 1000
    tasks = sp.total(timed, "tasks")
    cpu = sp.total(timed, "cpu_ns") / 1e9
    m["spark.jobs"] = (sp.total(timed, "jobs"), "count")
    m["spark.stages"] = (sp.total(timed, "stages"), "count")
    m["spark.tasks"] = (tasks, "count")
    m["spark.executor_run_s"] = (sp.total(timed, "run_ms") / 1000, "s")
    m["spark.executor_cpu_s"] = (cpu, "s")
    m["spark.gc_s"] = (sp.total(timed, "gc_ms") / 1000, "s")
    m["spark.cpu_busy_frac"] = (cpu / (wall * 4) if wall > 0 else 0, "ratio")
    m["spark.task_retry_frac"] = (sp.total(timed, "failed_tasks") / tasks
                                  if tasks else 0, "ratio")

    base = []
    if os.path.exists(history):
        with open(history) as fh:
            base = [json.loads(l)["work_s"] for l in fh if l.strip()]
    m["trace.overhead_frac"] = (e2e["work_s"] / stats.median(base) - 1
                                if base else 0.0, "ratio")
    m["failed_frac"] = (failed / attempted, "ratio")
    return m


def _unit(k):
    if k.endswith("_ms") or k.endswith("_ms_p50"):
        return "ms"
    return "s" if k.endswith("_s") else "count"


def print_self_times(run):
    """One line per span name: count, inclusive and self seconds."""
    spans = [s for s in _load_spans(run) if s["id"] != "unattributed"]
    own = stats.self_times(spans)
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += (s["end_ms"] - s["start_ms"]) / 1000
        a[2] += own[s["id"]] / 1000
    print(f"{'span':<40} {'n':>5} {'total_s':>9} {'self_s':>9}")
    for name, (n, tot, slf) in sorted(agg.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:<40} {n:>5} {tot:>9.3f} {slf:>9.3f}")
