#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 14 --trace 0

Builds the engine with the benchmark (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench.Main), checks the outputs, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, taken
from a run with the benchmark's listeners attached. Everything is read and
written under the checkout (.bench_build/ and .bench_run/).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

CORES = 4
# pipeline: `replicas` content-unique copies of one seeded base, one file per
# copy; the warm-up runs the same job `warm` times on one quarter-size copy
# (the driver's planning and scheduling code, which dominates an iteration,
# warms per call, not per row). Timed iterations: see Workloads.timedRounds.
PIPELINE = {"base_docs": 2000, "customers": 3000, "orders": 30000,
            "replicas": 3, "warm": 3}
# stream_score: the model is fitted on `train_docs`; files of
# `docs_per_file` docs arrive at `rates` (docs/s), a third of the run at
# `low` and two thirds at `high` (six or more triggers, which the backlog
# check needs), after `warm_s` of warm-up at the low rate. The rates were
# measured once on a 4-core host, about 1/4 and 3/4 of the capacity that
# the high phase reports, and are fixed so that every commit gets the same
# load.
STREAM = {"train_docs": 1000, "docs_per_file": 500, "trigger_ms": 1000,
          "warm_s": 4.0, "rates": {"low": 4300.0, "high": 13000.0}}
# operator_mix: single-row-group tables; the warm-up runs `warm` untimed
# passes over the set (the first writes the outputs the checks read), then
# seed-permuted passes are timed (Workloads.timedRounds).
MIX = {"docs": 1500, "events": 10000, "warm": 4,
       "queries": ["q12_token_df", "q16_minhash_pairs", "q18_ngram_jaccard",
                   "q46_decontaminate", "q238_cooccurrence"]}
JVM_TIMEOUT_S = 170


def generate(workload, seed, data, seconds):
    """Write the workload's inputs; return (JVM settings, input record)."""
    if workload == "pipeline":
        p = PIPELINE
        inputs = gen.replicated_tables(seed, data, p["base_docs"], p["customers"],
                                       p["orders"], p["replicas"])
        gen.replicated_tables(seed, f"{data}/warm", p["base_docs"] // 4,
                              p["customers"] // 4, p["orders"] // 4, 1)
        return {"warm": p["warm"]}, inputs
    if workload == "operator_mix":
        m = MIX
        inputs = gen.single_file_tables(seed, data, m["docs"], m["events"])
        return {"queries": ",".join(m["queries"]), "warm": m["warm"]}, inputs
    s = STREAM
    d = s["docs_per_file"]
    phase_s = {"warm": s["warm_s"], "low": seconds / 3, "high": seconds * 2 / 3}
    rate = {"warm": s["rates"]["low"], **s["rates"]}
    files = {p: max(1, round(rate[p] * phase_s[p] / d)) for p in phase_s}
    inputs = {"train": gen.single_file_tables(seed, f"{data}/train",
                                              s["train_docs"])["documents"],
              "stream": gen.stream_files(seed, f"{data}/stream",
                                         sum(files.values()), d)}
    jvm = {"trigger_ms": s["trigger_ms"], "docs_per_file": d}
    for p in phase_s:
        jvm[f"files_{p}"] = files[p]
        jvm[f"interval_{p}_ms"] = 1000.0 * d / rate[p]
    return jvm, inputs


def run_jvm(root, run, settings):
    os.makedirs(f"{run}/tmp", exist_ok=True)
    cmd = (build.java(root, run, "SharedArchiveFile") +
           [f"{k}={v}" for k, v in settings.items()])
    # two malloc arenas: glibc's default of eight per core lets the native
    # part of the resident set depend on which threads happened to allocate
    env = {**os.environ, "MALLOC_ARENA_MAX": "2"}
    with open(f"{run}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=log, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(f"{run}/result.json"):
        with open(f"{run}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"engine run failed ({rc})")
    with open(f"{run}/result.json") as fh:
        return json.load(fh)


def end_to_end(workload, res, setup_start_ms):
    """The end-to-end metrics, and the workload's own headline numbers."""
    detail = {}
    if workload == "stream_score":
        st = layers.stream_view(res)
        lat = st["lat"]["low"] + st["lat"]["high"]
        work = 1000 / st["capacity"]  # busy seconds per 1,000 docs at `high`
        geo = stats.geomean(stats.median(st["lat"][p]) / 1000
                            for p in ("low", "high"))
        for p in ("low", "high"):
            tp, tv = stats.tail(st["lat"][p])
            detail[f"stream_{p}_p50_ms"] = stats.median(st["lat"][p])
            detail[f"stream_{p}_tail_ms"] = tv
            detail[f"stream_{p}_tail_percentile"] = tp
            detail[f"stream_{p}_files"] = len(st["lat"][p])
        detail["stream_capacity_docs_per_s"] = st["capacity"]
        detail["high_backlog_flat"] = st["flat"]
        detail["high_lag_slope"] = st["lag_slope"]
        tp, tail = stats.tail(lat)
        p50 = stats.median(lat)
        detail["latency_samples"] = len(lat)
        detail["latency_tail_percentile"] = tp
    else:
        # Closed loops: a request is one round (a pipeline iteration, a
        # pass over the mix), whose latency spans many operations; a single
        # step or query lasts about a second, a window in which the host's
        # speed alone moves by 10-30%. Each operation also gets its median
        # over the run, for `work_s` (mix) and `step_geomean_s`.
        if workload == "pipeline":
            rounds = [list(it.items()) for it in res["iterations"]]
        else:
            by_pass = {}
            for r in res["runs"]:
                if r["ok"]:
                    by_pass.setdefault(r["pass"], []).append((r["query"], r["s"]))
            rounds = list(by_pass.values())
        med = stats.op_medians(rounds)
        lat = [sum(d for _, d in r) * 1000 for r in rounds]
        geo = stats.geomean(med.values())
        if workload == "pipeline":
            work = stats.median(lat) / 1000
            detail = {"pipeline_s": work, "iterations": len(rounds),
                      "docs": res.get("reviews_rows")}
        else:
            work = sum(med.values())
            detail = {"mix_total_s": work, "mix_geomean_s": geo,
                      "passes": len(rounds), "runs": len(res["runs"])}
        p50, tail = stats.median(lat), max(lat)
        detail["op_median_s"] = {k: round(v, 4) for k, v in med.items()}
    metrics = {
        "setup_s": (res["first_op_ms"] - setup_start_ms) / 1000,
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
        "work_s": work,
        "step_geomean_s": geo,
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
    }
    return metrics, detail


UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "work_s": "s",
         "step_geomean_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "stream_score", "operator_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        build.build(root)
    except (OSError, subprocess.SubprocessError) as e:
        sys.stderr.write(f"build failed: {e}\n")
        return 2
    run = (f"{root}/.bench_run/{args.workload}-s{args.seed}-t{args.trace}"
           f"-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        setup_start = time.time()
        settings, inputs = generate(args.workload, args.seed, f"{run}/data",
                                    args.seconds)
        gen_s = time.time() - setup_start
        settings.update(workload=args.workload, data=f"{run}/data", run=run,
                        seconds=args.seconds, trace=args.trace, seed=args.seed)
        t_jvm = time.time()
        res = run_jvm(root, run, settings)
        t_checks = time.time()
        if args.workload == "stream_score":
            res["file_batch"] = layers.file_batches(run)
        ok, attempted, failed, check_detail = checks.run(args.workload, run, res)
        metrics, detail = end_to_end(args.workload, res, setup_start * 1000)
        detail["phase_s"] = {"generate": gen_s, "engine": t_checks - t_jvm,
                             "checks": time.time() - t_checks}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "cores": CORES, "inputs": inputs, "checks": check_detail,
                          **detail}))
        hist = f"{root}/.bench_run/untraced-{args.workload}.jsonl"
        if args.trace:
            per_layer = layers.per_layer(args.workload, res, run, gen_s,
                                         attempted, failed, metrics, hist,
                                         MIX["queries"])
            out = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            layers.print_self_times(run)
        else:
            with open(hist, "a") as fh:
                fh.write(json.dumps(metrics) + "\n")
            out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": ok, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        keep = [f for f in ("result.json", "spans.jsonl", "jvm.log")
                if os.path.exists(f"{run}/{f}")]
        for f in keep:
            shutil.copy(f"{run}/{f}", f"{root}/.bench_run/last-{args.workload}"
                        f"-t{args.trace}-{f}")
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
