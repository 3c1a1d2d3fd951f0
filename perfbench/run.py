#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload flatten_nested --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft and the
harness into `.bench_build/`; later runs reuse it while the sources are
unchanged. Inputs are generated from the seed before any timing starts,
the JVM harness runs closed-loop passes through graft's public API for
`--seconds`, every pass's output is checked, and the last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the harness also runs one traced pass and the metrics are the per-layer
ones (see NOTES.md for every definition).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

WORKLOADS = ["flatten_nested", "export_sqlite", "pipeline_loop", "stream_pipeline"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("docs_per_s", "1/s"),
              ("batch_p50_s", "s"), ("out_bytes_per_in_byte", "ratio")]

PER_LAYER = [
    ("sources.infer_s", "s"), ("sources.scan_bytes_ratio", "ratio"),
    ("sources.input_bytes", "bytes"),
    ("plan.call_s", "s"), ("plan.link_index_s", "s"), ("plan.tables", "count"),
    ("meta.analyze_s", "s"), ("meta.analyze_jobs", "count"), ("meta.write_s", "s"),
    ("sinks.csv_s", "s"), ("sinks.parquet_s", "s"), ("sinks.xlsx_s", "s"),
    ("sinks.sqlite_s", "s"), ("sinks.sqlite.cpu_build_s", "s"),
    ("sinks.sqlite.table_fetch_wait_s", "s"), ("sinks.sqlite.index_fetch_wait_s", "s"),
    ("sinks.sqlite.index_sort_wait_s", "s"), ("sinks.sqlite.io_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("ops.quality_s", "s"), ("ops.exact_dedup_s", "s"), ("ops.neardup_s", "s"),
    ("ops.decontam_s", "s"), ("ops.mix_s", "s"), ("ops.fold_s", "s"),
    ("ops.checkpoint_jobs", "count"), ("ops.bandn_null_frac", "ratio"),
    ("ops.kept_frac", "ratio"),
    ("streaming.add_batch_s", "s"), ("streaming.trigger_s", "s"),
    ("streaming.jobs_s", "s"), ("streaming.store_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.cache_disk_bytes", "bytes"),
    ("spark.failed_tasks", "count"), ("spark.task_skew", "ratio"),
    ("spark.core_util", "ratio"), ("spark.driver_idle_s", "s"),
    ("spark.unattributed_s", "s"), ("trace.wall_s", "s"), ("trace.overhead_frac", "ratio"),
]

# Standing-state builds per run; set-up reports their median.
STANDING_REPS = 3
# Untimed warm-up passes before timing starts; set-up counts the first.
# After only one, the first timed flatten pass ran 10-15% slower than the
# next. The loops' passes are long and driver-bound: a second warm-up pass
# would cost them 7 s a run, which the whole benchmark's time budget
# (4 + 22 runs per workload) cannot carry.
WARM_PASSES = {"flatten_nested": 2, "export_sqlite": 2, "pipeline_loop": 1,
               "stream_pipeline": 1}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The whole run must end within 180 s; leave room for checks and cleanup.
RUN_LIMIT_S = 170


def inputs(workload, seed, d):
    """Generate the workload's inputs into `d`; returns the plan entries
    and the bookkeeping the checks need."""
    z = gen.SIZES[workload]
    if workload in ("flatten_nested", "export_sqlite"):
        files, in_bytes, expected = gen.gen_flatten(workload, seed, d, z["docs"], z["files"])
        return {"in": ",".join(files)}, {"expected": expected, "in_bytes": in_bytes,
                                         "docs": z["docs"]}
    files, paths, keep, in_bytes, docs = gen.gen_text_loop(
        workload, seed, d, z["corpus"], z["eval"], z["batches"], z["fresh"])
    plan = {"corpus": files["corpus"], "eval": files["eval"], "in": ",".join(paths)}
    return plan, {"keep": keep, "in_bytes": in_bytes, "docs": docs}


def run_jvm(cp, work, plan_path, deadline, on_check):
    """Run the harness. After each pass it prints `@@CHECK <i> <dir>` and
    waits; `on_check` checks (and removes) the output before the harness
    is told to go on, so checking never overlaps a timed pass."""
    log = open(os.path.join(work, "jvm.log"), "w")
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [build.java(), "-Xms2g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.callstack.depth=80",
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "perfbench.Harness", plan_path]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=log, cwd=work, text=True)
    timer = threading.Timer(max(10.0, deadline - time.time()), proc.kill)
    timer.start()

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit(3)
    signal.signal(signal.SIGTERM, stop)
    try:
        for line in proc.stdout:
            if line.startswith("@@CHECK "):
                _, i, out = line.rstrip("\n").split(" ", 2)
                on_check(int(i), out)
                proc.stdin.write("DONE\n")
                proc.stdin.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness exited with %s:\n%s" % (rc, tail))


def check_pass(workload, out, book):
    """Checks one pass's output: (one problem list per operation, facts
    the metrics need)."""
    facts = {"bytes": check.tree_bytes(out)}
    if workload in ("flatten_nested", "export_sqlite"):
        facts["mtimes"] = check.data_meta_mtimes(out)
        return [check.check_flatten(out, book["expected"],
                                    sqlite=workload == "export_sqlite")], facts
    pattern = "day=%d" if workload == "pipeline_loop" else "batch=%d"
    probs, facts["kept"] = check.check_batches(out, book["keep"], pattern)
    return probs, facts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    # one core is left to the driver thread, JIT and GC: with every core
    # running tasks, pass times spread twice as wide
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    work = os.path.join(build.ROOT, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return measure(a, cp, cores, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, cp, cores, work, t_start):
    os.makedirs(os.path.join(work, "in"))
    plan, book = inputs(a.workload, a.seed, os.path.join(work, "in"))
    plan.update({"workload": a.workload, "work": work, "cores": cores,
                 "seconds": a.seconds, "trace": a.trace, "standing_reps": STANDING_REPS,
                 "warm_passes": WARM_PASSES[a.workload]})
    plan_path = os.path.join(work, "plan.properties")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    n_ops = 1 if a.workload in ("flatten_nested", "export_sqlite") else len(book["keep"])
    checked = {}

    def on_check(i, out):
        try:
            checked[i] = check_pass(a.workload, out, book)
        except Exception as e:  # a missing or unreadable output is a failed check
            checked[i] = ([["output unreadable: %r" % e]] * n_ops, {})
        shutil.rmtree(out, ignore_errors=True)

    t_launch = time.time()
    run_jvm(cp, work, plan_path, t_start + RUN_LIMIT_S, on_check)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    passes = list(enumerate(res["passes"]))
    traced = res["trace"]["index"] if res["trace"] is not None else None
    if traced is not None:
        passes.append((traced, res["trace"]["pass"]))
    attempted = failed = 0
    ok_walls, batches, out_bytes = [], [], []
    for i, p in passes:
        attempted += n_ops
        probs, facts = checked.get(i, ([["output never checked"]] * n_ops, {}))
        if p["error"]:
            failed += n_ops
            print("# pass %d failed: %s" % (i, p["error"][:500]), file=sys.stderr)
            continue
        bad = [x for x in probs if x]
        failed += len(bad)
        for x in bad:
            print("# pass %d: %s" % (i, "; ".join(x)[:800]), file=sys.stderr)
        if not bad and i != traced:
            ok_walls.append(p["wall_s"])
            batches.extend(p["batch_s"])
            out_bytes.append(facts["bytes"])

    wall = median(ok_walls)
    if a.trace == 0:
        setup = (res["session_ready_ms"] / 1000.0 - t_launch) + res["warmup_s"][0] \
            + median(res["standing_s"])
        values = {
            "setup_s": setup,
            "wall_s": wall,
            "docs_per_s": book["docs"] / wall if wall else 0.0,
            "batch_p50_s": median(batches),
            "out_bytes_per_in_byte": median(out_bytes) / book["in_bytes"],
        }
        units = END_TO_END
    else:
        values = layer_metrics(a.workload, res, book, checked.get(traced, (None, {}))[1],
                               cores, wall)
        units = PER_LAYER
    print("# %s seed=%d passes=%d walls=%s error_frac=%.4f"
          % (a.workload, a.seed, len(res["passes"]),
             [round(w, 3) for w in ok_walls], failed / attempted if attempted else 1.0))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values.get(k, 0), "unit": u}
                                  for k, u in units}}))
    return 0


def layer_metrics(workload, res, book, facts, cores, untraced_wall):
    tr = res["trace"]
    src = os.path.join(build.ROOT, "src", "main", "scala", "graft", "ops", "Pipeline.scala")
    pipeline_source = open(src).read() if os.path.exists(src) else ""
    m, detail = trace.analyze(tr, cores, untraced_wall, pipeline_source, book["in_bytes"])
    extra = tr["pass"]["extra"]
    m["plan.tables"] = int(extra.get("tables", 0))
    m["sinks.bytes_written"] = facts.get("bytes", 0)
    data_t, meta_t = facts.get("mtimes", (0.0, 0.0))
    m["meta.write_s"] = max(0.0, meta_t - data_t)
    # SqliteSink.lastStats: cpu_build is the writer's wall minus io and waits
    sq = {k[:-3]: int(v) / 1e9 for k, v in extra.get("sqlite", {}).items()}
    parts = ("io", "table_fetch_wait", "index_fetch_wait", "index_sort_wait")
    for k in parts:
        m["sinks.sqlite.%s_s" % k] = sq.get(k, 0.0)
    m["sinks.sqlite.cpu_build_s"] = sq.get("wall", 0.0) - sum(sq.get(k, 0.0) for k in parts)
    te = tr["extra"]
    m["ops.bandn_null_frac"] = (int(te["bandn_null_rows"]) / int(te["band_rows"])
                                if te.get("band_rows") else 0.0)
    m["ops.kept_frac"] = facts.get("kept", 0) / book["docs"] if "kept" in facts else 0.0
    m["streaming.store_bytes"] = int(extra.get("store_bytes", 0))
    print("# trace wall=%.3fs accounted=%.3fs gap=%.1f%% self=%s" % (
        m["trace.wall_s"], detail["accounted_s"], 100 * detail["accounting_gap_frac"],
        {k: round(v, 3) for k, v in detail["span_self_s"].items()}))
    unattributed = sorted({j["name"] for j in detail["jobs"] if j["bucket"] == "unattributed"})
    if unattributed:
        print("# unattributed jobs: %s" % unattributed[:10])
    return m


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        print("benchmark failed: %s" % e, file=sys.stderr)
        sys.exit(1)
