"""Per-layer attribution of one traced pass.

The harness records, from outside graft: spans around each public call
it makes, and Spark's job, stage, SQL-execution and streaming events.
This module maps every job to a layer metric ("bucket") and splits the
pass's wall time into

  * stage-active time, shared evenly among the stages running at each
    instant and credited to each stage's job's bucket, or to
    `spark.unattributed_s` when the job maps to no layer;
  * `spark.driver_idle_s`: wall time with no stage running.

Those parts sum to the traced wall time. Driver-side layer metrics
(`plan.call_s`, `meta.write_s`, `streaming.trigger_s`, the SQLite
writer's split) are subsets of the driver-idle time or overlap the
stage-active buckets, so they are reported beside the partition, not
inside it.
"""
import re

# Buckets that partition the stage-active time of a pass.
PARTITION = [
    "sources.infer_s", "plan.link_index_s", "meta.analyze_s",
    "sinks.csv_s", "sinks.parquet_s", "sinks.xlsx_s", "sinks.sqlite_s",
    "ops.quality_s", "ops.exact_dedup_s", "ops.neardup_s", "ops.decontam_s",
    "ops.mix_s", "ops.fold_s", "streaming.jobs_s",
]

# Pipeline.run stage names (the `mat("<name>")` labels) -> bucket.
STAGE_BUCKET = {
    "scrub_lines": "ops.quality_s", "quality": "ops.quality_s",
    "classify": "ops.quality_s", "lm_filter": "ops.quality_s",
    "exact_dedup": "ops.exact_dedup_s",
    "near_dup": "ops.neardup_s", "within_batch_near_dup": "ops.neardup_s",
    "decontaminate": "ops.decontam_s", "redact": "ops.decontam_s",
    "budget_mix": "ops.mix_s", "mix": "ops.mix_s", "pack": "ops.mix_s",
}

_FRAME = re.compile(r"^\s*(?:[\w.$-]+/)?([\w$.]+)\.([\w$<>]+)\(([^:)]*)(?::(\d+))?\)\s*$")


def frames(site):
    """Parse a long call site into (class, method, file, line) tuples,
    innermost first."""
    out = []
    for line in (site or "").splitlines():
        m = _FRAME.match(line)
        if m:
            out.append((m.group(1), m.group(2), m.group(3),
                        int(m.group(4)) if m.group(4) else -1))
    return out


def graft_frames(site):
    return [f for f in frames(site) if f[0].startswith("graft.")]


class PipelineStages:
    """Maps a line of `Pipeline.run` to the stage it runs, by reading the
    `mat("<stage>")` label at or just above that line of the source."""

    _MAT = re.compile(r'mat\("(\w+)"\)')
    _MIX = re.compile(r"cfg\.mix\.foreach")

    def __init__(self, source_text):
        self.lines = source_text.splitlines() if source_text else []
        self.mix_from = next((i + 1 for i, l in enumerate(self.lines)
                              if self._MIX.search(l)), None)

    def stage(self, line):
        for ln in range(line, max(0, line - 8), -1):
            if 0 < ln <= len(self.lines):
                text = self.lines[ln - 1]
                m = self._MAT.search(text)
                if m:
                    return m.group(1)
                if self._MIX.search(text):
                    return "mix"
        if self.mix_from is not None and line >= self.mix_from:
            return "mix"
        return None


def bucket_from_frames(fr, job_name, stages):
    """Layer bucket named by a job's graft frames, or None."""
    if not fr:
        return None
    if any(c.startswith("graft.streaming.") for c, _, _, _ in fr):
        return "streaming.jobs_s"
    if any(c == "graft.ops.Pipeline$" and m.startswith("fold") for c, m, _, _ in fr):
        return "ops.fold_s"
    for c, m, f, ln in fr:
        if c == "graft.ops.Pipeline$" and "run" in m and ln > 0 and stages is not None:
            s = stages.stage(ln)
            if s is not None:
                return STAGE_BUCKET.get(s)
    if any(c == "graft.ops.Pipeline$" for c, _, _, _ in fr):
        return None
    for c, m, _, _ in fr:
        if c.startswith("graft.util.") or c.startswith("graft.functions."):
            continue
        if c.startswith("graft.sources."):
            return "sources.infer_s"
        if c.startswith("graft.plan."):
            return "plan.link_index_s" if "zipWithIndex" in job_name else None
        if c.startswith("graft.meta."):
            return "meta.analyze_s"
        if c.startswith("graft.sinks.XlsxSink"):
            return "sinks.xlsx_s"
        if c.startswith("graft.sinks.SqliteSink"):
            return "sinks.sqlite_s"
        if c.startswith("graft.sinks.Sinks"):
            if "csv" in m:
                return "sinks.csv_s"
            if "parquet" in m.lower():
                return "sinks.parquet_s"
            return None
        if c.startswith("graft.ops."):
            continue
        return None
    return None


def innermost_span(spans, t):
    """The innermost span open at time t (latest start among those that
    contain t)."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def span_bucket(spans, t):
    """Bucket of the innermost span at t that names one."""
    inside = [s for s in spans if s["t0"] <= t <= s["t1"] and s["bucket"]]
    if not inside:
        return None
    return max(inside, key=lambda s: s["t0"])["bucket"]


def job_buckets(ev, spans, stages):
    """jobId -> bucket ("unattributed" when nothing names a layer)."""
    execs = {int(e["exec"]): e for e in ev["execs"]}
    out = {}
    for j in ev["jobs"]:
        fr = graft_frames(j["site"])
        if not fr and j["exec"]:
            e = execs.get(int(j["exec"]))
            while e is not None:
                fr = graft_frames(e["site"])
                if fr or e["root"] is None or int(e["root"]) == int(e["exec"]):
                    break
                e = execs.get(int(e["root"]))
        if fr:
            b = bucket_from_frames(fr, j["name"], stages)
        else:
            b = span_bucket(spans, j["t"])
        out[int(j["job"])] = b or "unattributed"
    return out


def stage_owner(ev):
    """stageId -> jobId: the latest-started job listing the stage that
    started no later than the stage was submitted."""
    starts = {int(j["job"]): j["t"] for j in ev["jobs"]}
    owners = {}
    for j in ev["jobs"]:
        for s in j["stages"]:
            owners.setdefault(int(s), []).append(int(j["job"]))
    out = {}
    for st in ev["stages"]:
        sid = int(st["stage"])
        cands = owners.get(sid, [])
        early = [c for c in cands if starts[c] <= st["t0"]] or cands
        if early:
            out[sid] = max(early, key=lambda c: starts[c])
    return out


def partition(t0, t1, intervals):
    """Split [t0, t1] among (start, end, bucket) intervals: each instant
    is shared evenly among the intervals active then; instants with none
    active are returned as idle. Returns ({bucket: seconds}, idle_s),
    times in ms in, seconds out."""
    pts = {t0, t1}
    clipped = []
    for a, b, k in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            clipped.append((a, b, k))
            pts.update((a, b))
    pts = sorted(pts)
    share, idle = {}, 0.0
    for a, b in zip(pts, pts[1:]):
        active = [k for s, e, k in clipped if s <= a and e >= b]
        if not active:
            idle += b - a
        else:
            for k in active:
                share[k] = share.get(k, 0.0) + (b - a) / len(active)
    return {k: v / 1000.0 for k, v in share.items()}, idle / 1000.0


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    total, end = 0, None
    for a, b in sorted(segs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(nodes):
    """Self time of every node of a span tree: its duration minus the
    part of its interval its children cover. `nodes` maps id ->
    {"t0", "t1", "parent"}; returns id -> self time in the same unit."""
    kids = {}
    for i, n in nodes.items():
        kids.setdefault(n["parent"], []).append(i)
    out = {}
    for i, n in nodes.items():
        cover = union_length([(nodes[c]["t0"], nodes[c]["t1"]) for c in kids.get(i, [])],
                             n["t0"], n["t1"])
        out[i] = (n["t1"] - n["t0"]) - cover
    return out


def analyze(trace, cores, untraced_wall_s, pipeline_source, input_bytes):
    """Per-layer metrics of one traced pass (see module docstring)."""
    ev = trace["events"]
    spans = trace["spans"]
    root = next(s for s in spans if s["name"] == "pass")
    t0, t1 = root["t0"], root["t1"]
    wall = (t1 - t0) / 1000.0
    stages_map = PipelineStages(pipeline_source)
    jb = job_buckets(ev, spans, stages_map)
    owner = stage_owner(ev)
    in_pass = [j for j in ev["jobs"] if t0 <= j["t"] <= t1]
    stages = [s for s in ev["stages"] if s["t1"] > t0 and s["t0"] < t1]

    def bucket(stage):
        return jb.get(owner.get(int(stage["stage"])), "unattributed")

    share, idle = partition(t0, t1, [(s["t0"], s["t1"], bucket(s)) for s in stages])
    m = {b: share.get(b, 0.0) for b in PARTITION}
    m["spark.unattributed_s"] = share.get("unattributed", 0.0)
    m["spark.driver_idle_s"] = idle

    # span tree with stage intervals as leaves under the innermost span
    nodes = {s["id"]: {"t0": s["t0"], "t1": s["t1"], "parent": s["parent"]} for s in spans}
    for s in stages:
        sp = innermost_span(spans, max(s["t0"], t0))
        nodes["stage%s.%s" % (s["stage"], s["attempt"])] = {
            "t0": s["t0"], "t1": s["t1"], "parent": sp["id"] if sp else root["id"]}
    selft = self_times(nodes)
    span_self = {}
    for s in spans:
        span_self[s["name"]] = span_self.get(s["name"], 0.0) + selft[s["id"]] / 1000.0

    # plan.call_s: driver-only time inside flattenToDir before the first
    # metadata job starts (the planner runs first)
    m["plan.call_s"] = 0.0
    ftd = [s for s in spans if s["name"] == "api.Flatten.flattenToDir"]
    if ftd:
        f = ftd[0]
        first_meta = min((j["t"] for j in in_pass if jb[int(j["job"])] == "meta.analyze_s"),
                         default=f["t1"])
        busy = union_length([(s["t0"], s["t1"]) for s in stages], f["t0"], first_meta)
        m["plan.call_s"] = max(0.0, (first_meta - f["t0"] - busy) / 1000.0)

    m["meta.analyze_jobs"] = sum(1 for j in in_pass if jb[int(j["job"])] == "meta.analyze_s")
    m["ops.checkpoint_jobs"] = sum(
        1 for j in in_pass if "localCheckpoint" in j["name"]
        and jb[int(j["job"])].startswith("ops.") and graft_frames(j["site"]))

    infer_bytes = sum(s["input_bytes"] for s in stages if bucket(s) == "sources.infer_s")
    scanned = infer_bytes + int(ev["sql_scan_bytes"])
    m["sources.input_bytes"] = input_bytes
    m["sources.scan_bytes_ratio"] = scanned / input_bytes if input_bytes else 0.0

    prog = ev["stream_progress"]
    m["streaming.add_batch_s"] = sum(int(p["add_batch_ms"]) for p in prog) / 1000.0
    m["streaming.trigger_s"] = sum(int(p["trigger_ms"]) - int(p["add_batch_ms"])
                                   for p in prog) / 1000.0

    m["spark.jobs"] = len(in_pass)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.executor_run_s"] = sum(s["run_ms"] for s in stages) / 1000.0
    m["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages)
    m["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages)
    m["spark.spill_bytes"] = sum(s["spill"] for s in stages)
    m["spark.cache_disk_bytes"] = int(ev["cache_disk_peak_bytes"])
    m["spark.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    m["spark.task_skew"] = max(skews, default=1.0)
    m["spark.core_util"] = m["spark.executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    m["trace.wall_s"] = wall
    m["trace.overhead_frac"] = wall / untraced_wall_s - 1.0 if untraced_wall_s else 0.0

    accounted = sum(m[b] for b in PARTITION) + m["spark.unattributed_s"] + m["spark.driver_idle_s"]
    detail = {
        "accounted_s": accounted,
        "accounting_gap_frac": abs(accounted - wall) / wall if wall else 0.0,
        "span_self_s": span_self,
        "jobs": [{"job": j["job"], "name": j["name"], "bucket": jb[int(j["job"])]}
                 for j in in_pass],
    }
    return m, detail
