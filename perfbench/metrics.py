"""Turns the harness's raw result file into the benchmark's metrics.

End-to-end metrics come from the untraced loop; per-layer metrics come
from the traced loop, its spans and probes, and the traced set-up. Every
metric name is declared in BENCHMARK.json; `check_names` enforces that.
"""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

COMMIT_KINDS = ["append", "merge", "delete", "update", "compact", "expire"]


def percentile(values, p):
    """The p-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CANDIDATES = [99.9, 99, 95, 90, 75]


def tail_percentile(values):
    """The highest of TAIL_CANDIDATES with at least ten samples beyond it,
    as (p, value), or None when even p75 has fewer than ten beyond it."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p, percentile(values, p)
    return None


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def ops_of(loop):
    keys = ["id", "kind", "cls", "ms", "error", "rows_changed", "rows_out", "tables"]
    return [dict(zip(keys, o)) for o in loop["ops"]]


def _spans(raw):
    keys = ["id", "parent", "op", "name", "start", "end", "attrs"]
    return [dict(zip(keys, s)) for s in raw.get("spans", [])]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _geomean(xs):
    return math.exp(_mean(math.log(max(x, 1e-9)) for x in xs))


def group_medians(ops):
    """Median latency per (op kind, tables). The same kind of statement
    can cost several times as much on one table as on another (a
    merge-on-read MERGE against a copy-on-write one), so one median over
    both would fall between the two and jump with the sample."""
    groups = {}
    for o in ops:
        groups.setdefault((o["kind"], o.get("tables", "")), []).append(o["ms"])
    return {k: statistics.median(v) for k, v in groups.items()}


def op_p50_ms(ops):
    """Geometric mean, over the (op kind, tables) groups, of each group's
    median latency. Groups are balanced per round, so this weighs every
    group alike."""
    return _geomean(group_medians(ops).values())


def kind_p50_ms(ops, kind):
    """Geometric mean of the medians of `kind`'s groups; 0 without any."""
    meds = [m for (k, _), m in group_medians(ops).items() if k == kind]
    return _geomean(meds) if meds else 0.0


def end_to_end(raw):
    loop = raw["loops"]["measure"]
    ops = ops_of(loop)
    st = raw["storage"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),  # the timed builds
        "op_p50_ms": op_p50_ms(ops),
        "ops_per_s": len(ops) / loop["wall_s"],
        "live_heap_mb": float(raw["live_heap_mb"]),
        "bytes_stored_per_user_byte": _ratio(st["stored_bytes"], st["user_bytes"]),
    }


def latency_classes(ops):
    """Per latency class (read, commit, job): sample count, median and the
    tail percentile the sample supports."""
    out = {}
    for cls in sorted({o["cls"] for o in ops}):
        ms = [o["ms"] for o in ops if o["cls"] == cls]
        out[cls] = {"n": len(ms), "p50": statistics.median(ms), "tail": tail_percentile(ms)}
    return out


def per_layer(raw):
    meta = raw["meta"]
    traced = ops_of(raw["loops"]["traced"])
    setup = ops_of({"ops": raw.get("setup_ops", [])})
    spans = _spans(raw)
    loop_ids = {o["id"] for o in traced}
    commit_ops = [o for o in traced + setup if o["cls"] == "commit"]
    commit_ids = {o["id"] for o in commit_ops}

    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def named(name, ids=loop_ids):
        return [s for s in spans if s["name"] == name and s["op"] in ids]

    def dur_ms(s):
        return (s["end"] - s["start"]) / 1e6

    def attr(s, k):
        return s["attrs"].get(k, 0.0)

    def root_attr(ids, k):
        return [attr(roots[i], k) for i in ids if i in roots]

    reads = [o for o in traced if o["cls"] == "read"]
    read_ids = [o["id"] for o in reads]
    loop_list = [o["id"] for o in traced]
    m = {}

    loads = named("catalog.loadTable")
    m["catalog.load_table_ms"] = _mean(dur_ms(s) for s in loads)
    m["catalog.table_cache_hit_ratio"] = _mean(attr(s, "hit") for s in loads)
    m["catalog.metadata_dir_entries"] = _mean(attr(s, "entries") for s in named("catalog.metadata_dir"))

    m["metadata.load_ms"] = _mean(dur_ms(s) for s in named("metadata.load"))
    m["metadata.json_bytes"] = _mean(attr(s, "bytes") for s in named("metadata.load"))
    m["metadata.manifest_list_ms"] = _mean(dur_ms(s) for s in named("metadata.manifest_list"))
    m["metadata.manifest_read_ms"] = _mean(dur_ms(s) for s in named("metadata.manifest_read"))
    m["metadata.manifests_total"] = _mean(attr(s, "manifests") for s in named("metadata.manifest_read"))

    counts = named("pruning.counts")
    m["pruning.plan_files_cold_ms"] = _mean(dur_ms(s) for s in named("pruning.plan_files_cold"))
    m["pruning.plan_files_warm_ms"] = _mean(dur_ms(s) for s in named("pruning.plan_files_warm"))
    m["pruning.manifests_kept_ratio"] = _ratio(sum(attr(s, "manifests_kept") for s in counts),
                                               sum(attr(s, "manifests_total") for s in counts))
    m["pruning.files_kept_ratio"] = _ratio(sum(attr(s, "files_kept") for s in counts),
                                           sum(attr(s, "files_total") for s in counts))
    m["pruning.files_planned"] = _mean(root_attr(read_ids, "graft_files_planned"))
    m["pruning.bytes_planned"] = _mean(root_attr(read_ids, "graft_bytes_planned"))
    m["pruning.records_per_row_returned"] = _ratio(
        sum(root_attr(read_ids, "graft_records_planned")), sum(o["rows_out"] for o in reads))
    m["pruning.runtime_pruned_files"] = _mean(root_attr(read_ids, "graft_files_runtime_pruned"))

    for phase in ["analysis", "optimization", "planning"]:
        m[f"catalyst.{phase}_ms"] = _mean(root_attr(loop_list, f"catalyst_{phase}_ms"))

    m["execution.jobs_per_op"] = _mean(root_attr(loop_list, "jobs"))
    m["execution.stages_per_op"] = _mean(root_attr(loop_list, "stages"))
    m["execution.tasks_per_op"] = _mean(root_attr(loop_list, "tasks"))
    m["execution.executor_cpu_ms"] = _mean(root_attr(loop_list, "executor_cpu_ms"))
    m["execution.cpu_utilization"] = _ratio(sum(root_attr(loop_list, "executor_cpu_ms")),
                                            sum(o["ms"] for o in traced) * meta["cpus"])
    m["execution.task_wait_ms"] = _mean(root_attr(loop_list, "task_wait_ms"))
    m["execution.between_jobs_ms"] = _mean(
        self_time(roots[i], [c for c in children.get(roots[i]["id"], []) if c["name"] == "exec.job"]) / 1e6
        for i in loop_list if i in roots)
    for k in ["input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        m[f"execution.{k}"] = _mean(root_attr(loop_list, k))

    for kind in COMMIT_KINDS:
        m[f"commit.{kind}_ms"] = kind_p50_ms(commit_ops, f"commit.{kind}")
    probes = named("commit.probe", commit_ids)
    m["commit.jobs_per_commit"] = _mean(root_attr(sorted(commit_ids), "jobs"))
    for k in ["manifests_added", "manifests_carried", "data_files_added",
              "delete_files_added", "metadata_bytes_written"]:
        m[f"commit.{k}"] = _mean(attr(s, k) for s in probes)
    st = raw["storage"]
    user_bytes_per_row = _ratio(st["user_bytes"], st["live_rows"])
    m["commit.write_bytes_per_user_byte"] = _ratio(
        sum(attr(s, "bytes_written") for s in probes),
        sum(o["rows_changed"] for o in commit_ops) * user_bytes_per_row)
    m["commit.rows_per_s"] = _ratio(sum(o["rows_changed"] for o in commit_ops),
                                    sum(o["ms"] for o in commit_ops) / 1000.0)
    m["commit.failures"] = float(sum(1 for o in commit_ops if o["error"]))

    for kind in ["components", "pagerank", "bpe"]:
        m[f"operators.{kind}_ms"] = kind_p50_ms(traced, f"operators.{kind}")
    op_ids = [o["id"] for o in traced if o["kind"].startswith("operators.")]
    m["operators.jobs_per_call"] = _mean(root_attr(op_ids, "jobs"))
    m["operators.jobs_per_round"] = _ratio(sum(root_attr(op_ids, "jobs")),
                                           sum(root_attr(op_ids, "rounds")))

    drains = [o for o in traced if o["kind"] == "streaming.cdc_drain"]
    batches = named("streaming.batch")
    m["streaming.batches"] = _ratio(len(batches), len(drains))
    for name, key in [("trigger_ms", "triggerExecution"), ("query_planning_ms", "queryPlanning"),
                      ("get_batch_ms", "getBatch"), ("add_batch_ms", "addBatch"),
                      ("wal_commit_ms", "walCommit"), ("rows_per_batch", "rows")]:
        m[f"streaming.{name}"] = _mean(attr(s, key) for s in batches)

    tl = raw["loops"]["traced"]
    m["jvm.gc_ms"] = float(tl["gc_ms"])
    m["jvm.gc_count"] = float(tl["gc_count"])
    m["jvm.jit_ms"] = float(tl["jit_ms"])

    traced_p50 = op_p50_ms(traced)
    m["trace.op_p50_ms"] = traced_p50
    measure = raw["loops"]["measure"]
    m["trace.overhead_ratio"] = _ratio(traced_p50, op_p50_ms(ops_of(measure)))
    m["trace.op_self_ms"] = _mean(
        self_time(roots[i], children.get(roots[i]["id"], [])) / 1e6 for i in loop_list if i in roots)
    return m


SHARE_LAYERS = [
    ("execution", lambda n: n == "exec.job"),
    ("catalog", lambda n: n == "catalog.loadTable"),
    ("catalyst", lambda n: n.startswith("catalyst.")),
]


def layer_shares(raw):
    """Where the traced loop's operation time goes, per latency class:
    the share covered by Spark jobs; then, outside jobs, by catalog table
    loads; then by Catalyst analysis, optimisation (which runs the scan's
    planFiles) and planning; `other` is driver time covered by none of
    them. Each class's shares are over its total operation time."""
    traced = ops_of(raw["loops"]["traced"])
    spans = _spans(raw)
    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for cls in sorted({o["cls"] for o in traced}):
        totals = dict.fromkeys([n for n, _ in SHARE_LAYERS] + ["other"], 0.0)
        whole = 0.0
        for o in traced:
            root = roots.get(o["id"])
            if o["cls"] != cls or root is None:
                continue
            lo, hi = root["start"], root["end"]
            whole += hi - lo
            covered, seen = 0.0, []
            for name, match in SHARE_LAYERS:
                seen += [(s["start"], s["end"]) for s in by_op.get(o["id"], [])
                         if s is not root and match(s["name"])]
                now = union_length(seen, lo, hi)
                totals[name] += now - covered
                covered = now
            totals["other"] += (hi - lo) - covered
        out[cls] = {k: _ratio(v, whole) for k, v in totals.items()}
    return out


def check_names(metrics, declared):
    """Every metric name is well formed and declared, and every declared
    metric is present. Raises ValueError otherwise."""
    bad = [k for k in metrics if not NAME_RE.match(k)]
    if bad:
        raise ValueError(f"malformed metric names: {bad}")
    undeclared = sorted(set(metrics) - set(declared))
    missing = sorted(set(declared) - set(metrics))
    if undeclared or missing:
        raise ValueError(f"undeclared metrics {undeclared}, missing metrics {missing}")
