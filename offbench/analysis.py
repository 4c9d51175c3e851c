"""Turns the harness's run records into the benchmark's metrics.

The JVM side (harness/) only measures: it writes one JSON record per line
for set-up phases, operations, step and phase spans, and (on traced
operations) Spark jobs. Everything derived from them lives here, so it can
be tested without Spark: the tail-percentile rule, call-site to module
attribution, span trees with self times, and digest comparison.
"""
import os
import re
import statistics

# Operations that belong to set-up, not to the measured loop.
SETUP_OPS = {"warmup", "base"}

OFFLOAD_STEPS = ("analyze_plan", "stage_and_load", "verify_counts",
                 "save_metadata", "task_metrics")

# The layer that owns a step's own time (outside the Spark jobs it runs).
STEP_LAYER = {"stage_and_load": "sink", "verify_counts": "verify",
              "save_metadata": "meta"}

# Layers that self time is reported for; module names of src/main/scala/graft.
SELF_LAYERS = ("orchestrate", "sink", "verify", "meta", "source", "plan",
               "predicate", "queries", "operators", "functions", "core",
               "tools", "spark")

MIX_QUERIES = ("q01_pricing_summary", "q11_agg_validate", "q371_validate_drilldown",
               "q340_promo_channel_share")

WORKLOADS = ("bulk_offload", "incremental_append", "query_mix")

# name -> (unit, workloads it applies to, or None for all)
END_TO_END = {
    "setup_s": ("s", None),
    "op_p50_s": ("s", None),
    "ops_per_s": ("1/s", None),
    "peak_rss_mb": ("MB", None),
    "failed_ratio": ("ratio", None),
    "offload_p50_s": ("s", ("bulk_offload", "incremental_append")),
    "offload_tail_s": ("s", ("bulk_offload", "incremental_append")),
    "offload_rows_per_s": ("rows/s", ("bulk_offload", "incremental_append")),
    "stored_bytes_ratio": ("ratio", ("bulk_offload", "incremental_append")),
    "mix_pass_s": ("s", ("query_mix",)),
    "query_p50_s": ("s", ("query_mix",)),
    "query_tail_s": ("s", ("query_mix",)),
}
# The end-to-end metrics every workload reports in its summary line.
SUMMARY_END_TO_END = ("setup_s", "op_p50_s", "ops_per_s")


def per_layer_names():
    names = ["spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
             "spark.no_task_s_per_op", "spark.task_busy_s_per_op",
             "spark.shuffle_write_bytes_per_op", "spark.shuffle_read_bytes_per_op",
             "spark.spill_bytes_per_op", "source.rows_read_per_row_landed"]
    names += ["orchestrate.%s_s" % s for s in OFFLOAD_STEPS]
    names += ["orchestrate.unstepped_s", "sink.job_s", "sink.jobs",
              "sink.bytes_written", "sink.files_written", "verify.job_s",
              "verify.jobs", "meta.bytes_written", "meta.files",
              "queries.build_s", "queries.plan_s", "queries.exec_s"]
    names += ["query.%s_s" % q for q in MIX_QUERIES]
    names += ["artifacts.cold_extra_s"]
    names += ["self.%s_s_per_op" % layer for layer in SELF_LAYERS]
    names += ["trace.overhead_s_per_op", "trace.clipped_s_per_op"]
    return names


def per_layer_unit(name):
    if name.endswith("_s") or name.endswith("_s_per_op"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name == "source.rows_read_per_row_landed":
        return "ratio"
    return "count"


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples beyond). With n sorted samples that
    is the (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n.
    With `beyond` samples or fewer no such percentile exists; the maximum is
    returned at percentile 100 with the samples that do lie beyond it: 0.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, 0
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, beyond


# --------------------------------------------------------------- attribution

def module_index(src_root):
    """Map each engine source file name to its module: the directory under
    graft/ (`sink`, `orchestrate`, ...), or `core` for files at the top."""
    index = {}
    graft = os.path.join(src_root, "graft")
    for dirpath, _, files in os.walk(graft):
        rel = os.path.relpath(dirpath, graft)
        module = "core" if rel == "." else rel.split(os.sep)[0]
        for f in files:
            if f.endswith(".scala"):
                index[f] = module
    return index


_CALLSITE = re.compile(r" at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def module_of(callsite, index):
    """The module a Spark job belongs to, from its call site
    ("count at StagedLoad.scala:137" -> "sink"); `spark` when the call site
    is in no indexed file."""
    m = _CALLSITE.search(callsite or "")
    return index.get(m.group(1), "spark") if m else "spark"


# ------------------------------------------------------------- span trees

class Span:
    def __init__(self, name, layer, t0, t1, kind="span", job=None):
        self.name, self.layer, self.t0, self.t1 = name, layer, t0, t1
        self.kind, self.job = kind, job
        self.clipped = 0.0  # the part of its interval placing it cut off
        self.children = []
        self.parent = None

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    @property
    def duration(self):
        return self.t1 - self.t0


def _covered(intervals):
    """Total length of the union of (t0, t1) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span):
    """A span's duration minus the part of it its children cover."""
    kids = [(max(c.t0, span.t0), min(c.t1, span.t1)) for c in span.children]
    return span.duration - _covered([k for k in kids if k[1] > k[0]])


def _place(parent, span, descend=True):
    """Put `span` under the deepest descendant of `parent` whose interval
    holds its start (or directly under `parent`), clipped to that parent
    and between its siblings, so siblings never overlap and the self times
    of a tree add up to its root's duration. What the clipping cuts off is
    kept in `span.clipped`: time the tree does not account for."""
    for c in parent.children:
        if descend and c.t0 <= span.t0 < c.t1:
            return _place(c, span)
    kids = parent.children
    raw = span.duration
    i = sum(1 for c in kids if c.t0 <= span.t0)
    span.t0 = max(span.t0, parent.t0, kids[i - 1].t1 if i > 0 else parent.t0)
    span.t1 = min(max(span.t1, span.t0), parent.t1, kids[i].t0 if i < len(kids) else parent.t1)
    span.t1 = max(span.t1, span.t0)
    span.clipped = raw - span.duration
    kids.insert(i, span)
    span.parent = parent


def build_tree(root, spans, jobs, layer_of_job):
    """The span tree of one operation: step or phase spans, one after the
    other, under the root; Spark jobs under whichever span was running when
    they started (a job started while another ran nests under it).
    `layer_of_job(job)` names a job's layer once it is placed."""
    for s in sorted(spans, key=lambda s: s.t0):
        _place(root, s, descend=False)
    for j in sorted(jobs, key=lambda j: j.t0):
        _place(root, j)
        j.layer = layer_of_job(j)
    return root


def walk(span):
    yield span
    for c in span.children:
        yield from walk(c)


def flatten(op_id, root):
    """The spans of one tree as records with ids and parent ids, every one
    carrying the operation's id."""
    ids = {}
    for k, s in enumerate(walk(root)):
        ids[id(s)] = k
        yield {"op": op_id, "span": k,
               "parent": ids[id(s.parent)] if s.parent is not None else None,
               "name": s.name, "layer": s.layer, "t0": s.t0, "t1": s.t1,
               "self_ms": self_time(s)}


def self_by_layer(root):
    out = {}
    for s in walk(root):
        out[s.layer] = out.get(s.layer, 0.0) + self_time(s)
    return out


def no_task_time(t0, t1, task_intervals):
    """Time within [t0, t1] during which no task was running."""
    clipped = [(max(a, t0), min(b, t1)) for a, b in task_intervals]
    return (t1 - t0) - _covered([c for c in clipped if c[1] > c[0]])


# ----------------------------------------------------------------- digests

def digest_mismatches(observed, expected):
    """Operations whose fold digest differs from the expected one.

    `observed` is a list of (query name, digest or None); a query with no
    expected digest is a mismatch too, so a renamed or added query cannot
    pass unchecked. Returns {index into observed: reason}."""
    bad = {}
    for i, (name, digest) in enumerate(observed):
        want = expected.get(name)
        if want is None:
            bad[i] = "no expected digest for %s" % name
        elif digest != want:
            bad[i] = "digest %s != expected %s" % (digest, want)
    return bad


# ----------------------------------------------------------------- metrics

def _ms(r):
    return (r["t1"] - r["t0"]) / 1000.0


def split_records(records):
    by = {}
    for r in records:
        by.setdefault(r["kind"], []).append(r)
    return by


def is_measured(op):
    return op["name"] not in SETUP_OPS and op.get("pass_kind", "warm") == "warm"


def end_to_end(workload, records):
    """(metrics, extra): metric name -> value, and name -> sample count
    plus any extra fields for its per-metric line."""
    by = split_records(records)
    ops = by.get("op", [])
    measured = [o for o in ops if is_measured(o)]
    walls = [_ms(o) for o in measured]
    setup = sum(_ms(r) for r in by.get("setup", []))
    env = by.get("env", [{}])[0]
    m, extra = {}, {}
    m["setup_s"] = setup
    extra["setup_s"] = {"n": len(by.get("setup", []))}
    # the unit of work: one offload, or one pass over the query list
    units = walls
    if workload == "query_mix":
        units = [_ms(p) for p in by.get("pass", []) if p["pass_kind"] == "warm"]
    m["op_p50_s"] = median(units)
    m["ops_per_s"] = len(units) / sum(units) if units else 0.0
    m["peak_rss_mb"] = env.get("peak_rss_kb", 0) / 1024.0
    failed = sum(1 for o in ops if not o["ok"])
    m["failed_ratio"] = failed / len(ops) if ops else 0.0
    extra["failed_ratio"] = {"n": len(ops)}
    if workload in ("bulk_offload", "incremental_append"):
        m["offload_p50_s"] = median(walls)
        t, p, beyond = tail(walls)
        m["offload_tail_s"] = t
        extra["offload_tail_s"] = {"n": len(walls), "percentile": p, "beyond": beyond}
        last = measured[-1] if measured else {}
        if workload == "bulk_offload":
            rows = sum(o["rows_landed"] for o in measured)
        else:
            # each append lands one month; the final table holds them all
            setup = [o for o in ops if not is_measured(o)]
            before = setup[-1]["rows_landed"] if setup else 0
            rows = last.get("rows_landed", before) - before
        m["offload_rows_per_s"] = rows / sum(walls) if walls else 0.0
        slice_bytes = last.get("slice_source_bytes", 0)
        m["stored_bytes_ratio"] = last.get("final_bytes", 0) / slice_bytes if slice_bytes else 0.0
    if workload == "query_mix":
        passes = [p for p in by.get("pass", []) if p["pass_kind"] == "warm"]
        m["mix_pass_s"] = median([_ms(p) for p in passes])
        extra["mix_pass_s"] = {"n": len(passes)}
        m["query_p50_s"] = median(walls)
        t, p, beyond = tail(walls)
        m["query_tail_s"] = t
        extra["query_tail_s"] = {"n": len(walls), "percentile": p, "beyond": beyond}
    for k in m:
        extra.setdefault(k, {}).setdefault("n", len(units) if k in ("op_p50_s", "ops_per_s")
                                            else len(walls))
    return m, extra


class Job(Span):
    def __init__(self, r):
        super().__init__(r["callsite"], "spark", r["t0"], r["t1"], kind="job", job=r)


def traced_trees(workload, records, index, bench_files):
    """(op record, span tree) for every measured traced operation. A job
    whose call site is in the benchmark's own files (the query action the
    benchmark runs) belongs to the operation's own layer."""
    by = split_records(records)
    spans = by.get("span", [])
    jobs = by.get("job", [])
    root_layer = "queries" if workload == "query_mix" else "orchestrate"
    index = dict(index, **{f: root_layer for f in bench_files})
    out = []
    for op in by.get("op", []):
        if not (op["traced"] and is_measured(op)):
            continue
        root = Span(op["name"], root_layer, op["t0"], op["t1"], kind="op")
        mine = [Span(s["name"], STEP_LAYER.get(s["name"], s["layer"]), s["t0"], s["t1"])
                for s in spans if s["op"] == op["id"]]
        myjobs = [Job(j) for j in jobs if op["t0"] <= j["t0"] <= op["t1"]]

        def layer_of_job(job):
            if any(p.name == "verify_counts" for p in job.ancestors()):
                return "verify"
            return module_of(job.name, index)

        out.append((op, build_tree(root, mine, myjobs, layer_of_job)))
    return out


def per_layer(workload, records, index, bench_files):
    """(metrics, [(op record, span tree)]) of the traced operations."""
    by = split_records(records)
    trees = traced_trees(workload, records, index, bench_files)
    n = len(trees)
    m = {name: 0.0 for name in per_layer_names()}
    if n == 0:
        return m, trees
    jobs = [s for _, t in trees for s in walk(t) if s.kind == "job"]
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.stages_per_op"] = sum(j.job["stages"] for j in jobs) / n
    m["spark.tasks_per_op"] = sum(j.job["tasks"] for j in jobs) / n
    m["spark.task_busy_s_per_op"] = sum(j.job["run_ms"] for j in jobs) / 1000.0 / n
    m["spark.shuffle_write_bytes_per_op"] = sum(j.job["shuffle_write"] for j in jobs) / n
    m["spark.shuffle_read_bytes_per_op"] = sum(j.job["shuffle_read"] for j in jobs) / n
    m["spark.spill_bytes_per_op"] = sum(j.job["spill"] for j in jobs) / n
    m["spark.no_task_s_per_op"] = mean([
        no_task_time(op["t0"], op["t1"],
                     [iv for s in walk(t) if s.kind == "job" for iv in s.job["intervals"]])
        / 1000.0 for op, t in trees])
    layers = {}
    for _, t in trees:
        for layer, v in self_by_layer(t).items():
            layers[layer] = layers.get(layer, 0.0) + v / 1000.0
    for layer in SELF_LAYERS:
        m["self.%s_s_per_op" % layer] = layers.get(layer, 0.0) / n
    # spans that overlapped a sibling or outlasted their parent (concurrent
    # jobs, a job still running when its step returned) lose that time
    m["trace.clipped_s_per_op"] = mean([
        sum(s.clipped for s in walk(t)) / 1000.0 for _, t in trees])

    ops = by.get("op", [])
    measured = [o for o in ops if is_measured(o)]
    m["trace.overhead_s_per_op"] = tracing_overhead(measured)

    if workload in ("bulk_offload", "incremental_append"):
        landed = sum(o["rows_landed"] for o, _ in trees)
        if workload == "incremental_append":
            landed = sum(_appended(ops, o) for o, _ in trees)
        read = sum(j.job["input_records"] for j in jobs)
        m["source.rows_read_per_row_landed"] = read / landed if landed else 0.0
        for step in OFFLOAD_STEPS:
            m["orchestrate.%s_s" % step] = mean([
                sum(c.duration for c in t.children if c.name == step) / 1000.0
                for _, t in trees])
        m["orchestrate.unstepped_s"] = mean([self_time(t) / 1000.0 for _, t in trees])
        for layer in ("sink", "verify"):
            mine = [j for j in jobs if j.layer == layer]
            m["%s.job_s" % layer] = sum(j.duration for j in mine) / 1000.0 / n
            m["%s.jobs" % layer] = len(mine) / n
        m["sink.bytes_written"] = mean([o["final_bytes"] + o["staging_bytes"] for o, _ in trees])
        m["sink.files_written"] = mean([o["final_files"] + o["staging_files"] for o, _ in trees])
        m["meta.bytes_written"] = mean([o["meta_bytes"] for o, _ in trees])
        m["meta.files"] = mean([o["meta_files"] for o, _ in trees])
    if workload == "query_mix":
        for phase in ("build", "plan", "exec"):
            m["queries.%s_s" % phase] = mean([
                sum(c.duration for c in t.children if c.name == phase) / 1000.0
                for _, t in trees])
        for q in MIX_QUERIES:
            m["query.%s_s" % q] = median([_ms(o) for o in measured if o["name"] == q])
        passes = by.get("pass", [])
        cold = [_ms(p) for p in passes if p["pass_kind"] == "cold"]
        warm = [_ms(p) for p in passes if p["pass_kind"] == "warm"]
        if cold and warm:
            m["artifacts.cold_extra_s"] = cold[0] - median(warm)
    return m, trees


def tracing_overhead(ops):
    """Median, over operation names, of the traced minus the untraced median
    wall time of operations with that name (seconds)."""
    diffs = []
    for name in sorted({o["name"] for o in ops}):
        traced = [_ms(o) for o in ops if o["name"] == name and o["traced"]]
        untraced = [_ms(o) for o in ops if o["name"] == name and not o["traced"]]
        if traced and untraced:
            diffs.append(median(traced) - median(untraced))
    return median(diffs)


def _appended(ops, op):
    """Rows an incremental append landed: its table size minus the previous
    operation's."""
    i = ops.index(op)
    return op["rows_landed"] - (ops[i - 1]["rows_landed"] if i > 0 else 0)
