"""Turns the benchmark JVM's raw result file into metrics.

The JVM (`graft.perfbench.Main`) records every operation and lookup
latency, every output check, and, in a traced run, every span, job, stage,
task and SQL execution. This module derives the end-to-end metrics from
the untraced loop and the per-layer metrics from the traced one. It has
no dependencies beyond the standard library so its arithmetic can be
tested on its own (`python3 -m unittest discover perfbench`).
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Tail percentiles are taken from this ladder, so that a run's tail is the
# same percentile whenever its sample count lands in the same band.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

OPERATORS = ("exact_dedup", "minhash_pairs", "canonical", "ivf_topk")
VERBS = ("guard", "filter_batch", "fold_batch", "takedown", "compact",
         "lookup")
SPAN_LAYERS = ("bench", "sources", "core", "operators", "streaming")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, pct):
    """The nearest-rank percentile of an ascending list: the smallest
    sample with at least pct % of the samples at or below it."""
    # rounded first so that 99.9 % of 10,000 is rank 9,990, not 9,991
    rank = max(1, math.ceil(round(pct / 100.0 * len(sorted_xs), 6)))
    return sorted_xs[rank - 1], rank


def tail(samples, beyond=10):
    """The highest ladder percentile that has at least `beyond` samples
    above its rank. Returns (value, percentile, n); percentile is None
    when no ladder percentile qualifies (fewer than 2 * beyond samples),
    and the value is then the maximum."""
    xs = sorted(samples)
    best = None
    for pct in TAIL_LADDER:
        value, rank = nearest_rank(xs, pct) if xs else (0.0, 0)
        if xs and len(xs) - rank >= beyond:
            best = (value, pct, len(xs))
    if best is None:
        return (xs[-1] if xs else 0.0), None, len(xs)
    return best


def merge(intervals):
    """The disjoint (start, end) intervals covering the same time."""
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    return sum(e - s for s, e in merge(intervals))


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans):
    """Span id -> self time: the span's duration minus the part of it that
    its child spans cover. Children that overlap each other (work run
    through `graft.core.Par`) are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        covered = union_length(clip(kids, s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def mean_concurrency(intervals, windows):
    """Time-weighted mean number of `intervals` running at once, over the
    parts of `windows` where at least one runs."""
    events = []
    for s, e in intervals:
        for ws, we in merge(windows):
            a, b = max(s, ws), min(e, we)
            if b > a:
                events += [(a, 1), (b, -1)]
    events.sort()
    busy = weighted = 0.0
    level = 0
    last = None
    for t, d in events:
        if last is not None and level > 0:
            busy += t - last
            weighted += (t - last) * level
        level += d
        last = t
    return weighted / busy if busy > 0 else 0.0


def end_to_end(r):
    """The gated end-to-end metrics of the untraced loop."""
    plain = r["plain"]
    ops = plain["ops"]
    kind = r["latency_kind"]
    extra = r["extra"]
    if r["workload"] == "store_lifecycle":
        ratios = [s / u for s, u in zip(extra["store_bytes"],
                                        extra["user_bytes"]) if u > 0]
        store_ratio = median(ratios)
    else:
        store_ratio = extra["store_bytes"] / max(1, extra["user_bytes"])
    return {
        "setup_s": (r["session_s"] + median(r["setup_s"]) + r["warmup_s"],
                    "s"),
        "rows_per_s": (sum(o["rows"] for o in ops)
                       / max(1e-9, sum(o["s"] for o in ops)), "1/s"),
        "op_s_p50": (median([o["s"] for o in ops if o["kind"] == kind]),
                     "s"),
        "lookup_s_p50": (median(plain["lookups"]), "s"),
        "store_bytes_per_user_byte": (store_ratio, "ratio"),
    }


def report(r):
    """Every end-to-end figure the run can give, named as users know
    them, with sample counts and the tail percentiles used."""
    plain = r["plain"]
    kind = r["latency_kind"]
    op_s = [o["s"] for o in plain["ops"] if o["kind"] == kind]
    op_tail, op_pct, op_n = tail(op_s)
    lk_tail, lk_pct, lk_n = tail(plain["lookups"])
    e2e = end_to_end(r)
    rate = "docs_per_s"
    op = {"curation_batch": "pass_s",
          "store_lifecycle": "trigger_s"}[r["workload"]]
    out = {
        "workload": r["workload"], "seed": r["seed"],
        rate: {"value": e2e["rows_per_s"][0], "unit": "1/s",
               "n_ops": len(plain["ops"])},
        op + "_p50": {"value": e2e["op_s_p50"][0], "unit": "s", "n": op_n},
        op + "_tail": {"value": op_tail, "unit": "s", "percentile": op_pct,
                       "n": op_n},
        "lookup_s_p50": {"value": e2e["lookup_s_p50"][0], "unit": "s",
                         "n": lk_n},
        "lookup_s_tail": {"value": lk_tail, "unit": "s",
                          "percentile": lk_pct, "n": lk_n},
        "setup_s": {"value": e2e["setup_s"][0], "unit": "s",
                    "session_s": r["session_s"],
                    "repeats_s": r["setup_s"], "warmup_s": r["warmup_s"]},
        "failed_share": {"value": plain["failed"] / max(1, plain["attempted"]),
                         "unit": "share", "attempted": plain["attempted"]},
        # reported, not gated: the JVM's heap growth makes it vary by
        # about 25 % between runs of the same code
        "peak_rss_mb": {"value": r["peak_rss_kb"] / 1024.0, "unit": "MB"},
        "store_bytes_per_user_byte": {
            "value": e2e["store_bytes_per_user_byte"][0], "unit": "ratio"},
        "inputs": r["inputs"],
    }
    extra = r["extra"]
    if "dice_s" in extra:
        # the dice step of each pass of the untraced loop (the list goes
        # on with the later loops' passes)
        dice_s = extra["dice_s"][:len(op_s)]
        out["dice_rows_per_s"] = {
            "value": extra["dice_rows"] / max(1e-9, median(dice_s)),
            "unit": "1/s", "n": len(dice_s)}
    return out


class Trace:
    """Indexes of a traced run's records, each attributed to the root span
    (one operation or one lookup of the timed loop) that caused it."""

    def __init__(self, t):
        self.spans = t["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.self_ms = self_times(self.spans)
        self.jobs = t["jobs"]
        stage_span = {}
        for st in t["stages"]:
            stage_span[st["id"]] = st["span"]
        self.stage_span = stage_span
        self.tasks = [k for k in t["tasks"] if k["stage"] in stage_span]
        self.roots = [s for s in self.spans if s["parent"] == 0]
        self.ops = [s for s in self.roots if s["name"] != "lookup"]
        self.lookups = [s for s in self.roots if s["name"] == "lookup"]
        job_root = {j["sql"]: self.root(j["span"]) for j in self.jobs
                    if j["sql"] >= 0}
        self.sqls = []
        for q in t["sqls"]:
            root = job_root.get(q["id"]) or self.root_at(q["start"])
            self.sqls.append((q, root))

    def root(self, span_id):
        s = self.by_id.get(span_id)
        while s is not None and s["parent"] != 0:
            s = self.by_id.get(s["parent"])
        return s["id"] if s else None

    def within(self, span_id, ancestor):
        s = self.by_id.get(span_id)
        while s is not None:
            if s["id"] == ancestor:
                return True
            s = self.by_id.get(s["parent"])
        return False

    def root_at(self, t_ms):
        for s in self.roots:
            if s["start"] <= t_ms <= s["end"]:
                return s["id"]
        return None

    def op_ids(self):
        return {s["id"] for s in self.ops}

    def tasks_under(self, span_ids):
        return [k for k in self.tasks
                if any(self.within(self.stage_span[k["stage"]], i)
                       for i in span_ids)]


def per_layer(r):
    """The per-layer metrics of the traced loop. Counts and times are per
    operation of the loop (lookups excluded) unless named otherwise; the
    lookup verb is per lookup."""
    tr = Trace(r["trace"])
    cores = r["cores"]
    n_ops = max(1, len(tr.ops))
    ops = tr.op_ids()
    op_jobs = [j for j in tr.jobs if tr.root(j["span"]) in ops]
    op_stage_ids = {sid for sid, sp in tr.stage_span.items()
                    if tr.root(sp) in ops}
    op_tasks = [k for k in tr.tasks if k["stage"] in op_stage_ids]
    op_sqls = [q for q, root in tr.sqls if root in ops]
    wall_ms = sum(s["end"] - s["start"] for s in tr.ops)
    task_iv = [(k["launch"], k["finish"]) for k in tr.tasks]
    idle = sum((s["end"] - s["start"])
               - union_length(clip(task_iv, s["start"], s["end"]))
               for s in tr.ops)

    def total(key, tasks=op_tasks):
        return sum(k[key] for k in tasks)

    def sched_delay(k):
        return max(0.0, (k["finish"] - k["launch"]) - k["run_ms"]
                   - k["deser_ms"] - k["result_ser_ms"] - k["getting_ms"])

    skew = 1.0
    by_stage = {}
    for k in op_tasks:
        if k["ok"]:
            by_stage.setdefault(k["stage"], []).append(k["run_ms"])
    for times in by_stage.values():
        if len(times) >= cores:
            skew = max(skew, max(times) / max(1.0, median(times)))
    scan = [k for k in op_tasks if k["in_records"] > 0]

    m = {
        "driver.jobs": len(op_jobs) / n_ops,
        "driver.stages": len(op_stage_ids) / n_ops,
        "driver.tasks": len(op_tasks) / n_ops,
        "driver.sql_executions": len(op_sqls) / n_ops,
        "driver.analysis_ms": sum(q["analysis_ms"] for q in op_sqls) / n_ops,
        "driver.optimization_ms":
            sum(q["optimization_ms"] for q in op_sqls) / n_ops,
        "driver.planning_ms": sum(q["planning_ms"] for q in op_sqls) / n_ops,
        "driver.codegen_compiles": sum(s["codegen"] for s in tr.ops) / n_ops,
        "driver.idle_gap_ms": idle / n_ops,
        "driver.ms_per_job": idle / max(1, len(op_jobs)),
        "executor.run_ms": total("run_ms") / n_ops,
        "executor.cpu_ms": total("cpu_ms") / n_ops,
        "executor.gc_ms": total("gc_ms") / n_ops,
        "executor.scheduler_delay_ms":
            sum(sched_delay(k) for k in op_tasks) / n_ops,
        "executor.busy_share": total("run_ms") / max(1e-9, wall_ms * cores),
        "executor.task_skew": skew,
        "shuffle.write_bytes": total("shuffle_write") / n_ops,
        "shuffle.read_bytes": total("shuffle_read") / n_ops,
        "shuffle.fetch_wait_ms": total("fetch_wait_ms") / n_ops,
        "spill.memory_bytes": total("spill_mem") / n_ops,
        "spill.disk_bytes": total("spill_disk") / n_ops,
        "io.input_bytes": total("in_bytes") / n_ops,
        "io.input_records": total("in_records") / n_ops,
        "io.files_read": sum(q["files_read"] for q in op_sqls) / n_ops,
        "io.output_bytes": total("out_bytes") / n_ops,
        "sources.partitions": len(scan) / n_ops,
        "sources.rows_per_partition":
            total("in_records", scan) / max(1, len(scan)),
    }

    def spans_of(layer, name):
        return [s for s in tr.spans if s["layer"] == layer
                and s["name"] == name]

    core = [s for s in tr.spans if s["layer"] == "core"]
    m["core.mapreduce_ms"] = sum(s["end"] - s["start"] for s in core) / n_ops
    dice = spans_of("core", "mapreduce_dice")
    dice_tasks = tr.tasks_under({s["id"] for s in dice})
    m["core.dice_ms"] = sum(s["end"] - s["start"] for s in dice) / n_ops
    m["core.dice_tasks"] = len(dice_tasks) / n_ops
    m["core.dice_scheduler_delay_ms"] = \
        sum(sched_delay(k) for k in dice_tasks) / n_ops
    verbs = [s for s in tr.spans if s["layer"] == "streaming"
             and s["name"] != "lookup"]
    verb_ids = {s["id"] for s in verbs}
    verb_jobs = [(j["start"], j["end"]) for j in tr.jobs
                 if any(tr.within(j["span"], i) for i in verb_ids)]
    m["core.par_overlap"] = mean_concurrency(
        verb_jobs, [(s["start"], s["end"]) for s in verbs])

    for op in OPERATORS:
        ss = spans_of("operators", op)
        ids = {s["id"] for s in ss}
        under = tr.tasks_under(ids)
        m[f"operators.{op}.ms"] = sum(s["end"] - s["start"] for s in ss) / n_ops
        m[f"operators.{op}.self_ms"] = sum(tr.self_ms[i] for i in ids) / n_ops
        m[f"operators.{op}.cpu_ms"] = total("cpu_ms", under) / n_ops
        m[f"operators.{op}.shuffle_bytes"] = \
            total("shuffle_write", under) / n_ops
    yields = r["extra"].get("verify_yield", [])
    m["operators.minhash_pairs.verify_yield"] = (
        sum(v for _, v in yields) / max(1, sum(c for c, _ in yields)))

    for verb in VERBS:
        ss = spans_of("streaming", verb)
        ids = {s["id"] for s in ss}
        per = max(1, len(tr.lookups)) if verb == "lookup" else n_ops
        m[f"streaming.{verb}.ms"] = sum(s["end"] - s["start"] for s in ss) / per
        m[f"streaming.{verb}.self_ms"] = sum(tr.self_ms[i] for i in ids) / per
        m[f"streaming.{verb}.jobs"] = sum(
            1 for j in tr.jobs
            if any(tr.within(j["span"], i) for i in ids)) / per
    seen = r["extra"].get("versions_visible", [])
    m["streaming.versions_visible"] = sum(seen) / len(seen) if seen else 0.0
    traced_ops = (r.get("traced") or {}).get("ops", [])
    user = sum(o["user_bytes"] for o in traced_ops)
    m["streaming.write_amplification"] = total("out_bytes") / max(1, user)

    # untraced loops ran before and after the traced one; their mean
    # brackets it, so JVM warm-up does not read as tracing overhead
    kind = r["latency_kind"]

    def op_median(loop):
        return median([o["s"] for o in (loop or {}).get("ops", [])
                       if o["kind"] == kind])

    untraced = [x for x in (op_median(r["plain"]),
                            op_median(r.get("plain_after"))) if x > 0]
    m["trace.overhead_ratio"] = op_median(r.get("traced")) / max(
        1e-9, sum(untraced) / max(1, len(untraced)))

    for layer in SPAN_LAYERS:
        own = sum(tr.self_ms[s["id"]] for s in tr.spans
                  if s["layer"] == layer and tr.root(s["id"]) in ops)
        m[f"wall_share.{layer}"] = own / max(1e-9, wall_ms)
    m["wall_share.driver_idle"] = idle / max(1e-9, wall_ms)
    return m


def self_time_table(r):
    """Per (layer, span name): calls, total and self milliseconds of the
    traced loop, largest self time first."""
    tr = Trace(r["trace"])
    rows = {}
    for s in tr.spans:
        key = (s["layer"], s["name"])
        n, tot, own = rows.get(key, (0, 0.0, 0.0))
        rows[key] = (n + 1, tot + s["end"] - s["start"],
                     own + tr.self_ms[s["id"]])
    return sorted(([l, n, c, round(t, 1), round(o, 1)]
                   for (l, n), (c, t, o) in rows.items()),
                  key=lambda x: -x[4])
