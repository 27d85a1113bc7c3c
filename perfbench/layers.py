"""Per-layer metrics of a traced run, and the accounting checks.

Inputs: the benchmark's spans (tracing.Tracer), the Spark event log of
the run, the streaming progress every query reported, and the
workload's own records. Every metric listed in LAYER_UNITS is reported
on every workload; a layer the workload bypasses reads 0.

Per-op values are medians over the timed ops (spans named ``op`` other
than set-up). Times of a layer inside an op are the summed durations of
its spans in that op.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from datetime import datetime

from tracing import attribute, covered, read_event_log

OPERATOR_MODULES = (
    "relational",
    "topk",
    "olap",
    "windows",
    "sketches",
    "graph",
    "dedup",
    "text",
    "itemcf",
)
STREAMING_MODULES = ("candidates", "ann_index", "ann_search")
CACHE_NAMES = (
    "dedup._ARRAYS_CACHE",
    "dedup._POPCOUNTS_CACHE",
    "dedup._PAIRS_CACHE",
    "als._MODEL_CACHE",
    "als._SPLIT_CACHE",
    "als._CV_CACHE",
    "als._SWEEP_CACHE",
)
SPARK_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_run_ms", "ms"),
    ("task_cpu_ms", "ms"),
    ("gc_ms", "ms"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)
TRIGGER_FIELDS = (
    ("latest_offset_ms", "latestOffset"),
    ("planning_ms", "queryPlanning"),
    ("wal_commit_ms", "walCommit"),
    ("add_batch_ms", "addBatch"),
    ("commit_offsets_ms", "commitOffsets"),
    ("total_ms", "triggerExecution"),
)
# spans of one registered query, per engine module
MODULE_FAMILIES = [("operators", m) for m in OPERATOR_MODULES] + [
    ("streaming", m) for m in STREAMING_MODULES
]
# spans around layer calls timed as (metric, span name)
LAYER_SPANS = (
    ("als.split_s", "als.split"),
    ("als.fit_s", "als.fit"),
    ("als.eval_s", "als.eval"),
    ("als.recommend_s", "als.recommend"),
    ("foldin.solve_s", "foldin.solve"),
    ("ann.append_s", "ann.append"),
    ("ann.compact_s", "ann.compact"),
)
# ... and counted per op as (metric, span name)
LAYER_COUNTS = (
    ("ann.appends", "ann.append"),
    ("ann.compactions", "ann.compact"),
)
# micro-batches of a streaming query, read from its progress: (metric
# prefix, module of the registered query whose span held the trigger)
BATCH_LAYERS = (("score", "candidates"), ("search", "ann_search"))

LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tables.ratings_s": "s",
    "tables.scan_bytes": "B",
    "tables.scan_files": "count",
    "tables.scan_ms": "ms",
    "registry.build_s": "s",
    "registry.exec_s": "s",
}
for _fam, _m in MODULE_FAMILIES:
    LAYER_UNITS.update(
        {
            f"{_fam}.{_m}.wall_s": "s",
            f"{_fam}.{_m}.jobs": "count",
            f"{_fam}.{_m}.shuffle_bytes": "B",
            f"{_fam}.{_m}.driver_gap_s": "s",
        }
    )
LAYER_UNITS.update(
    {
        "als.split_s": "s",
        "als.fit_s": "s",
        "als.fit_jobs": "count",
        "als.fit_shuffle_bytes": "B",
        "als.eval_s": "s",
        "als.recommend_s": "s",
        "foldin.solve_s": "s",
        "foldin.python_rows": "count",
        "trigger.count": "count",
    }
)
for _name, _ in TRIGGER_FIELDS:
    LAYER_UNITS[f"trigger.{_name}"] = "ms"
LAYER_UNITS.update(
    {
        "state.rows_total": "count",
        "state.rows_updated": "count",
        "state.memory_bytes": "B",
        "state.commit_ms": "ms",
        "score.batch_s": "s",
        "score.batches": "count",
        "python.bytes_sent": "B",
        "python.exec_ms": "ms",
        "ann.append_s": "s",
        "ann.appends": "count",
        "ann.compact_s": "s",
        "ann.compactions": "count",
        "ann.output_bytes": "B",
        "search.batch_s": "s",
        "search.batches": "count",
    }
)
for _name, _unit in SPARK_COUNTERS:
    LAYER_UNITS[f"spark.{_name}"] = _unit
LAYER_UNITS["spark.driver_gap_s"] = "s"
for _c in CACHE_NAMES:
    LAYER_UNITS[f"cache.{_c}.entries"] = "count"
LAYER_UNITS.update(
    {
        "trace.op_s": "s",
        "trace.op_cpu_s": "s",
        "trace.op_cores": "cores",
        "trace.setup_s": "s",
        "trace.op_self_share_max": "ratio",
        "trace.task_time_attributed_share": "ratio",
        "env.calibration_s": "s",
        "mem.peak_rss_mb": "MB",
    }
)

# Spans that hold other spans rather than time a layer call. Accounting
# leaves them out: a job that only they hold ran outside every layer span.
ROOT_SPANS = frozenset({"op", "workload.warmup", "workload.run", "check", "env.calibration"})
# accounting tolerances: the op span's own time (inside no layer span) is
# at most OP_SELF_TOLERANCE of the op's wall time; the task time of the
# jobs submitted in timed ops that is held by a layer span is at least
# 1 - TASK_TOLERANCE of their total
OP_SELF_TOLERANCE = 0.02
TASK_TOLERANCE = 0.01


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _epoch(ts: str) -> float:
    """Seconds since the epoch of a streaming progress timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def layer_metrics(spans, log_dir, progress, workload, e2e, calibration, peak_rss):
    """(metrics, accounting) for one traced run."""
    elog = read_event_log(log_dir)
    jobs = elog["jobs"]
    by_id = {s["id"]: s for s in spans}
    job_ids = sorted(jobs)
    owner = dict(zip(job_ids, attribute(spans, [jobs[j]["start"] for j in job_ids])))

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    # jobs under each span (the span itself or any descendant)
    under: dict[int, list[int]] = defaultdict(list)
    for j, sid in owner.items():
        for s in ancestors(sid):
            under[s["id"]].append(j)

    def job_sum(span_ids, field):
        seen = {j for sid in span_ids for j in under.get(sid, [])}
        return sum(jobs[j][field] for j in seen) if field != "count" else len(seen)

    def sql_sum(span_ids, name):
        seen = {j for sid in span_ids for j in under.get(sid, [])}
        return sum(jobs[j]["sql"].get(name, 0.0) for j in seen)

    def gap(span_ids):
        """Span wall minus the union of its jobs' intervals."""
        total = 0.0
        for sid in span_ids:
            s = by_id[sid]
            iv = [
                (jobs[j]["start"], jobs[j]["end"] or s["end"])
                for j in under.get(sid, [])
            ]
            total += (s["end"] - s["start"]) - covered(iv, s["start"], s["end"])
        return total

    ops = timed_ops(spans)
    in_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            in_op[s["op"]].append(s)

    def per_op(fn, span: str | None = None) -> float:
        """Median over the timed ops of fn(op's spans, op span); with
        ``span``, only over the ops where a span of that name ran."""
        chosen = [
            o
            for o in ops
            if span is None or any(s["name"] == span for s in in_op[o["op"]])
        ]
        return _median(fn(in_op[o["op"]], o) for o in chosen)

    def named(op_spans, name, **attrs):
        return [
            s["id"]
            for s in op_spans
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        ]

    def dur(op_spans, name, **attrs):
        return sum(by_id[i]["end"] - by_id[i]["start"] for i in named(op_spans, name, **attrs))

    m: dict[str, float] = {}
    setup = [s for s in spans if s["op"] == "setup"]
    m["session.start_s"] = dur(setup, "session.start")
    m["session.warmup_s"] = dur(setup, "session.warmup")

    # tables: parquet scans of every job in the op
    m["tables.ratings_s"] = per_op(lambda sp, o: dur(sp, "tables.ratings"), "tables.ratings")
    m["tables.scan_bytes"] = per_op(lambda sp, o: job_sum([o["id"]], "input_bytes"))
    m["tables.scan_ms"] = per_op(lambda sp, o: sql_sum([o["id"]], "scan time"))
    files = {}
    for eid, ex in elog["executions"].items():
        files[eid] = (ex["start"], ex["driver"].get("number of files read", 0.0))
    exec_owner = dict(
        zip(list(files), attribute(spans, [t for t, _ in files.values()]))
    )

    def files_in(o):
        ids = {s["id"] for s in in_op[o["op"]]}
        return sum(files[e][1] for e, sid in exec_owner.items() if sid in ids)

    m["tables.scan_files"] = per_op(lambda sp, o: files_in(o))

    m["registry.build_s"] = per_op(lambda sp, o: dur(sp, "registry.build"), "registry.build")
    m["registry.exec_s"] = per_op(lambda sp, o: dur(sp, "registry.exec"), "registry.exec")
    for fam, mod in MODULE_FAMILIES:
        def ids_of(sp, mod=mod):
            return named(sp, "registry.build", module=mod) + named(
                sp, "registry.exec", module=mod
            )

        m[f"{fam}.{mod}.wall_s"] = per_op(
            lambda sp, o, f=ids_of: sum(by_id[i]["end"] - by_id[i]["start"] for i in f(sp)),
            "registry.build",
        )
        m[f"{fam}.{mod}.jobs"] = per_op(
            lambda sp, o, f=ids_of: job_sum(f(sp), "count"), "registry.build"
        )
        m[f"{fam}.{mod}.shuffle_bytes"] = per_op(
            lambda sp, o, f=ids_of: job_sum(f(sp), "shuffle_write_bytes"), "registry.build"
        )
        m[f"{fam}.{mod}.driver_gap_s"] = per_op(
            lambda sp, o, f=ids_of: gap(f(sp)), "registry.build"
        )

    for key, span in LAYER_SPANS:
        m[key] = per_op(lambda sp, o, n=span: dur(sp, n), span)
    for key, span in LAYER_COUNTS:
        m[key] = per_op(lambda sp, o, n=span: len(named(sp, n)), span)
    m["als.fit_jobs"] = per_op(lambda sp, o: job_sum(named(sp, "als.fit"), "count"), "als.fit")
    m["als.fit_shuffle_bytes"] = per_op(
        lambda sp, o: job_sum(named(sp, "als.fit"), "shuffle_write_bytes"), "als.fit"
    )
    m["foldin.python_rows"] = _median(
        o["foldin_rows"] for o in workload.ops if "foldin_rows" in o
    )
    m["ann.output_bytes"] = per_op(
        lambda sp, o: job_sum(named(sp, "registry.build", module="ann_index"), "output_bytes"),
        "ann.compact",
    )

    # streaming triggers and state: progress of the triggers that read
    # input and started inside a timed op, each with the module of the
    # registered query whose span held its start
    builds = [s for o in ops for s in in_op[o["op"]] if s["name"] == "registry.build"]
    prog = []
    for p in progress:
        if not p or p.get("numInputRows", 0) == 0:
            continue
        t = _epoch(p["timestamp"])
        op = next((o["op"] for o in ops if o["start"] <= t <= o["end"]), None)
        if op is not None:
            mod = next((b["module"] for b in builds if b["start"] <= t <= b["end"]), None)
            prog.append((op, mod, p))
    m["trigger.count"] = float(len(prog)) / max(1, len(ops))
    for name, field in TRIGGER_FIELDS:
        m[f"trigger.{name}"] = _median(p["durationMs"].get(field, 0) for _, _, p in prog)
    states = [st for _, _, p in prog for st in p.get("stateOperators", [])]
    m["state.rows_total"] = float(max((st["numRowsTotal"] for st in states), default=0))
    m["state.rows_updated"] = _median(st["numRowsUpdated"] for st in states)
    m["state.memory_bytes"] = float(max((st["memoryUsedBytes"] for st in states), default=0))
    m["state.commit_ms"] = _median(st.get("commitTimeMs", 0) for st in states)
    # a micro-batch's foreachBatch call (its scoring and sink write) is
    # the trigger's addBatch
    for prefix, mod in BATCH_LAYERS:
        per = [
            [
                p["durationMs"].get("addBatch", 0) / 1000.0
                for op, md, p in prog
                if op == o["op"] and md == mod
            ]
            for o in ops
        ]
        per = [x for x in per if x]
        m[f"{prefix}.batch_s"] = _median(sum(x) for x in per)
        m[f"{prefix}.batches"] = _median(len(x) for x in per)

    m["python.bytes_sent"] = per_op(
        lambda sp, o: sql_sum([o["id"]], "data sent to Python workers")
    )
    m["python.exec_ms"] = per_op(
        lambda sp, o: sql_sum([o["id"]], "time to run Python workers")
    )

    for name, _ in SPARK_COUNTERS:
        field = "count" if name == "jobs" else name
        m[f"spark.{name}"] = per_op(lambda sp, o, f=field: job_sum([o["id"]], f))
    m["spark.driver_gap_s"] = per_op(lambda sp, o: gap([o["id"]]))

    for c in CACHE_NAMES:
        m[f"cache.{c}.entries"] = float(
            max((o["cache"].get(c, 0) for o in workload.ops), default=0)
        )
    m["trace.op_s"] = e2e["op_s"]
    m["trace.op_cpu_s"] = e2e["op_cpu_s"]
    m["trace.op_cores"] = e2e["op_cores"]
    m["trace.setup_s"] = e2e["setup_s"]

    accounting = account(spans, jobs)
    m["trace.op_self_share_max"] = accounting["op_self_share_max"]
    m["trace.task_time_attributed_share"] = accounting["task_time_attributed_share"]
    m["env.calibration_s"] = calibration
    m["mem.peak_rss_mb"] = peak_rss
    missing = set(LAYER_UNITS) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: float(m[k]) for k in LAYER_UNITS}, accounting


def timed_ops(spans: list[dict]) -> list[dict]:
    """The op spans of the timed region (set-up is an op too, untimed)."""
    return [s for s in spans if s["name"] == "op" and s["op"] != "setup"]


def account(spans: list[dict], jobs: dict[int, dict]) -> dict:
    """The accounting check over the timed ops, counting only layer
    spans (every span not in ROOT_SPANS):

    1. the op span's own time, covered by none of its layer spans, is at
       most OP_SELF_TOLERANCE of the op's wall time: the layer spans
       account for the op;
    2. of the task time of the jobs submitted inside timed ops, at least
       1 - TASK_TOLERANCE belongs to jobs submitted inside a layer span:
       no layer call runs Spark work without a span.
    """
    problems = []
    ops = timed_ops(spans)
    layer = [s for s in spans if s["name"] not in ROOT_SPANS]
    worst = 0.0
    for o in ops:
        wall = o["end"] - o["start"]
        iv = [(s["start"], s["end"]) for s in layer if s["op"] == o["op"]]
        share = (wall - covered(iv, o["start"], o["end"])) / wall if wall > 0 else 0.0
        worst = max(worst, share)
        if share > OP_SELF_TOLERANCE:
            problems.append(
                f"op {o['op']}: {share:.1%} of its wall time is inside no layer span"
            )
    in_ops = [
        j for j, job in jobs.items() if any(o["start"] <= job["start"] <= o["end"] for o in ops)
    ]
    held = attribute(layer, [jobs[j]["start"] for j in in_ops])
    total = sum(jobs[j]["task_run_ms"] for j in in_ops)
    attributed = sum(jobs[j]["task_run_ms"] for j, sid in zip(in_ops, held) if sid is not None)
    share = attributed / total if total else 1.0
    if share < 1.0 - TASK_TOLERANCE:
        problems.append(
            f"task time in layer spans {attributed:.0f} ms of {total:.0f} ms in timed ops"
        )
    return {
        "ok": not problems,
        "problems": problems,
        "op_self_share_max": worst,
        "task_time_attributed_share": share,
        "op_self_tolerance": OP_SELF_TOLERANCE,
        "task_tolerance": TASK_TOLERANCE,
    }
