"""Per-layer metrics from a traced run.

The trace file holds the spans the benchmark recorded around its calls
into the program (one root per query, tick or drain), and Spark's own
job, stage, query-planning and streaming-progress events.  A job belongs
to the span during which it started; its module is the call site Spark
recorded for it (``<method> at <File>.scala:<line>``), taken from its SQL
execution when it ran as part of one.  Ticks are split
into ingest / etl / report by bytes on disk (the ledger is ingest's last
write, the report file the tick's last) and by the etl jobs' own times.

``per_op`` gives the layer figures of every operation (the trace's
per-query detail); ``summarise`` reduces them to the per-layer metrics,
each summed per pass (catalog) or taken per tick or drain (loan_ingest),
then the median over the run.
"""
import json
import re
import statistics

# every per-layer metric the benchmark reports, with its unit
PER_LAYER = {
    "setup_wall_s": "s", "pass_s": "s", "query_geomean_s": "s",
    "construct.s": "s", "construct.jobs": "count",
    "scan_open.s": "s", "scan_open.jobs": "count",
    "plan.s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.task_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes", "scan.input_bytes": "bytes",
    "driver_gap.s": "s", "gc.s": "s", "jit.s": "s",
    "cached_after.frames": "count", "cached_after.bytes": "bytes",
    "tick_s": "s", "ingest.s": "s", "ingest.bytes_written": "bytes",
    "etl.s": "s", "etl.jobs": "count", "etl.infer.s": "s", "etl.impute.s": "s",
    "etl.write.s": "s", "etl.input_bytes": "bytes",
    "etl.rows_read_per_new_row": "rows/row", "etl.bytes_written": "bytes",
    "report.s": "s", "tick_write_amp": "bytes/byte",
    "microbatch_s": "s", "stream.start.s": "s", "stream.offsets.s": "s",
    "stream.planning.s": "s", "stream.add_batch.s": "s", "stream.wal_commit.s": "s",
    "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "stored_bytes_per_input_byte": "bytes/byte",
    "jvm.peak_rss_mb": "MB",
}

# summed over a pass; everything else is per tick or drain
_PER_PASS = {k for k in PER_LAYER if k.split(".")[0] in (
    "construct", "scan_open", "plan", "execute", "shuffle", "spill", "scan",
    "driver_gap", "gc", "jit", "cached_after")}

_SITE = re.compile(r"^(\w+) at (\w+)\.scala")


def _site(job):
    m = _SITE.match(job.get("call_site") or "")
    return (m.group(1), m.group(2)) if m else ("", "")


def _union(intervals, lo=None, hi=None):
    """Total length of the union of [a, b] intervals, clipped to [lo, hi]."""
    iv = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            iv.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _iso_ms(ts):
    import datetime as dt
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000.0


class Trace:
    def __init__(self, path):
        with open(path, encoding="utf-8") as f:
            t = json.load(f)
        self.spans = t["spans"]
        self.jobs = {}
        for e in t["jobs"]:
            self.jobs.setdefault(e["job"], {}).update(
                {k: v for k, v in e.items() if k != "event"})
        self.jobs = [j for j in self.jobs.values() if "start_ms" in j]
        sites = {e["execution"]: e["call_site"] for e in t["sql"] if "call_site" in e}
        for j in self.jobs:
            j.setdefault("end_ms", j["start_ms"])
            # a job of a SQL execution carries the execution's call site
            if j.get("execution") in sites:
                j["call_site"] = sites[j["execution"]]
        stage_job = {}
        for j in sorted(self.jobs, key=lambda j: j["job"]):
            for s in j["stages"]:
                stage_job.setdefault(s, j["job"])
        self.stages_by_job = {}
        for s in t["stages"]:
            if s["submit_ms"] < 0 or s["complete_ms"] < 0:
                continue
            self.stages_by_job.setdefault(stage_job.get(s["stage"]), []).append(s)
        self.plans = t["plans"]
        self.progress = [p for p in t["stream"] if "batchId" in p]
        self.notes = [s for s in self.spans if s["name"] == "round_end"]

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start_ms"] < hi]

    def stages_of(self, jobs):
        return [s for j in jobs for s in self.stages_by_job.get(j["job"], [])]


def _stage_sums(stages):
    g = lambda k: sum(s.get(k, 0) for s in stages)
    return {"execute.stages": len(stages), "execute.tasks": g("tasks"),
            "execute.task_s": g("task_ms") / 1000.0,
            "shuffle.write_bytes": g("shuffle_write_bytes"),
            "shuffle.read_bytes": g("shuffle_read_bytes"),
            "spill.bytes": g("spill_bytes"), "scan.input_bytes": g("input_bytes")}


def _query(tr, root, children, op):
    lo, hi = root["start_ms"], root["end_ms"]
    wall = (hi - lo) / 1000.0
    c = children.get("construct")
    x = children.get("execute")
    jobs = tr.jobs_in(lo, hi)
    stages = tr.stages_of(jobs)
    iv = lambda ss: [(s["submit_ms"], s["complete_ms"]) for s in ss]
    m = {"construct.s": 0.0, "construct.jobs": 0, "plan.s": 0.0, "execute.s": 0.0,
         "execute.jobs": 0}
    if c:
        m["construct.s"] = (c["end_ms"] - c["start_ms"]) / 1000.0
        m["construct.jobs"] = len(tr.jobs_in(c["start_ms"], c["end_ms"]))
    gap = 0.0
    if x:
        xj = tr.jobs_in(x["start_ms"], x["end_ms"])
        plan_iv = [(p["start_ms"], p["end_ms"]) for q in tr.plans
                   for k, p in q["phases"].items()
                   if k in ("analysis", "optimization", "planning")
                   and p["end_ms"] > x["start_ms"] and p["start_ms"] < x["end_ms"]]
        m["plan.s"] = _union(plan_iv, x["start_ms"], x["end_ms"]) / 1000.0
        m["execute.s"] = _union(iv(tr.stages_of(xj)), x["start_ms"], x["end_ms"]) / 1000.0
        m["execute.jobs"] = len(xj)
        covered = _union(plan_iv + iv(tr.stages_of(xj)), x["start_ms"], x["end_ms"])
        gap = max(0.0, (x["end_ms"] - x["start_ms"]) - covered) / 1000.0
    m.update(_stage_sums(stages))
    scan = [j for j in jobs if _site(j) == ("parquet", "Queries")]
    m["scan_open.jobs"] = len(scan)
    m["scan_open.s"] = _union([(j["start_ms"], j["end_ms"]) for j in scan]) / 1000.0
    m["driver_gap.s"] = max(0.0, (hi - lo) - _union(iv(stages), lo, hi)) / 1000.0
    m["gc.s"] = root.get("gc_ms", 0) / 1000.0
    m["cached_after.frames"] = op.get("cached_rdds", 0) + op.get("cached_plans", 0)
    m["cached_after.bytes"] = op.get("cached_bytes", 0)
    # each layer from its own source: the construct span, the planning
    # tracker, the stage events; the action's driver time that none of them
    # covers is reported apart, not added in
    layers = {"construct": m["construct.s"], "plan": m["plan.s"], "execute": m["execute.s"]}
    return m, layers, wall, {"unattributed_s": gap}


_ETL = {"Pipeline", "Impute", "Dates"}


def _tick(tr, root, op, new_rows):
    lo, hi = root["start_ms"], root["end_ms"]
    wall = (hi - lo) / 1000.0
    jobs = tr.jobs_in(lo, hi)
    etl = [j for j in jobs if _site(j)[1] in _ETL]
    span = lambda js: _union([(j["start_ms"], j["end_ms"]) for j in js]) / 1000.0
    m = {"tick_s": wall}
    ingest_end = op["ledger_mtime_ms"] if op.get("ledger_mtime_ms", -1) >= lo else lo
    etl_lo = min((j["start_ms"] for j in etl), default=ingest_end)
    etl_hi = max((j["end_ms"] for j in etl), default=etl_lo)
    report_end = op["report_mtime_ms"] if op.get("report_mtime_ms", -1) >= etl_hi else etl_hi
    m["ingest.s"] = (ingest_end - lo) / 1000.0
    m["ingest.bytes_written"] = op.get("ingest_bytes", 0)
    m["etl.s"] = (etl_hi - etl_lo) / 1000.0
    m["etl.jobs"] = len(etl)
    m["etl.infer.s"] = span([j for j in etl if _site(j) == ("csv", "Pipeline")])
    m["etl.impute.s"] = span([j for j in etl if _site(j)[1] == "Impute"])
    m["etl.write.s"] = span([j for j in etl if _site(j) == ("parquet", "Pipeline")])
    st = tr.stages_of(etl)
    m["etl.input_bytes"] = sum(s.get("input_bytes", 0) for s in st)
    m["etl.rows_read_per_new_row"] = sum(s.get("input_records", 0) for s in st) / new_rows
    m["etl.bytes_written"] = op.get("etl_bytes", 0)
    m["report.s"] = (report_end - etl_hi) / 1000.0
    m["tick_write_amp"] = op.get("written_bytes", 0) / max(1, op.get("arrived_bytes", 0))
    layers = {"ingest": m["ingest.s"], "etl": m["etl.s"], "report": m["report.s"]}
    return m, layers, wall, {}


def _drain(tr, root):
    lo, hi = root["start_ms"], root["end_ms"]
    prog = [p for p in tr.progress if lo <= _iso_ms(p["timestamp"]) <= hi]
    d = lambda *keys: sum(p.get("durationMs", {}).get(k, 0) for p in prog for k in keys) / 1000.0
    m = {"microbatch_s": (hi - lo) / 1000.0}
    m["stream.start.s"] = ((_iso_ms(prog[0]["timestamp"]) - lo) / 1000.0) if prog else 0.0
    m["stream.offsets.s"] = d("latestOffset", "getBatch", "getOffset")
    m["stream.planning.s"] = d("queryPlanning")
    m["stream.add_batch.s"] = d("addBatch")
    m["stream.wal_commit.s"] = d("walCommit", "commitOffsets")
    last = [p for p in prog if p.get("stateOperators")]
    ops = last[-1]["stateOperators"] if last else []
    m["stream.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
    m["stream.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
    return m


def per_op(trace_path, ops, new_rows_per_batch):
    """Layer figures for every timed, successful operation."""
    tr = Trace(trace_path)
    roots = {}
    children = {}
    for s in tr.spans:
        if s["parent"] == 0 and s["name"] in ("query", "tick", "drain"):
            roots[(s["name"], s["op"], s["pass"])] = s
    for s in tr.spans:
        if s["parent"] != 0:
            children.setdefault(s["parent"], {})[s["name"]] = s
    out = []
    for op in ops:
        if not op["timed"] or op.get("error") or op.get("check_failed"):
            continue
        root = roots.get((op["kind"], op["name"], op["pass"]))
        if root is None:
            continue
        rec = {"kind": op["kind"], "name": op["name"], "pass": op["pass"]}
        if op["kind"] == "drain":
            rec["metrics"] = _drain(tr, root)
        else:
            if op["kind"] == "query":
                m, layers, wall, apart = _query(tr, root, children.get(root["id"], {}), op)
            else:
                m, layers, wall, apart = _tick(tr, root, op, new_rows_per_batch)
            rec.update(apart, metrics=m, layers_s=layers, wall_s=wall,
                       reconcile=sum(layers.values()) / wall if wall > 0 else 1.0)
        # JIT compiler time during the operation: in a fresh JVM, most of
        # its CPU seconds
        rec["metrics"]["jit.s"] = op["jit_s"]
        out.append(rec)
    stored = {}
    for n in tr.notes:
        stored[n["pass"]] = n["dag_bytes"] + n["stream_bytes"]
    return out, stored


def summarise(records, stored, input_bytes_per_round):
    """Median over the run of each per-layer metric (0 where the layer does
    not run in this workload).
    """
    per_pass = {}
    per_item = {}
    for r in records:
        for k, v in r["metrics"].items():
            if k in _PER_PASS:
                per_pass.setdefault(k, {}).setdefault(r["pass"], 0.0)
                per_pass[k][r["pass"]] += v
            else:
                per_item.setdefault(k, []).append(v)
    out = {k: 0.0 for k in PER_LAYER}
    out["reconcile.worst"] = 1.0
    for k, by_pass in per_pass.items():
        out[k] = statistics.median(by_pass.values())
    for k, vals in per_item.items():
        out[k] = statistics.median(vals)
    if stored and input_bytes_per_round:
        out["stored_bytes_per_input_byte"] = statistics.median(
            v / input_bytes_per_round for v in stored.values())
    rec = [r["reconcile"] for r in records if "reconcile" in r]
    if rec:
        out["reconcile.worst"] = max(rec, key=lambda x: abs(x - 1.0))
    return out
