"""Per-layer attribution of a traced run.

The harness records driver spans (step -> table -> the real
loadIncremental call -> the JDBC connections it opens, split by opener
into watermark probe / staging / promotion; or sweep -> query -> builder
call / action), every Spark job with its task totals, and every Catalyst
phase interval. Here jobs and phases are attached to the innermost
driver span that contains their start; the jobs under one span are
merged into union segments, so concurrent jobs are not counted twice. A
span's self time is its duration minus the union of its children, jobs
and phases.

The consistency gate compares the self-times of the real layers (every
layer but the harness's own bookkeeping) with the traced passes' wall
time as the harness timed it, independently of the spans. A call that
no layer span covers lands in the harness layer and fails the gate
beyond 10%; so does double counting.
"""
import re
import statistics

FAMILIES = ["tracking", "events", "q", "sql", "d", "g", "sk"]
LAYERS = ["harness", "etl", "sink.watermark", "sink.stage", "sink.promote", "sink",
          "operators", "driver", "catalyst", "spark"]
SLACK_NS = 1_000_000  # job and phase stamps have millisecond resolution


def union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def measure(intervals):
    return sum(e - s for s, e in union(intervals))


def family(name):
    """Leading letters of a query name; the ETL table steps are their own."""
    return re.match(r"[A-Za-z]*", name).group(0)


def per_layer(res, cores):
    spans = [dict(s) for s in res["spans"]]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] < 0]
    for s in spans:
        s["children"] = []
        s["jobs"] = []
        s["phases"] = []
    for s in spans:
        if s["parent"] >= 0:
            by_id[s["parent"]]["children"].append(s)

    def innermost(t):
        best = None
        for s in spans:
            if s["start"] - SLACK_NS <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best

    clipped = 0
    jobs = [j for j in res["jobs"] if j["end"] > 0]
    for j in jobs:
        owner = innermost(j["start"])
        j["owner"] = owner
        if owner:
            owner["jobs"].append(j)
            clipped += max(0, j["end"] - owner["end"])
    for p in res["phases"]:
        owner = innermost(p["start"])
        if owner:
            owner["phases"].append(p)
            clipped += max(0, p["end"] - owner["end"])

    def clip(iv, s):
        return [(max(a, s["start"]), min(b, s["end"])) for a, b in iv
                if min(b, s["end"]) > max(a, s["start"])]

    self_by_layer = {l: 0 for l in LAYERS}
    for s in spans:
        jobseg = union(clip([(j["start"], j["end"]) for j in s["jobs"]], s))
        phases = clip([(p["start"], p["end"]) for p in s["phases"]], s)
        kids = clip([(c["start"], c["end"]) for c in s["children"]], s)
        s["job_ns"] = measure(jobseg)
        s["phase_ns"] = sum(b - a for a, b in phases)
        # the union only sets this span's self time; every child still
        # reports its full length, so overlap surfaces in the layer sum
        covered = measure(kids + jobseg + phases)
        s["self_ns"] = s["end"] - s["start"] - covered
        self_by_layer[s["layer"]] = self_by_layer.get(s["layer"], 0) + s["self_ns"]
        self_by_layer["spark"] += s["job_ns"]
        self_by_layer["catalyst"] += s["phase_ns"]

    def under(s):
        out = [s]
        for c in s["children"]:
            out += under(c)
        return out

    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    traced_rows = sum(sum(p["load_rows"]) + sum(sum(b) for b in p["batch_rows"])
                      for p in traced if "load_rows" in p)
    wall_ns = sum(r["end"] - r["start"] for r in roots)
    self_sum = sum(self_by_layer.values())
    owned = [j for j in jobs if j["owner"] is not None]
    tot = lambda k: sum(j[k] for j in owned)
    named = lambda layer, name=None: [s for s in spans if s["layer"] == layer
                                      and (name is None or s["name"] == name)]
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e9
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    # etl.Pipelines: the driver time of a loadIncremental call between its
    # watermark probe and the first job, phase or connection after it is
    # the pipeline build (Pipelines.tracking/events: listing + plan)
    loads = named("etl", "loadIncremental")
    build_ns = 0
    for s in loads:
        wm_end = max([c["end"] for c in s["children"] if c["layer"] == "sink.watermark"],
                     default=s["start"])
        after = [x["start"] for x in s["children"] + s["jobs"] + s["phases"]
                 if x["start"] >= wm_end]
        build_ns += min(after, default=s["end"]) - wm_end
    prefix = res.get("prefix", {})
    ev, tr = prefix.get("events", {}), prefix.get("tracking", {})
    put("etl.build_s", build_ns / 1e9 / n, "s")
    put("etl.prepass_s", sum(s["job_ns"] for s in loads) / 1e9 / n, "s")
    put("etl.load_s", dur([r for r in roots if r["name"] == "load"]) / n, "s")
    put("etl.batches_s", dur([r for r in roots if r["name"] == "batch"]) / n, "s")
    put("etl.scan_s", ev.get("scan", 0) + tr.get("scan", 0), "s")
    put("etl.parse_s", ev.get("parse", 0) - ev.get("scan", 0), "s")
    put("etl.explode_s", ev.get("explode", 0) - ev.get("parse", 0), "s")
    put("etl.dedup_s", (ev.get("dedup", 0) - ev.get("explode", 0)) +
        (tr.get("dedup", 0) - tr.get("scan", 0)), "s")
    etl_jobs = [j for s in named("harness") if s["name"] in ("tracking", "events")
                for x in under(s) for j in x["jobs"]]
    bytes_read = sum(j["input_bytes"] for j in etl_jobs)
    put("etl.rows_scanned", sum(j["input_records"] for j in etl_jobs) / n, "rows")
    put("etl.rows_new", res.get("new_rows", 0) / n, "rows")
    put("etl.rows_out", res.get("rows_out", 0) / n, "rows")
    put("etl.bytes_read", bytes_read / n, "B")
    put("etl.bytes_new", res.get("new_bytes", 0) / n, "B")
    put("etl.read_amplification",
        bytes_read / res["new_bytes"] if res.get("new_bytes") else 0, "ratio")
    # etl.JdbcUpsert + etl.pgwire
    put("sink.stage_s", dur(named("sink.stage")) / n, "s")
    put("sink.promote_s", dur(named("sink.promote")) / n, "s")
    put("sink.watermark_s", dur(named("sink.watermark")) / n, "s")
    put("sink.rows_staged", traced_rows / n, "rows")
    pg = res.get("pg", {})
    put("sink.connections", max(0, pg.get("sessions", 1) - len(traced)) / n, "count")
    # Postgres
    rows = max(1, traced_rows)
    hit, read = pg.get("blks_hit", 0), pg.get("blks_read", 0)
    put("pg.tup_inserted", pg.get("tup_inserted", 0) / n, "rows")
    put("pg.tup_deleted", pg.get("tup_deleted", 0) / n, "rows")
    put("pg.temp_bytes", pg.get("temp_bytes", 0) / n, "B")
    put("pg.blks_hit", hit / n, "blocks")
    put("pg.blks_read", read / n, "blocks")
    put("pg.blks_hit_ratio", hit / (hit + read) if hit + read else 0, "ratio")
    put("pg.wal_bytes", pg.get("wal_bytes", 0) / n, "B")
    put("pg.wal_bytes_per_row", pg.get("wal_bytes", 0) / rows if pg else 0, "B/row")
    put("pg.table_bytes", res.get("pg_table_bytes", 0), "B")
    put("pg.table_rows", res.get("pg_rows", 0), "rows")
    put("pg.table_bytes_per_row",
        res["pg_table_bytes"] / res["pg_rows"] if res.get("pg_rows") else 0, "B/row")
    put("pg.checkpoints", pg.get("checkpoints", 0) / n, "count")
    # Catalyst
    for phase in ("analysis", "optimization", "planning"):
        total = sum(p["end"] - p["start"] for s in spans for p in s["phases"]
                    if p["name"] == phase)
        put(f"plan.{phase}_s", total / 1e9 / n, "s")
    # operators
    builds = named("operators", "build")
    put("op.build_s", dur(builds) / n, "s")
    put("op.exec_s", dur(named("driver", "exec")) / n, "s")
    put("op.build_jobs", sum(len(x["jobs"]) for b in builds for x in under(b)) / n, "count")
    ops = [s for s in named("harness") if s["parent"] >= 0 and
           by_id[s["parent"]]["parent"] < 0]
    for f in FAMILIES:
        put(f"family.{f}_s", dur([s for s in ops if family(s["name"]) == f]) / n, "s")
    # Spark engine
    gap = sum((s["end"] - s["start"]) -
              measure(clip([(j["start"], j["end"]) for x in under(s) for j in x["jobs"]], s))
              for s in ops)
    put("spark.jobs", len(owned) / n, "count")
    put("spark.stages", tot("stages") / n, "count")
    put("spark.tasks", tot("tasks") / n, "count")
    put("spark.gap_s", gap / 1e9 / n, "s")
    put("spark.task_run_s", tot("run_ms") / 1e3 / n, "s")
    put("spark.task_cpu_s", tot("cpu_ns") / 1e9 / n, "s")
    put("spark.gc_s", tot("gc_ms") / 1e3 / n, "s")
    put("spark.input_bytes", tot("input_bytes") / n, "B")
    put("spark.shuffle_read_bytes", tot("shuffle_read") / n, "B")
    put("spark.shuffle_write_bytes", tot("shuffle_write") / n, "B")
    put("spark.spill_bytes", tot("spill") / n, "B")
    put("spark.core_util", tot("run_ms") / 1e3 / (wall_ns / 1e9 * cores) if wall_ns else 0,
        "ratio")
    # trace bookkeeping
    for l in LAYERS:
        put(f"self.{l}_s", self_by_layer[l] / 1e9 / n, "s")
    tw = [p["wall_s"] for p in traced]
    uw = [p["wall_s"] for p in untraced]
    put("trace.wall_s", wall_ns / 1e9 / n, "s")
    put("trace.self_sum_s", self_sum / 1e9 / n, "s")
    put("trace.harness_share", self_by_layer["harness"] / wall_ns if wall_ns else 0, "ratio")
    # the real layers against the traced passes' wall time as timed
    layered_s = (self_sum - self_by_layer["harness"]) / 1e9
    consistency = layered_s / sum(tw) if tw else 0
    put("trace.consistency", consistency, "ratio")
    put("trace.clipped_s", clipped / 1e9 / n, "s")
    put("trace.unattributed_jobs",
        sum(1 for j in jobs if j["owner"] is None and any(
            r["start"] <= j["start"] <= r["end"] for r in roots)), "count")
    put("trace.traced_pass_s", statistics.median(tw) if tw else 0, "s")
    put("trace.untraced_pass_s", statistics.median(uw) if uw else 0, "s")
    # each traced pass against the mean of its untraced neighbours, so the
    # JIT warming between passes does not read as (negative) overhead
    ps = res["passes"]
    diffs = [ps[i]["wall_s"] - (ps[i - 1]["wall_s"] + ps[i + 1]["wall_s"]) / 2
             for i in range(1, len(ps) - 1)
             if ps[i]["traced"] and not ps[i - 1]["traced"] and not ps[i + 1]["traced"]]
    put("trace.overhead_s", statistics.mean(diffs) if diffs else 0, "s")
    artifact = {
        "metrics": m,
        "consistency": consistency,
        "consistent": bool(tw) and abs(consistency - 1) <= 0.10 and
        abs(self_sum / wall_ns - 1) <= 0.10,
        "spans": [{k: s[k] for k in ("id", "name", "layer", "group", "parent", "start",
                                      "end", "self_ns", "job_ns", "phase_ns")}
                  for s in spans],
        "jobs": [{k: v for k, v in j.items() if k != "owner"} |
                 {"span": j["owner"]["id"] if j["owner"] else None} for j in jobs],
        "phases": res["phases"],
        "passes": res["passes"],
    }
    return m, artifact
