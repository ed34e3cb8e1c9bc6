"""Turns the harness's raw samples (`out.json`) into the run's report: the
end-to-end metrics, the per-layer split of the traced run, the host record
and the correctness verdict."""
from stats import inside, mean, median, percentile, self_time, union_length

# name -> unit of the metrics an untraced run prints
END_TO_END = {"setup_s": "s", "query_p50_s": "s", "cycle_s": "s"}

# name -> unit of the metrics a traced run prints; a layer a workload never
# calls reads 0
PER_LAYER = {
    "session.build_s": "s", "staged.prepare_s": "s", "staged.bytes_written": "bytes",
    "ingest.fetch_s": "s", "etl.transform_s": "s",
    "merge.latest_per_key_s": "s", "merge.upsert_s": "s",
    "commit.s": "s", "commit.bytes_written": "bytes", "commit.write_amp": "ratio",
    "warehouse.current_s": "s",
    "stream.batch_s": "s", "stream.self_s": "s", "stream.jobs_per_batch": "count",
    "jdbc.load_s": "s", "jdbc.failed": "count",
    "query.build_s": "s", "query.plan_s": "s", "query.exec_s": "s",
    "query.eager_jobs": "count", "query.persisted_rdds_after": "count",
    "query.jobs": "count", "query.stages": "count", "query.tasks": "count",
    "query.task_cpu_s": "s", "query.task_run_s": "s", "query.core_busy": "ratio",
    "query.exec_share": "ratio",
    "query.shuffle_read_bytes": "bytes", "query.shuffle_write_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "host.steal_cores": "cores", "host.core_busy": "ratio",
    "trace.overhead": "ratio", "trace.attributed_share_min": "ratio",
    "pipeline.initial_load_s": "s", "pipeline.freshness_p50_s": "s",
    "pipeline.ingest_rows_per_s": "1/s", "pipeline.stored_bytes_per_live_byte": "ratio",
}

# spans that stand for a layer inside one measured operation
LAYER_SPANS = ["ingest.fetch", "stream.runOnce", "warehouse.current",
               "query.build", "query.plan", "query.exec"]


def _dur(s):
    return (s["t1"] - s["t0"]) / 1e3


def _named(out, name):
    return [s for s in out["spans"] if s["name"] == name]


def _query_walls(out):
    """Per-query walls of the measured window, in seconds."""
    walls = []
    for op in out["ops"]:
        if op["ok"]:
            walls.extend([_dur(op)] if op["kind"] == "query" else op["query_s"])
    return walls


def _per_query(out, traced):
    by = {}
    for op in out["ops"]:
        if op["kind"] == "query" and op["ok"] and op["traced"] == traced:
            by.setdefault(op["name"], []).append(_dur(op))
    return by


def _deltas(out, traced=None):
    return [op["fresh_s"] for op in out["ops"] if op["kind"] == "delta" and op["ok"]
            and (traced is None or op["traced"] == traced)]


def end_to_end(workload, out):
    m = {"setup_s": median(out["setup_s"]),
         "query_p50_s": percentile(_query_walls(out), 0.5)}
    if workload == "emissions_pipeline":
        deltas = _deltas(out)
        if not deltas:
            raise ValueError("no delta file was measured")
        m["cycle_s"] = mean(deltas)
    else:
        m["cycle_s"] = sum(median(v) for v in _per_query(out, False).values())
    return m


def pipeline_figures(out):
    """The pipeline's own end-to-end figures (report and traced run)."""
    ops = [op for op in out["ops"] if op["ok"] and op["kind"] in ("load", "delta")]
    if not ops:
        return {"initial_load_s": 0.0, "freshness_p50_s": 0.0,
                "ingest_rows_per_s": 0.0, "stored_bytes_per_live_byte": 0.0}
    fresh = sum(op["fresh_s"] for op in ops)
    m = {"initial_load_s": median([op["fresh_s"] for op in ops if op["kind"] == "load"]),
         "freshness_p50_s": median(_deltas(out)),
         "ingest_rows_per_s": sum(op["raw_rows"] for op in ops) / fresh,
         "stored_bytes_per_live_byte": out["extra"].get("stored_bytes_per_live_byte", 0.0)}
    for p in (0.5, 0.9):
        try:
            m[f"freshness_p{round(p * 100)}_s"] = percentile(_deltas(out), p)
        except ValueError:
            pass            # too few delta files for this percentile
    return m


def per_layer(workload, out):
    """Every figure of a traced run; PER_LAYER names the printed ones."""
    stages = {s["id"]: s for s in out["stages"]}
    jobs = [j for j in out["jobs"] if "t1" in j]
    traced_ops = [op for op in out["ops"] if op["traced"] and op["ok"]]

    def jobs_in(s):
        return inside(s["t0"], s["t1"], jobs)

    def in_traced(name):
        return [s for s in _named(out, name)
                if any(op["t0"] <= s["t0"] and s["t1"] <= op["t1"] for op in traced_ops)]

    def med(name):
        return median([_dur(s) for s in _named(out, name)])

    probes = out["probes"]
    m = {"session.build_s": med("session.build"),
         "staged.prepare_s": med("staged.prepare"),
         "staged.bytes_written": float(out["extra"].get("staged.bytes_written", 0)),
         "ingest.fetch_s": median([_dur(s) for s in in_traced("ingest.fetch")]),
         "ingest.bytes": mean([s["bytes"] for s in in_traced("ingest.fetch")]),
         "etl.transform_s": med("etl.transform"),
         "merge.latest_per_key_s": med("merge.latest_per_key"),
         "merge.upsert_s": med("merge.upsert"),
         "commit.s": med("commit"),
         "warehouse.current_s": median([_dur(s) for s in in_traced("warehouse.current")])}
    for key in ("rows_in", "rows_out", "rows_inserted", "rows_updated"):
        layer = "etl" if key in ("rows_in", "rows_out") else "merge"
        m[f"{layer}.{key}"] = mean([p[key] for p in probes])
    m["etl.rows_dropped"] = m["etl.rows_in"] - m["etl.rows_out"]
    m["commit.bytes_written"] = mean([p["bytes_written"] for p in probes])
    m["commit.write_amp"] = mean([p["rows_written"] / p["rows_unique"]
                                  for p in probes if p["rows_unique"]])

    batches = in_traced("stream.runOnce")
    m["stream.batch_s"] = median([_dur(s) for s in batches])
    m["stream.self_s"] = median([self_time((s["t0"], s["t1"]),
                                           [(j["t0"], j["t1"]) for j in jobs_in(s)]) / 1e3
                                 for s in batches])
    m["stream.jobs_per_batch"] = mean([len(jobs_in(s)) for s in batches])

    loads = _named(out, "jdbc.load")
    m["jdbc.load_s"] = median([_dur(s) for s in loads if s["ok"]])
    m["jdbc.attempted"] = float(len(loads))
    m["jdbc.failed"] = float(sum(1 for s in loads if not s["ok"]))
    m["jdbc.rows"] = float(sum(s["raw_rows"] for s in loads))
    m["jdbc.errors"] = sorted({s["error"] for s in loads if not s["ok"]})

    builds, plans, execs = (in_traced(f"query.{k}") for k in ("build", "plan", "exec"))
    m["query.build_s"] = median([_dur(s) for s in builds])
    m["query.plan_s"] = median([_dur(s) for s in plans])
    m["query.exec_s"] = median([_dur(s) for s in execs])
    m["query.eager_jobs"] = mean([len(jobs_in(s)) for s in builds])
    m["query.persisted_rdds_after"] = float(max(
        [op.get("persisted_rdds", 0) for op in out["ops"]] or [0]))
    # one query execution: its build span's start to its exec span's end
    spans_q = [{"t0": b["t0"], "t1": e["t1"]} for b, e in zip(builds, execs)]
    jobs_q = [j for s in spans_q for j in jobs_in(s)]
    stages_q = [stages[sid] for j in jobs_q for sid in j["stages"] if sid in stages]
    n = max(1, len(spans_q))
    m["query.jobs"] = len(jobs_q) / n
    m["query.stages"] = len(stages_q) / n
    for key, stage_key in [("query.tasks", "tasks"), ("query.task_cpu_s", "cpu_s"),
                           ("query.task_run_s", "run_s"),
                           ("query.shuffle_read_bytes", "shuffle_read_bytes"),
                           ("query.shuffle_write_bytes", "shuffle_write_bytes"),
                           ("query.spill_bytes", "spill_bytes")]:
        m[key] = sum(s.get(stage_key, 0) for s in stages_q) / n
    wall_q = sum(_dur(s) for s in spans_q)
    m["query.core_busy"] = (m["query.task_run_s"] * n / (wall_q * out["host"]["spark_cores"])
                            if wall_q else 0.0)
    m["query.exec_share"] = sum(_dur(s) for s in execs) / wall_q if wall_q else 0.0

    w = out["window"]
    n_ops = max(1, len(out["ops"]))
    m["codegen.compile_s"] = w["codegen_compile_s"] / n_ops
    m["codegen.classes"] = w["codegen_classes"] / n_ops
    m["jvm.gc_s"] = w["gc_s"] / n_ops
    m["jvm.heap_peak_mb"] = w["heap_peak_mb"]
    m["host.steal_cores"] = w["steal_cores"]
    m["host.core_busy"] = w["busy_cores"] / out["host"]["nproc"]
    m["trace.overhead"] = overhead(workload, out)
    m["trace.attributed_share_min"] = attributed_share(out, traced_ops)
    for k, v in pipeline_figures(out).items():
        m[f"pipeline.{k}"] = v
    return m


def attributed_share(out, ops):
    """Smallest share, over traced operations, of the wall time covered by
    the layer spans inside it (the rest is the harness's own remainder)."""
    shares = []
    for op in ops:
        kids = [(s["t0"], s["t1"]) for s in out["spans"]
                if s["name"] in LAYER_SPANS and op["t0"] <= s["t0"] and s["t1"] <= op["t1"]]
        wall = op["t1"] - op["t0"]
        if wall > 0:
            shares.append(union_length(kids, op["t0"], op["t1"]) / wall)
    return min(shares) if shares else 0.0


def overhead(workload, out):
    """Traced vs untraced operations of the same run: the relative change of
    the median wall time, paired by query name where there are names."""
    if workload == "emissions_pipeline":
        t, u = _deltas(out, True), _deltas(out, False)
        return median(t) / median(u) - 1.0 if t and u else 0.0
    tq, uq = _per_query(out, True), _per_query(out, False)
    ratios = [median(tq[k]) / median(uq[k]) for k in tq if k in uq]
    return median(ratios) - 1.0 if ratios else 0.0


def report(workload, out, checks, traced):
    failures = list(out["failures"]) + list(checks["wrong"])
    attempted = len(out["ops"]) + checks["checked"]
    failed = sum(1 for op in out["ops"] if not op["ok"]) + len(checks["wrong"])
    figures, metrics = {}, {}
    try:
        figures = per_layer(workload, out) if traced else end_to_end(workload, out)
        units = PER_LAYER if traced else END_TO_END
        metrics = {k: {"value": float(figures[k]), "unit": u} for k, u in units.items()}
    except ValueError as e:      # too few samples for a reported percentile
        failures.append(f"metrics: {e}")
    return {"workload": workload, "traced": traced, "host": out["host"],
            "window": out["window"], "setup_s": out["setup_s"],
            "setup_cold_s": out["extra"].get("setup_cold_s", 0.0),
            "correct": not failures and bool(metrics),
            "attempted": max(1, attempted), "failed": failed,
            "failures": failures, "metrics": metrics, "figures": figures,
            "pipeline": pipeline_figures(out) if workload == "emissions_pipeline" else {}}
