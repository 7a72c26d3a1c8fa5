"""Metric catalogue, DuckDB output checks and the report of one run.

The metric names here are the ones BENCHMARK.json lists; `selftest.py`
checks that the two agree.
"""
WORKLOADS = ["snapshot", "microbatch", "curation"]

# name, unit; reported by every workload with --trace 0
END_TO_END = [
    ("op_s", "s"),
    ("setup_s", "s"),
    ("stored_bytes_per_row", "B/row"),
    ("peak_rss_mb", "MB"),
]


def _spans(spans, measures):
    return [(f"{s}.{m}", UNITS.get(m, "count")) for s in spans for m in measures]


UNITS = {"wall_s": "s", "task_s": "s", "max_task_s": "s", "driver_only_s": "s",
         "plan_s": "s", "shuffle_bytes": "B", "spill_bytes": "B", "output_bytes": "B",
         "bytes_read": "B", "keep_ratio": "ratio", "output_files": "count",
         "files_read": "count", "tasks": "count", "jobs": "count"}

_FULL = ["wall_s", "task_s", "max_task_s", "tasks", "jobs", "driver_only_s",
         "shuffle_bytes", "spill_bytes", "output_bytes"]

# reported with --trace 1 by every workload; a span the workload does not
# run reads 0 there
PER_LAYER = (
    # snapshot: Pipeline.run decomposed
    _spans(["sources.Tables.events"], ["wall_s", "task_s", "driver_only_s", "output_bytes"])
    + _spans(["operators.Dedup.latestEvents"], _FULL + ["plan_s", "keep_ratio"])
    + _spans(["operators.Dims.dimUser", "operators.Dims.dimEventType", "operators.Dims.dimDate"],
             ["wall_s", "task_s"])
    + _spans(["operators.Star.factStar"],
             ["wall_s", "task_s", "max_task_s", "tasks", "driver_only_s", "shuffle_bytes",
              "spill_bytes", "output_bytes", "output_files", "plan_s"])
    + _spans(["pipeline.Pipeline.readback"], ["wall_s", "task_s", "jobs", "driver_only_s"])
    + _spans(["operators.Quality.referentialIntegrity", "operators.Quality.countParity"],
             ["wall_s", "task_s"])
    # microbatch: upsertStarBatch(incrementalDims = true) decomposed
    + _spans(["streaming.StreamStar.upsertStarBatch"], ["wall_s", "driver_only_s"])
    + _spans(["operators.Dedup.keepLatestAgg"], ["wall_s", "task_s", "jobs", "driver_only_s"])
    + _spans(["operators.Dims.mergeDimUser", "operators.Dims.mergeDimEventType",
              "operators.Dims.mergeDimDate"], ["wall_s", "plan_s"])
    + _spans(["pipeline.Upsert.writeTableAtomic"],
             ["wall_s", "task_s", "tasks", "jobs", "driver_only_s", "output_bytes", "output_files"])
    + _spans(["streaming.StreamDedup.mergeBatchIntoSnapshot"],
             ["wall_s", "task_s", "max_task_s", "tasks", "jobs", "driver_only_s",
              "shuffle_bytes", "output_bytes", "output_files"])
    + _spans(["streaming.StreamDedup.readSnapshot"], ["wall_s"])
    + _spans(["pipeline.Upsert.replacePartitionsAtomic"],
             ["wall_s", "task_s", "tasks", "jobs", "driver_only_s", "output_bytes", "output_files"])
    + [("streaming.Committer.manifest_files", "count"), ("streaming.Committer.gc_bytes", "B"),
       ("batch_write_amp", "ratio"), ("batch_input_bytes", "B"),
       ("rows_rewritten_per_batch_row", "ratio")]
    # microbatch: the dashboard query mix after each batch
    + _spans(["operators.Star.dailyUserActivity"],
             ["wall_s", "task_s", "plan_s", "files_read", "bytes_read"])
    + _spans(["dashboard.scan_1d", "dashboard.scan_7d"], ["wall_s", "files_read", "bytes_read"])
    + _spans(["operators.Monitoring.results", "operators.Monitoring.lastStatus",
              "operators.Monitoring.dailySummary", "operators.Monitoring.sevenDaySummary",
              "operators.Monitoring.errors"], ["wall_s", "task_s", "plan_s"])
    # curation: Curation.run decomposed
    + _spans(["pipeline.Curation.curateStaged"], _FULL)
    + _spans(["pipeline.Curation.write"], ["wall_s", "task_s", "plan_s", "output_bytes"])
    + _spans(["pipeline.Curation.summary"], ["wall_s", "task_s"])
    # every workload
    + [("jvm.gc_s", "s"), ("spark.task_utilization", "ratio"), ("trace.op_s", "s"),
       ("trace.untraced_op_s", "s"), ("trace.overhead_s", "s")]
)


def derived_layers(layers):
    """Per-layer ratios computed from the JVM's raw counters."""
    out = dict(layers)
    rows = layers.get("batch_rows", 0)
    written = layers.get("streaming.StreamDedup.mergeBatchIntoSnapshot.output_records", 0)
    if rows:
        out["rows_rewritten_per_batch_row"] = written / rows
    return out


def _duck(res):
    import duckdb
    con = duckdb.connect()
    if res.get("events_sql"):
        con.execute(f"CREATE VIEW events AS {res['events_sql']}")
    if res.get("documents_sql"):
        con.execute(f"CREATE VIEW documents AS {res['documents_sql']}")
    return con


def compare(con, sql, got):
    """Multiset equality of the oracle's rows and the engine's rows over the
    same column names, with exact values, as tools/compare.py decides it."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE __exp AS {sql}")
    con.execute("CREATE OR REPLACE TEMP TABLE __got AS SELECT * FROM "
                f"read_parquet('{got}/**/*.parquet', hive_partitioning = false)")
    ec, gc = sorted(con.table("__exp").columns), sorted(con.table("__got").columns)
    if ec != gc:
        return f"columns differ: oracle {ec}, engine {gc}"
    cols = ", ".join(f'"{c}"' for c in ec)

    def count(query):
        return con.execute(f"SELECT count(*) FROM ({query})").fetchone()[0]

    n_exp, n_got = count("SELECT * FROM __exp"), count("SELECT * FROM __got")
    if n_exp != n_got:
        return f"rows differ: oracle {n_exp}, engine {n_got}"
    missing_q = f"SELECT {cols} FROM __exp EXCEPT ALL SELECT {cols} FROM __got"
    missing = count(missing_q)
    extra = count(f"SELECT {cols} FROM __got EXCEPT ALL SELECT {cols} FROM __exp")
    if missing or extra:
        sample = con.execute(f"{missing_q} LIMIT 2").fetchall()
        return f"{missing} oracle rows missing, {extra} extra, e.g. {sample}"
    return None


def oracle_checks(res):
    """Runs the DuckDB checks result.json lists; returns (n, failures)."""
    checks = res.get("oracles", [])
    if not checks:
        return 0, []
    con = _duck(res)
    failures = []
    for c in checks:
        try:
            if c["got"]:
                err = compare(con, c["sql"], c["got"])
            else:
                v = con.execute(c["sql"]).fetchone()[0]
                err = None if str(v) == c["expect"] else f"oracle {v}, engine {c['expect']}"
        except Exception as e:  # a broken output is a failed check, not a crash
            err = f"error {e}"
        if err:
            failures.append(f"{c['name']}: {err}")
    return len(checks), failures


def report(res, trace):
    lines = []
    n_checks, oracle_failures = oracle_checks(res)
    failures = res["failures"] + oracle_failures
    ops = int(res["attempted"])
    attempted = max(1, ops + n_checks)
    failed = min(attempted, len(failures))
    for f in failures:
        lines.append(f"[perfbench] FAIL {f}")
    if not trace and any(n not in res["metrics"] for n, _ in END_TO_END):
        lines.append("[perfbench] the workload aborted before reporting its metrics")
        return {"lines": lines, "result": None}
    info = res["info"]
    for k in ["nproc", "cores", "heap_max_mb", "calibration_before_s", "calibration_after_s",
              "host_steal_share",
              "session_s", "generate_s", "first_op_s", "verify_s", "op_samples",
              "op_s_samples", "ops_total"]:
        if k in info:
            lines.append(f"[perfbench] info {k} = {info[k]}")
    lines.append(f"[perfbench] info operations = {ops}, DuckDB comparisons = {n_checks}")
    lines.append(f"[perfbench] metric error_rate = {failed / attempted:.6g} ratio "
                 f"({failed} of {attempted})")
    if trace:
        layers = derived_layers(res["layers"])
        chosen = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                  for n, u in PER_LAYER}
    else:
        chosen = {n: res["metrics"][n] for n, _ in END_TO_END}
    for n, m in chosen.items():
        lines.append(f"[perfbench] metric {n} = {m['value']:.6g} {m['unit']}")
    return {"lines": lines,
            "result": {"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": chosen}}
