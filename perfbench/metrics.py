"""Turns the raw records of one benchmark JVM run into metrics.

Kept apart from run.py so the accounting and the output checks can be tested
without Spark: an operation that threw, or whose output did not match, is
counted as failed and never becomes a timing sample.
"""
import glob
import os
import re
import statistics

# The unit of work each workload counts, times and checks.
UNIT = {"redact_backlog": "epoch", "redact_paced": "slice",
        "table_ops": "stmt", "batch_gates": "gate"}

# A run has 3 (redact_backlog) to 20 (table_ops) latency samples, so the
# median is the highest percentile reported; p90 is printed for people only.
END_TO_END = ["setup_s", "work_per_s", "latency_p50_ms", "cpu_us_per_unit", "live_heap_mb"]
UNITS = {"setup_s": "s", "work_per_s": "1/s", "latency_p50_ms": "ms",
         "cpu_us_per_unit": "us", "live_heap_mb": "MB"}

# per-layer metric -> unit; "share" is the one higher-is-better figure
PER_LAYER = {
    "sources.scan_task_ms": "ms", "sources.input_mb": "MB", "sources.offset_ms": "ms",
    "sources.backlog_slices_max": "count", "gen.late_ms_max": "ms",
    "text.normalize_ns_per_turn": "ns", "text.redact_ns_per_turn": "ns",
    "text.redacted_share": "ratio",
    "sketch.update_ns_per_turn": "ns", "sketch.codec_ns_per_session": "ns",
    "stream.stateful_task_ms": "ms", "stream.stateful_cpu_ms": "ms", "stream.gc_ms": "ms",
    "stream.state_rows": "count", "stream.state_rows_updated": "count",
    "stream.state_mem_mb": "MB", "stream.state_commit_ms": "ms", "stream.state_delta_mb": "MB",
    "stream.task_skew": "ratio", "stream.dropped_late_rows": "count",
    "stream.plan_ms": "ms", "stream.wal_ms": "ms", "exec.idle_core_pct": "%",
    "exchange.shuffle_write_mb": "MB", "exchange.fetch_wait_ms": "ms",
    "sink.files_per_epoch": "count", "sink.mb_per_epoch": "MB", "sink.driver_commit_ms": "ms",
    "table.driver_ms_per_stmt": "ms", "table.job_ms_per_stmt": "ms",
    "table.jobs_per_stmt": "count", "table.manifest_files": "count",
    "table.manifest_read_ms": "ms", "table.files_written_per_stmt": "count",
    "table.point_read_ms": "ms", "table.delete_ms": "ms", "table.update_ms": "ms",
    "table.merge_ms": "ms", "table.asof_read_ms": "ms", "table.compact_ms": "ms",
    "operators.gates_s": "s", "ops.gates_s": "s", "functions.gates_s": "s",
    "gates.driver_s": "s", "gates.exec_cpu_s": "s", "gates.gc_s": "s", "gates.shuffle_mb": "MB",
    "trace.overhead_pct": "%", "trace.spans": "count",
}


def quantile(xs, q):
    """Linear-interpolated quantile (the same rule as the JVM side)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def account(ops, unit, mismatched=()):
    """Split the unit operations into (attempted, failed, ok samples).

    An op fails when it threw (``ok`` false, no timing) or when its output
    check did not match; ``mismatched`` holds ids whose check failed, either
    whole op ids or gate names matched against the part after ``<pass>-``.
    """
    units = [o for o in ops if o["kind"] in (unit, "warm")]
    bad = set(mismatched)

    def failed(o):
        return (not o["ok"]) or o["id"] in bad or o["id"].split("-", 1)[-1] in bad

    n_failed = sum(1 for o in units if failed(o))
    # untimed warm-up operations count as attempts, never as samples
    ok = [o for o in units if o["kind"] == unit and not failed(o)]
    return len(units), n_failed, ok


def end_to_end(r, mismatched=()):
    """End-to-end metrics of one untraced run: (attempted, failed, metrics)."""
    w = r["workload"]
    attempted, failed, ok = account(r["ops"], UNIT[w], mismatched)
    dur = [o["end_ms"] - o["start_ms"] for o in ok]
    if not ok:  # nothing succeeded: no figure to report
        return attempted, failed, {k: 0.0 for k in END_TO_END + ["latency_p90_ms", "samples"]}
    m = {"setup_s": statistics.median(r["setup_s"]), "live_heap_mb": r["live_heap_mb"]}
    if w == "redact_backlog":
        steady = [o for o in ok if not o.get("first")]
        m["work_per_s"] = (sum(o["units"] for o in steady)
                           / (sum(o["end_ms"] - o["start_ms"] for o in steady) / 1000.0))
        dur = [o["end_ms"] - o["start_ms"] for o in steady if o["units"] > 1]
        drains = [d for d in r["drains"] if d["digest_ok"]]
        m["cpu_us_per_unit"] = (1000.0 * sum(d["cpu_ms"] for d in drains)
                                / max(1, sum(d["committed"] for d in drains)))
    elif w == "redact_paced":
        d = r["drains"][0]
        span = max(o["end_ms"] for o in ok) - min(o["start_ms"] for o in ok)
        m["work_per_s"] = sum(o["units"] for o in ok) / (span / 1000.0)
        m["cpu_us_per_unit"] = 1000.0 * d["cpu_ms"] / max(1, d["timed_turns"])
    elif w == "batch_gates":
        # each gate's median over the passes: one slow pass of a gate (a
        # compile, a collection) does not move the figure
        by_gate, by_pass = {}, {}
        for o in ok:
            p, q = o["id"].split("-", 1)
            by_gate.setdefault(q, []).append(o["end_ms"] - o["start_ms"])
            by_pass.setdefault(p, {})[q] = o["end_ms"] - o["start_ms"]
        m["work_per_s"] = len(by_gate) / (sum(statistics.median(v) for v in by_gate.values()) / 1000.0)
        m["cpu_us_per_unit"] = 1000.0 * r["cpu_ms"] / len(ok)
        # latency is per pass, over the gates that passed in every pass: the
        # gates' times differ by 4x, so a median over gates would jump from
        # one gate to another between runs
        every = set(by_gate).intersection(*by_pass.values())
        dur = [sum(t for q, t in g.items() if q in every) for g in by_pass.values()]
    else:
        m["work_per_s"] = len(ok) / (sum(dur) / 1000.0)
        m["cpu_us_per_unit"] = 1000.0 * r["cpu_ms"] / len(ok)
    m["latency_p50_ms"] = quantile(dur, 0.5)
    m["latency_p90_ms"] = quantile(dur, 0.9)
    m["samples"] = len(dur)
    return attempted, failed, m


def workload_view(r, m):
    """The same figures under their workload-specific names, for people."""
    w = r["workload"]
    out = {"setup_s": (m["setup_s"], "s"), "live_heap_mb": (m["live_heap_mb"], "MB"),
           "latency_samples": (m["samples"], "count")}
    if w == "redact_backlog":
        out.update(turns_per_s=(m["work_per_s"], "turns/s"),
                   cpu_us_per_turn=(m["cpu_us_per_unit"], "us"))
    elif w == "redact_paced":
        out.update(epoch_latency_p50_ms=(m["latency_p50_ms"], "ms"),
                   epoch_latency_p90_ms=(m["latency_p90_ms"], "ms"),
                   cpu_us_per_turn=(m["cpu_us_per_unit"], "us"))
    elif w == "table_ops":
        out.update(stmts_per_s=(m["work_per_s"], "stmts/s"),
                   stmt_latency_p50_ms=(m["latency_p50_ms"], "ms"),
                   stmt_latency_p90_ms=(m["latency_p90_ms"], "ms"))
    else:
        out.update(gates_s=(len(r["meta"]["gates"]) / m["work_per_s"], "s"),
                   pass_latency_p50_ms=(m["latency_p50_ms"], "ms"))
    return out


def per_layer(r, overhead_pct):
    layers = dict(r.get("layers") or {})
    layers["trace.overhead_pct"] = overhead_pct
    return {k: layers.get(k, 0.0) for k in PER_LAYER}


# --- output checks -----------------------------------------------------------

def _frame(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(expected, actual):
    """Oracle comparison of one gate: same columns, same multiset of rows
    (sorted), dtypes aligned to the oracle's. Returns (equal, reason)."""
    exp, act = _frame(expected), _frame(actual)
    if list(exp.columns) != list(act.columns):
        return False, f"columns {list(exp.columns)} != {list(act.columns)}"
    if len(exp) != len(act):
        return False, f"rows {len(exp)} != {len(act)}"
    for c in exp.columns:
        if str(exp[c].dtype) != str(act[c].dtype):
            try:
                act[c] = act[c].astype(exp[c].dtype)
            except (TypeError, ValueError):
                exp[c], act[c] = exp[c].astype(str), act[c].astype(str)
    exp, act = _frame(exp), _frame(act)
    if not exp.equals(act):
        bad = ((exp != act) & ~(exp.isna() & act.isna())).any(axis=1)
        return False, f"{int(bad.sum())} of {len(exp)} rows differ"
    return True, ""


def check_gates(inputs, out_dir, fixtures_dir, gates):
    """Compare each gate's Spark output with its oracle SQL run on DuckDB.
    Oracle results are cached per input directory. Returns {gate: reason}
    for every mismatch."""
    import duckdb
    import json
    import pandas as pd

    with open(os.path.join(inputs, "oracle_sql.json")) as f:
        sql = json.load(f)
    sf = os.path.basename(glob.glob(os.path.join(inputs, "sf*"))[0])
    exp_dir = os.path.join(inputs, "expected")
    os.makedirs(exp_dir, exist_ok=True)
    con = None
    bad = {}
    for q in gates:
        cached = os.path.join(exp_dir, q + ".parquet")
        if not os.path.exists(cached):
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(os.path.join(inputs, "sf*", "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
            # the oracle SQL names the sf0.01 fixtures under the engine's
            # default data root; point it at this run's fixtures and scale
            text = re.sub(r"'[^']*/(\w+?)_sf0\.01/",
                          lambda m: f"'{fixtures_dir.rstrip('/')}/{m.group(1)}_{sf}/", sql[q])
            con.sql(text).df().to_parquet(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        exp = pd.read_parquet(cached)
        parts = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not parts:
            bad[q] = "no output"
            continue
        act = pd.concat([pd.read_parquet(p) for p in parts])
        ok, why = frames_equal(exp, act)
        if not ok:
            bad[q] = why
    return bad
