"""The benchmark's own arithmetic, kept free of Spark and the JVM so it can be
tested on its own (test_benchlib.py): order permutations, median and
quartiles, the tail-percentile rule, span self time, the DuckDB output
comparison, and the metric tables built from a run's records.
"""
import glob
import json
import math
import os
import random
import statistics

# --- order and statistics ---------------------------------------------------

def pass_order(seed, workload, n, pass_index):
    """The seeded order of a workload's n queries in one pass. Depends only
    on its arguments, so both commits of a comparison see the same orders."""
    order = list(range(n))
    random.Random(f"{seed}:{workload}:{pass_index}").shuffle(order)
    return order


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, median, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def relative_spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile(xs, p):
    """Nearest-rank p-th percentile and how many samples lie beyond it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1], len(s) - k


def tail_percentile(xs, ladder=(99, 95, 90, 75, 50)):
    """The highest percentile in `ladder` with at least ten samples beyond
    it, as (p, value); (None, None) when even the lowest has fewer."""
    for p in ladder:
        value, beyond = percentile(xs, p)
        if beyond >= 10:
            return p, value
    return None, None

# --- spans -----------------------------------------------------------------

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per span: its duration minus the part of it its children
    cover. Spans are dicts with id, name, parent, start_s and end_s; a
    child shares its parent's id and names it in `parent`. Returns
    {(id, name): seconds}."""
    children = {}
    for s in spans:
        children.setdefault((s["id"], s["parent"]), []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        kids = children.get((s["id"], s["name"]), [])
        out[(s["id"], s["name"])] = (s["end_s"] - s["start_s"]) - covered(kids, s["start_s"], s["end_s"])
    return out

# --- output check ----------------------------------------------------------

def frames_differ(spark_df, oracle_df):
    """Compare like the engine's local DuckDB gate: columns sorted by name,
    rows sorted, exact values. Returns None when equal, else why not."""
    sdf = spark_df.reindex(sorted(spark_df.columns), axis=1)
    odf = oracle_df.reindex(sorted(oracle_df.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        return f"columns spark={list(sdf.columns)} oracle={list(odf.columns)}"
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"

    def norm(df):
        # repr only where pandas holds python objects (strings, lists,
        # decimals); typed numeric and time columns compare as they are
        d = df.copy()
        for c in d.columns:
            if d[c].dtype == object:
                d[c] = d[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist") else repr(v))
        return d.sort_values(list(d.columns), kind="mergesort").reset_index(drop=True)

    ns, no = norm(sdf), norm(odf)
    if ns.equals(no):
        return None
    bad = int((ns != no).any(axis=1).sum())
    return f"values differ in {bad}/{len(ns)} rows"


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_outputs(sf_dir, check_dir, oracle_sql, work_dir):
    """Run each oracle in DuckDB over the workload's own input tables and
    compare it with the Spark output in check_dir/<query>. Returns
    {query: reason} for every query that does not match."""
    import duckdb
    con = duckdb.connect(config={"threads": 4, "temp_directory": f"{work_dir}/duckdb-tmp"})
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        if not files:
            bad[name] = "no spark output"
            continue
        try:
            why = frames_differ(con.execute(f"SELECT * FROM read_parquet({files!r})").df(),
                                con.execute(sql).df())
        except duckdb.Error as e:
            why = f"duckdb: {e}"
        if why:
            bad[name] = why
    con.close()
    return bad

# --- metrics ---------------------------------------------------------------

def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def sum_of_medians(samples):
    """total_s: per query, the median wall time across its reps; summed."""
    by_q = {}
    for s in samples:
        by_q.setdefault(s["query"], []).append(s["wall_s"])
    return sum(median(v) for v in by_q.values())


# End-to-end metrics an untraced run reports: name -> unit.
END_TO_END = {"setup_s": "s", "total_s": "s", "rows_per_s": "rows/s", "query_p50_s": "s",
              "cpu_s": "s", "heap_live_mb": "MB"}


def end_to_end(records, setup_s):
    """Metrics of an untraced run as {name: (value, unit, note)}, plus
    report lines for figures that are not bounded metrics."""
    samples = [r for r in records if r["kind"] == "sample"]
    loop = next(r for r in records if r["kind"] == "loop")
    total = sum_of_medians(samples)
    rows = sum(r.get("input_records", 0) for r in records
               if r["kind"] == "span" and r["id"].startswith("check:"))
    walls = [s["wall_s"] for s in samples]
    p, tail = tail_percentile(walls)
    metrics = {
        "setup_s": (setup_s, "s", "JVM start to session ready and warmup done"),
        "total_s": (total, "s", "sum over queries of the median wall time across reps"),
        "rows_per_s": (rows / total, "rows/s", f"{rows:.0f} input rows per pass / total_s"),
        "query_p50_s": (median(walls), "s", f"p50 of {len(walls)} (query, rep) samples"),
        "cpu_s": (median(loop["cpu_s"]), "s",
                  f"process CPU per pass less JIT compiler threads, median of {loop['passes']} passes"),
        "heap_live_mb": (median(loop["heap_mb"]), "MB",
                         "old-gen heap after the full GC ending each pass, median over passes"),
    }
    tail_line = (f"query_tail_s {tail:.6f} s (p{p} of {len(walls)} samples, the highest "
                 f"percentile with >= 10 samples beyond)" if p else
                 f"query_tail_s n/a ({len(walls)} samples; a percentile needs >= 10 beyond it)")
    jit = loop.get("jit_cpu_s", [])
    jit_line = (f"jit_cpu_s {median(jit):.6f} s (JIT compiler threads per pass, left out of cpu_s; "
                f"first pass {jit[0]:.2f} s, last {jit[-1]:.2f} s)" if jit else "jit_cpu_s n/a")
    return metrics, [tail_line, jit_line]


def _pass_of(span_id):
    return span_id.rsplit("#", 1)[1] if "#" in span_id else None


# Per-layer metrics a traced run reports: name -> (unit, better). Counters
# and times are per pass (summed over the pass's queries, median over the
# traced passes); stage counters come from the stage spans.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.eager_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "plan.analysis_s": ("s", "lower"),
    "plan.optimization_s": ("s", "lower"),
    "plan.planning_s": ("s", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.single_partition_exchanges": ("count", "lower"),
    "plan.sorts": ("count", "lower"),
    "plan.windows": ("count", "lower"),
    "plan.smj": ("count", "lower"),
    "plan.bhj": ("count", "higher"),
    "plan.codegen_stages": ("count", "lower"),
    "scan.tasks": ("count", "higher"),
    "scan.input_bytes": ("B", "lower"),
    "scan.input_records": ("count", "lower"),
    "scan.widened": ("count", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.single_task_stages": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.core_busy_share": ("share", "higher"),
    "exec.sched_delay_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.execute_self_s": ("s", "lower"),
    "shuffle.write_bytes": ("B", "lower"),
    "shuffle.read_bytes": ("B", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "shuffle.spill_bytes": ("B", "lower"),
    "shuffle.bytes_per_input_byte": ("B/B", "lower"),
    **{f"expr.{fn}.rows_per_s": ("rows/s", "higher") for fn in (
        "graft_simhash64", "graft_simhash_p60", "graft_phash60", "graft_bpe_count",
        "graft_bpe_encode", "graft_hyperplane_bucket", "graft_type_set")},
    "trace.overhead_share": ("share", "lower"),
    "fork.widened": ("count", "lower"),
    "fork.rankstat_exchanges": ("count", "lower"),
}

# stage-span counter -> per-layer metric
_STAGE_COUNTERS = {
    "tasks": "exec.tasks", "task_run_s": "exec.task_run_s", "task_cpu_s": "exec.task_cpu_s",
    "sched_delay_s": "exec.sched_delay_s", "gc_s": "exec.gc_s", "failed_tasks": "exec.failed_tasks",
    "scan_tasks": "scan.tasks", "input_bytes": "scan.input_bytes",
    "input_records": "scan.input_records", "shuffle_write_bytes": "shuffle.write_bytes",
    "shuffle_read_bytes": "shuffle.read_bytes", "fetch_wait_s": "shuffle.fetch_wait_s",
    "spill_bytes": "shuffle.spill_bytes",
}


def per_layer(records, setup, fork_rankstat, fork_widen):
    """Per-layer metrics of a traced run as {name: (value, unit, note)},
    plus report lines (the fork probe's per-row plan shapes)."""
    samples = [r for r in records if r["kind"] == "sample" and _pass_of(r["id"])]
    traced = [s for s in samples if s["traced"]]
    spans = [r for r in records if r["kind"] == "span"]
    selfs = self_times(spans)
    per = {_pass_of(s["id"]): dict.fromkeys(PER_LAYER, 0.0) | {"_query_s": 0.0} for s in traced}

    def add(span_id, key, v):
        if _pass_of(span_id) in per:
            per[_pass_of(span_id)][key] += v

    for s in traced:
        add(s["id"], "queries.construct_s", s["construct_s"])
        add(s["id"], "queries.eager_s", s["construct_s"] if s["eager"] else 0.0)
    for r in records:
        if r["kind"] == "job":
            span_id, phase = r["group"].rsplit("/", 1)
            add(span_id, "exec.jobs", 1)
            add(span_id, "queries.construct_jobs", 1 if phase == "construct" else 0)
        elif r["kind"] == "plan":
            for k in ("exchanges", "single_partition_exchanges", "sorts", "windows", "smj",
                      "bhj", "codegen_stages"):
                add(r["id"], f"plan.{k}", r[k])
            add(r["id"], "scan.widened", r["widened"])
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        if s["name"] in ("analysis", "optimization", "planning"):
            add(s["id"], f"plan.{s['name']}_s", dur)
        elif s["name"] == "execute":
            add(s["id"], "exec.execute_self_s", selfs[(s["id"], s["name"])])
        elif s["name"] == "query":
            add(s["id"], "_query_s", dur)
        elif s["name"].startswith("stage"):
            add(s["id"], "exec.stages", 1)
            add(s["id"], "exec.single_task_stages", 1 if s["num_tasks"] == 1 else 0)
            for counter, key in _STAGE_COUNTERS.items():
                add(s["id"], key, s.get(counter, 0.0))
    for d in per.values():
        d["exec.core_busy_share"] = d["exec.task_run_s"] / (4 * d.pop("_query_s"))
        d["shuffle.bytes_per_input_byte"] = d["shuffle.write_bytes"] / max(d["scan.input_bytes"], 1.0)

    note = f"per pass, median of {len(per)} traced passes"
    values = {k: (median([d[k] for d in per.values()]), note) for k in per[next(iter(per))]}
    values["session.start_s"] = (setup["start_s"], "JVM start to session ready")
    values["session.warmup_s"] = (setup["warmup_s"], "warmup jobs")
    for r in records:
        if r["kind"] == "kernel":
            values[f"expr.{r['fn']}.rows_per_s"] = (
                r["rows"] / median(r["secs"]), f"{r['rows']} cached rows, median of {len(r['secs'])}")
    plain = sum_of_medians([s for s in samples if not s["traced"]])
    values["trace.overhead_share"] = (
        (sum_of_medians(traced) - plain) / plain, "traced vs untraced total_s in one JVM")

    # the size-keyed forks on this input, from the probe's planned rows
    forks = {r["id"].removeprefix("probe:"): r for r in records
             if r["kind"] == "plan" and r["id"].startswith("probe:")}
    values["fork.widened"] = (sum(forks[q]["widened"] for q in fork_widen),
                              f"widened scans planned for {', '.join(fork_widen)}")
    values["fork.rankstat_exchanges"] = (sum(forks[q]["exchanges"] for q in fork_rankstat),
                                         f"exchanges planned for {', '.join(fork_rankstat)}")
    metrics = {k: (values[k][0], unit, values[k][1]) for k, (unit, _) in PER_LAYER.items()}
    lines = [f"fork {q} (planned): exchanges={r['exchanges']} windows={r['windows']} "
             f"bhj={r['bhj']} widened={r['widened']}" for q, r in sorted(forks.items())]
    return metrics, lines
