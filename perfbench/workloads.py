"""Workload manifests: each workload is an explicit list of registry names,
each with the reason it was chosen. Nothing joins a workload implicitly;
the harness fails the run when a listed name is missing from
`Registry.all` or has no DuckDB oracle.

`pass_s` is about how long one pass (every query once, then the heap
reading) takes on a loaded 4-core host; run.py divides `--seconds` by it
to choose the pass count. `inputs` names the input set run.py
generates: `sf0.1` is the sf0.1-shaped star schema plus text tables from
gen_inputs.py, `sf0.1x4` is a `graft.tools.ScaleUp` x4 replica of it (32
files per fact table).
"""

WORKLOADS = {
    "etl_read": {
        "why": "short relational reads at sf0.1: per-query fixed cost (planning, single-task scans, "
               "stage scheduling) dominates; inputs sit below the 32 MB widen/parCumSum threshold",
        "inputs": "sf0.1",
        "pass_s": 4.0,
        "queries": [
            ("p1_projection_prefix", "projection: one scan stage, nearly pure fixed cost"),
            ("j2_left_outer_counts", "left outer join plus count over a small dimension"),
            ("a1_groupby_count", "two-key group-by on orders"),
            ("a10_null_census_json", "widened scan: tdw on orders takes the ScanPar.widen branch"),
            ("w1_max_over_partition", "window aggregate over a partition"),
            ("o4_top_n_display", "eager: sorted take(5) collected at construction"),
            ("f1_string_functions", "scalar functions (split, substring, regexp_extract, lower, concat) "
                                    "on part; a ninth row puts the p50 among the middle queries' samples"),
            ("c30_column_masking", "warehouse column masking"),
            ("a31_gini", "rank-stat control: documents source keeps the sequential cumulative sum"),
        ],
    },
    "heavies_scaled": {
        "why": "rank-stat rows on the x4 replica: lineitem passes 32 MB, so parCumSum takes its "
               "two-level branch and widen no-ops; the documents row stays below as a control",
        "inputs": "sf0.1x4",
        "pass_s": 5.0,
        "queries": [
            ("a38_trimmed_mean", "lineitem source: flips to the two-level parallel cumulative sum"),
            ("a31_gini", "control: documents source stays on the sequential branch"),
        ],
    },
}

# Rows whose plans take the size-keyed forks. A traced run plans each of
# them on the workload's inputs (without running it) and records the plan
# shape, so etl_read and heavies_scaled show the two sides of each fork:
# parCumSum in the lineitem-sourced rank-stat rows, widen in the tdw rows.
FORK_RANKSTAT = ["a21_mad", "a33_weighted_median", "a34_spearman", "a38_trimmed_mean"]
FORK_WIDEN = ["a8_wide_groupby_merge", "a10_null_census_json", "s18_maf_caller_merge"]
