"""Per-layer metrics of a traced run.

Every value is per warm pass -- the median over the warm passes of the
per-pass total -- unless its name ends ``_cold`` (the cold pass) or ``_end``
(the end of the run); ``trace.warm_pass_s`` is the first warm pass, as
measured untraced. Both workloads print the same names. Every time is
measured on both workloads; a count or size of a layer a workload does not
reach reads 0. Per-op walls and spans are in the trace file.
"""

from __future__ import annotations

import statistics

from .trace import PYTHON_SQL_METRICS

# ops whose build + sink spans must account for their wall, and whose
# build / sink / busy / gap split is published (summed per pass)
SPLIT_OPS = (
    "dedup_survivors",
    "dedup_stream_snapshot",
    "txt_profile",
    "sim_ann_ivf",
    "intake.tick",
)
ACCOUNTING_TOLERANCE = 0.10

_UNITS = {
    "build_s": "s",
    "queries.build_jobs": "count",
    "queries.stage_jobs": "count",
    "sources.scan_bytes": "B",
    "sources.scan_rows": "rows",
    "sinks.write_s": "s",
    "sinks.write_jobs": "count",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.target_rows": "rows",
    "streaming.batches": "count",
    "streaming.rows_in": "rows",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.failed_tasks": "count",
    **{k: ("s" if k.endswith("_s") else "B") for k in PYTHON_SQL_METRICS.values()},
    "split.build_s": "s",
    "split.sink_s": "s",
    "split.job_busy_s": "s",
    "split.driver_gap_s": "s",
}


def _is_build(name: str) -> bool:
    """Driver-side build spans: ``Q.fn`` (the queries layer) on the catalog,
    the bronze / silver / gold builders (the plans layer) on the intake."""
    return name == "queries.build" or (
        name.startswith("plans.") and name != "plans.run_pipeline"
    )


def _op_layers(op: dict) -> dict:
    """Layer totals of one op, from its engine metrics and its spans."""
    m = op["m"]
    spans = m["_spans"]
    build = [s for s in spans if _is_build(s.name)]
    sinks = [s for s in spans if s.name.startswith("sinks.")]
    out = {k: m.get(k, 0) for k in _UNITS}
    out.update(
        {
            "build_s": sum(s.wall for s in build),
            "queries.build_jobs": sum(
                s.subtree_jobs for s in build if s.name == "queries.build"
            ),
            "queries.stage_jobs": sum(
                s.subtree_jobs for s in spans if s.name == "queries.stage_checkpoint"
            ),
            "sinks.write_s": sum(s.wall for s in sinks),
            "sinks.write_jobs": sum(s.subtree_jobs for s in sinks),
            "sinks.bytes_written": sum(s.output_bytes for s in sinks),
            "sinks.target_rows": sum(s.output_records for s in sinks),
        }
    )
    split = op["name"] in SPLIT_OPS
    out["split.build_s"] = out["build_s"] if split else 0.0
    out["split.sink_s"] = out["sinks.write_s"] if split else 0.0
    out["split.job_busy_s"] = out["spark.job_busy_s"] if split else 0.0
    out["split.driver_gap_s"] = out["spark.driver_gap_s"] if split else 0.0
    return out


def layer_metrics(passes, phases, cached_bytes):
    """(metric name -> (value, unit), accounting problems)."""
    per_op = [[_op_layers(op) for op in p] for p in passes]
    warm = range(1, len(passes))

    def per_pass(key, i):
        return sum(o[key] for o in per_op[i])

    out = {
        "session.get_spark_s": (phases["get_spark_s"], "s"),
        "session.warm_s": (phases["warm_s"], "s"),
        "build_cold_s": (per_pass("build_s", 0), "s"),
    }
    for key, unit in _UNITS.items():
        out[key] = (statistics.median(per_pass(key, i) for i in warm), unit)
    run_s, cpu_s = out["spark.executor_run_s"][0], out["spark.executor_cpu_s"][0]
    out["spark.cpu_over_run"] = (cpu_s / run_s, "ratio")
    out["spark.cached_bytes_end"] = (cached_bytes, "B")
    jobs_by_op: dict[str, set] = {}
    for i in warm:
        for op in passes[i]:
            jobs_by_op.setdefault(op["name"], set()).add(op["m"]["spark.jobs"])
    out["queries.jobs_unstable"] = (
        sum(len(counts) > 1 for counts in jobs_by_op.values()),
        "count",
    )
    # the first warm pass, as in the untraced run: their ratio is the
    # tracing overhead
    out["trace.warm_pass_s"] = (sum(op["wall"] for op in passes[1]), "s")

    problems = []
    for i, p in enumerate(passes):
        for op, layers in zip(p, per_op[i]):
            if op["name"] not in SPLIT_OPS:
                continue
            share = (layers["build_s"] + layers["sinks.write_s"]) / op["wall"]
            if abs(1 - share) > ACCOUNTING_TOLERANCE:
                problems.append(
                    f"{op['name']} in pass {i}: build + sink = {share:.1%} of wall"
                )
    return out, problems
