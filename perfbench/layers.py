"""Per-layer metrics of a traced run, from its spans and Spark event log.

Span names the benchmark records (see ``run.py`` and ``workloads.py``):

- ``op:<name>``: one operation;
- ``build``: ``QUERIES[name](...)`` or a node's user transform;
- ``action``: the final action (``collect``, or ``compat.final_output``);
- ``compat.perform_load_data``, ``compat.final_output``,
  ``compat.generate_pmml``, ``compat.save_text_file``;
- ``<layer>.<function>`` for every wrapped public function, where the
  layer is ``catalog``, ``functions.schema`` or ``operators.<module>``.

Times and counts of the operations are per pass: totals over the run
divided by its number of passes.
"""

from __future__ import annotations

from perfbench.trace import (
    OPERATOR_MODULES,
    EventLog,
    Span,
    attribute_jobs,
    clipped,
    descendants,
    self_times,
    union_length,
)

SESSION_METRICS = (
    "session.import_s", "session.get_spark_s", "session.first_action_s", "session.peak_rss_mb",
)


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = list(SESSION_METRICS)
    names += ["catalog.load_s", "catalog.scan_task_s", "catalog.scan_bytes", "catalog.scan_rows"]
    names += ["functions.schema_s"]
    names += [
        "compat.final_output_s", "compat.pmml_s", "compat.write_task_s",
        "compat.bytes_written", "compat.rows_written", "compat.status_failed",
    ]
    names += ["queries.build_s", "queries.build_jobs", "queries.build_tasks", "queries.build_driver_s"]
    for m in OPERATOR_MODULES:
        names += [f"operators.{m}.self_s", f"operators.{m}.calls", f"operators.{m}.jobs"]
    names += [
        "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
        "exec.executor_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.scheduler_delay_s",
        "exec.core_busy_frac", "exec.failed_tasks",
    ]
    names += ["trace.pass_s", "trace.spans_per_pass"]
    return names


def layer_metrics(
    spans: list[Span],
    log: EventLog,
    passes: int,
    cores: int,
    session: dict[str, float],
    status_failed: int,
    pass_s: float,
) -> dict[str, float]:
    attribute_jobs(log, spans)
    under = descendants(spans)
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    op_span_ids = set().union(*(under[s.id] for s in spans if s.name.startswith("op:")))

    def named(*prefixes: str) -> list[Span]:
        return [s for s in spans if s.name.startswith(prefixes)]

    def covered(roots: list[Span]) -> float:
        return union_length((s.start, s.end) for s in roots)

    def jobs_under(roots: list[Span]):
        ids = set().union(*(under[s.id] for s in roots)) if roots else set()
        return [j for j in log.jobs.values() if j.span in ids]

    def tasks_of(jobs) -> list:
        ids = {j.id for j in jobs}
        return [t for t in log.tasks if t.job in ids]

    out: dict[str, float] = {k: session[k] for k in SESSION_METRICS}

    op_tasks = tasks_of([j for j in log.jobs.values() if j.span in op_span_ids])
    scans = [t for t in op_tasks if t.input_rows > 0]
    out["catalog.load_s"] = covered(named("compat.perform_load_data", "catalog."))
    out["catalog.scan_task_s"] = sum(t.run_s for t in scans)
    out["catalog.scan_bytes"] = sum(t.input_bytes for t in scans)
    out["catalog.scan_rows"] = sum(t.input_rows for t in scans)
    out["functions.schema_s"] = covered(named("functions.schema."))

    final = named("compat.final_output")
    write_tasks = tasks_of(jobs_under(final))
    out["compat.final_output_s"] = covered(final)
    out["compat.pmml_s"] = covered(named("compat.generate_pmml", "compat.save_text_file"))
    out["compat.write_task_s"] = sum(t.run_s for t in write_tasks)
    out["compat.bytes_written"] = sum(t.output_bytes for t in op_tasks)
    out["compat.rows_written"] = sum(t.output_rows for t in op_tasks)
    out["compat.status_failed"] = status_failed

    builds = [s for s in spans if s.name == "build"]
    build_jobs = jobs_under(builds)
    out["queries.build_s"] = covered(builds)
    out["queries.build_jobs"] = len(build_jobs)
    out["queries.build_tasks"] = len(tasks_of(build_jobs))
    job_time = 0.0
    for b in builds:
        inside = [j for j in build_jobs if j.span in under[b.id]]
        job_time += union_length(clipped(((j.submit, j.end) for j in inside), b.start, b.end))
    out["queries.build_driver_s"] = out["queries.build_s"] - job_time

    for m in OPERATOR_MODULES:
        prefix = f"operators.{m}."
        mine = [s for s in spans if s.name.startswith(prefix)]
        out[f"{prefix}self_s"] = sum(selfs[s.id] for s in mine)
        out[f"{prefix}calls"] = len(mine)
        out[f"{prefix}jobs"] = sum(
            1 for j in log.jobs.values()
            if j.span is not None and by_id[j.span].name.startswith(prefix)
        )

    actions = [s for s in spans if s.name == "action"]
    exec_jobs = jobs_under(actions)
    exec_tasks = tasks_of(exec_jobs)
    action_s = covered(actions)
    run_s = sum(t.run_s for t in exec_tasks)
    out["exec.action_s"] = action_s
    out["exec.jobs"] = len(exec_jobs)
    out["exec.stages"] = len({t.stage_id for t in exec_tasks})
    out["exec.tasks"] = len(exec_tasks)
    out["exec.executor_run_s"] = run_s
    out["exec.executor_cpu_s"] = sum(t.cpu_s for t in exec_tasks)
    out["exec.gc_s"] = sum(t.gc_s for t in exec_tasks)
    out["exec.shuffle_read_bytes"] = sum(t.shuffle_read_bytes for t in exec_tasks)
    out["exec.shuffle_write_bytes"] = sum(t.shuffle_write_bytes for t in exec_tasks)
    out["exec.spill_bytes"] = sum(t.spill_bytes for t in exec_tasks)
    out["exec.scheduler_delay_s"] = sum(t.scheduler_delay_s for t in exec_tasks)
    out["exec.core_busy_frac"] = run_s / (action_s * cores) if action_s > 0 else 0.0
    out["exec.failed_tasks"] = sum(1 for t in exec_tasks if t.failed)

    out["trace.spans_per_pass"] = len(op_span_ids)
    for k in out:
        if k not in SESSION_METRICS and k != "exec.core_busy_frac":
            out[k] = out[k] / passes
    out["trace.pass_s"] = pass_s
    return {k: out[k] for k in metric_names()}


def per_op_split(spans: list[Span], log: EventLog) -> dict[str, dict[str, float]]:
    """Per operation, mean over passes: build and final-action wall time,
    the Spark jobs each launched, and the call sites of the build's jobs
    (``attribute_jobs`` must have run)."""
    under = descendants(spans)
    jobs_by_span: dict[int, list] = {}
    for j in log.jobs.values():
        if j.span is not None:
            jobs_by_span.setdefault(j.span, []).append(j)
    out: dict[str, dict[str, float]] = {}
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    for op in (s for s in spans if s.name.startswith("op:")):
        row = out.setdefault(op.name[3:], {"n": 0, "build_s": 0.0, "action_s": 0.0,
                                           "build_jobs": 0, "action_jobs": 0, "build_sites": set()})
        row["n"] += 1
        for child in by_parent.get(op.id, ()):
            if child.name in ("build", "action"):
                jobs = [j for i in under[child.id] for j in jobs_by_span.get(i, ())]
                row[f"{child.name}_s"] += child.duration
                row[f"{child.name}_jobs"] += len(jobs)
                if child.name == "build":
                    row["build_sites"].update(j.name for j in jobs)
    for row in out.values():
        n = row.pop("n")
        for k in ("build_s", "action_s", "build_jobs", "action_jobs"):
            row[k] /= n
        row["build_sites"] = sorted(row["build_sites"])
    return out
