"""Per-layer metrics of a traced run: the benchmark's spans joined with the
jobs, stages and tasks of Spark's event log.

Layer time is Spark's own job time (union of job intervals) or a span's wall
time minus the Spark jobs inside it, never wall clock around lazy code.
Counts that must repeat exactly across runs of one seed (jobs, stages and
tasks per epoch, rows, bytes and files written per epoch) are medians over
the first ``FIXED_EPOCHS`` timed epochs, which every run reaches; times are
medians over all timed epochs.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.trace import EventLog, SourceMap, max_over_median, union_ms

# per-layer metric -> unit; BENCHMARK.json lists the same names
UNITS = {
    "pipeline.epoch_discovery_s": "s",
    "pipeline.driver_s_p50": "s",
    "spark.jobs_per_epoch": "count",
    "spark.stages_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "dedup.shuffle_write_bytes_per_event": "bytes",
    "dedup.task_s_max_over_median": "ratio",
    "merge.write_job_s_p50": "s",
    "merge.driver_s_p50": "s",
    "write.rows_written_per_event": "ratio",
    "write.bytes_written_per_event": "bytes",
    "write.files_per_epoch": "count",
    "read.input_bytes_per_lookup": "bytes",
    "changes.input_bytes_per_read": "bytes",
    "changes.rows_per_read": "count",
    "lineage.record_s_p50": "s",
    "checkpoint.save_s_p50": "s",
    "consumer.iter_changes_s_p50": "s",
    "jvm.codegen_compile_setup_s": "s",
    "jvm.codegen_compile_timed_s": "s",
    "spark.gc_s_share": "ratio",
    "spark.core_busy_share": "ratio",
    "spark.executor_cpu_s_per_event": "s",
    "trace.unattributed_share": "ratio",
}

DISCOVER_SITE = "lake.table:LakeTable.merge"
_OWN_SPANS = {"reference", "check"}  # the benchmark's own Spark jobs
HARVEST_SITE = "lake.table:LakeTable._harvest_stats"


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _first(spans, name):
    return next((s for s in spans if s.name == name), None)


def _shuffle_read(stage) -> float:
    return stage.total("sr_local") + stage.total("sr_remote")


def _executions(jobs, log, pred):
    """All jobs (AQE sub-jobs included) of the SQL executions that have a job
    matching ``pred``, and their stages, in job order."""
    roots = {j.root_exec for j in jobs if pred(j) and j.root_exec is not None}
    own = [j for j in jobs if j.root_exec in roots]
    return own, log.stages_of(own)


def _epoch_row(b, log, sp) -> dict:
    sub = b.spans.descendants(sp)
    ids = {sp.id} | {s.id for s in sub}
    jobs = log.jobs_in(ids)
    stages = log.stages_of(jobs)
    events = sp.attrs["events"]
    job_iv = [(j.start, j.end) for j in jobs]
    read = _first(sub, "read_epoch")
    merge = _first(sub, "merge")
    merge_ids = {merge.id} | {s.id for s in b.spans.descendants(merge)}
    merge_jobs = log.jobs_in(merge_ids)
    # the merge's one DataFrameWriter action is the snapshot (or delta) write
    write_jobs, write_stages = _executions(merge_jobs, log, lambda j: j.kind == "write")
    discover_jobs, discover_stages = _executions(merge_jobs, log, lambda j: j.site == DISCOVER_SITE)
    harvest_jobs = [j for j in merge_jobs if j.site == HARVEST_SITE]
    # dedup runs in the first execution of the merge that scans the log:
    # the CoW discovery collect, or the MoR delta write
    dedup_stages = discover_stages or write_stages
    scan = next((s for s in dedup_stages if s.total("in_bytes") > 0), None)
    reduce_ = next((s for s in dedup_stages if scan and s.id > scan.id and _shuffle_read(s) > 0), None)
    join_stages = [s for s in write_stages if _shuffle_read(s) > 0] if discover_stages else []
    child_iv = [(s.start_ms, s.end_ms) for s in sub]
    covered = union_ms(job_iv + child_iv, sp.start_ms, sp.end_ms)
    return {
        "epoch": sp.attrs["epoch"],
        "wall_s": sp.dur_s,
        "events": events,
        "discovery_s": (read.end_ms - sp.start_ms) / 1000.0,
        "driver_s": sp.dur_s - union_ms(job_iv, sp.start_ms, sp.end_ms) / 1000.0,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(len(s.tasks) for s in stages),
        "dedup_sw_per_event": (scan.total("sw_bytes") / events) if scan else 0.0,
        "dedup_skew": max_over_median([t["run_ms"] for t in reduce_.tasks]) if reduce_ else 1.0,
        "dedup_spill": sum(s.total("spill") + s.total("mem_spill") for s in dedup_stages),
        "discover_job_s": union_ms([(j.start, j.end) for j in discover_jobs], sp.start_ms, sp.end_ms) / 1000.0,
        "write_job_s": union_ms([(j.start, j.end) for j in write_jobs], sp.start_ms, sp.end_ms) / 1000.0,
        "harvest_job_s": union_ms([(j.start, j.end) for j in harvest_jobs], sp.start_ms, sp.end_ms) / 1000.0,
        "merge_driver_s": merge.dur_s
        - union_ms([(j.start, j.end) for j in merge_jobs], merge.start_ms, merge.end_ms) / 1000.0,
        "join_sr_per_event": sum(_shuffle_read(s) for s in join_stages) / events,
        "join_skew": max((max_over_median([t["run_ms"] for t in s.tasks]) for s in join_stages), default=0.0),
        "write_rows_per_event": sum(s.total("out_rows") for s in write_stages) / events,
        "write_bytes_per_event": sum(s.total("out_bytes") for s in write_stages) / events,
        "files": b.epoch_files.get(sp.attrs["epoch"], 0),
        "lineage_s": sum(s.dur_s for s in sub if s.name == "lineage.record"),
        "checkpoint_s": sum(s.dur_s for s in sub if s.name == "checkpoint.save"),
        "cpu_s": sum(s.total("cpu_ns") for s in stages) / 1e9,
        "unattributed": 1.0 - covered / (sp.end_ms - sp.start_ms),
    }


def _span_input_bytes(b, log, spans) -> list[float]:
    out = []
    for sp in spans:
        ids = {sp.id} | {s.id for s in b.spans.descendants(sp)}
        out.append(sum(s.total("in_bytes") for s in log.stages_of(log.jobs_in(ids))))
    return out


def fold(b, e2e: dict, cg_setup: tuple[float, int], cg_end: tuple[float, int]) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log = EventLog(os.path.join(b.run_dir, "eventlog"), SourceMap(root))
    timed = set(b.timed_epochs)
    rows = [_epoch_row(b, log, sp) for sp in b.spans.named("epoch") if sp.attrs["epoch"] in timed]
    fixed = rows[: b.fixed_epochs]
    lookups = b.spans.named("lookup")
    reads = [s for s in b.spans.named("changes") if not s.attrs.get("empty")]
    read_ids = {s.id for s in reads}
    iters = [s for s in b.spans.named("changes.iter") if s.parent in read_ids]
    compacts = b.spans.named("compact")
    first_compact_out = 0.0
    if compacts:
        ids = {compacts[0].id} | {s.id for s in b.spans.descendants(compacts[0])}
        first_compact_out = sum(s.total("out_bytes") for s in log.stages_of(log.jobs_in(ids)))
    # the timed loop without the benchmark's own reference jobs and checks
    lo, hi = b.loop_start * 1000, b.loop_end * 1000
    own = [s for s in b.spans.spans if s.name in _OWN_SPANS and lo <= s.start_ms <= hi]
    own_ids = {s.id for s in own}
    window = [j for j in log.jobs.values() if lo <= j.start <= hi and j.span not in own_ids]
    window_tasks = [t for s in log.stages_of(window) for t in s.tasks]
    run_ms = sum(t["run_ms"] for t in window_tasks)
    window_ms = hi - lo - union_ms([(s.start_ms, s.end_ms) for s in own], lo, hi)
    cores = os.cpu_count() or 1
    events = sum(r["events"] for r in rows)

    metrics = {
        "pipeline.epoch_discovery_s": _med(r["discovery_s"] for r in rows),
        "pipeline.driver_s_p50": _med(r["driver_s"] for r in rows),
        "spark.jobs_per_epoch": _med(r["jobs"] for r in fixed),
        "spark.stages_per_epoch": _med(r["stages"] for r in fixed),
        "spark.tasks_per_epoch": _med(r["tasks"] for r in fixed),
        "dedup.shuffle_write_bytes_per_event": _med(r["dedup_sw_per_event"] for r in fixed),
        "dedup.task_s_max_over_median": _med(r["dedup_skew"] for r in rows),
        "merge.write_job_s_p50": _med(r["write_job_s"] for r in rows),
        "merge.driver_s_p50": _med(r["merge_driver_s"] for r in rows),
        "write.rows_written_per_event": _med(r["write_rows_per_event"] for r in fixed),
        "write.bytes_written_per_event": _med(r["write_bytes_per_event"] for r in fixed),
        "write.files_per_epoch": _med(r["files"] for r in fixed),
        "read.input_bytes_per_lookup": _med(_span_input_bytes(b, log, lookups)),
        "changes.input_bytes_per_read": _med(_span_input_bytes(b, log, reads)),
        "changes.rows_per_read": _med(b.changes_rows),
        "lineage.record_s_p50": _med(r["lineage_s"] for r in rows),
        "checkpoint.save_s_p50": _med(r["checkpoint_s"] for r in rows),
        "consumer.iter_changes_s_p50": _med(s.dur_s for s in iters),
        "jvm.codegen_compile_setup_s": cg_setup[0],
        "jvm.codegen_compile_timed_s": cg_end[0] - cg_setup[0],
        "spark.gc_s_share": sum(t["gc_ms"] for t in window_tasks) / run_ms if run_ms else 0.0,
        "spark.core_busy_share": run_ms / (window_ms * cores),
        "spark.executor_cpu_s_per_event": sum(r["cpu_s"] for r in rows) / events,
        "trace.unattributed_share": _med(r["unattributed"] for r in rows),
    }
    compaction = {
        "compact.s_p50": _med(s.dur_s for s in compacts),
        "compact.rows_rewritten": b.compactions[0]["rows_written"] if b.compactions else 0,
        "compact.bytes_written": first_compact_out,
    }
    report(b, rows, metrics, compaction, e2e, cg_setup, cg_end, window)
    return metrics


def report(b, rows, metrics, compaction, e2e, cg_setup, cg_end, window) -> None:
    """Human-readable trace report on stdout (lines start with '#')."""
    p = lambda s="": print(f"# {s}", flush=True)  # noqa: E731
    p(f"trace report: {b.name} seed {b.seed}, {len(rows)} timed epochs")
    p("per-epoch rows (s unless noted):")
    p("  epoch  wall   disc  driver write  disc_job harvest merge_drv lineage ckpt  jobs stages tasks unattr")
    for r in rows:
        p(
            f"  {r['epoch']:>5} {r['wall_s']:6.2f} {r['discovery_s']:5.2f} {r['driver_s']:6.2f} "
            f"{r['write_job_s']:6.2f} {r['discover_job_s']:8.2f} {r['harvest_job_s']:7.2f} "
            f"{r['merge_driver_s']:9.2f} {r['lineage_s']:7.3f} {r['checkpoint_s']:5.3f} "
            f"{r['jobs']:>5} {r['stages']:>6} {r['tasks']:>5} {r['unattributed']:6.3f}"
        )
    names = {s.id: s.name for s in b.spans.spans}
    by_site: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
    for j in window:
        key = (names.get(j.span, "-"), j.kind, j.site or "-")
        by_site[key][0] += 1
        by_site[key][1] += (j.end - j.start) / 1000.0
    p("Spark jobs in the timed loop by innermost span, kind and engine call site (jobs, job seconds):")
    for (span, kind, site), (n, s) in sorted(by_site.items(), key=lambda kv: -kv[1][1]):
        p(f"  {span:16s} {kind:8s} {site:48s} {n:5d} {s:8.2f}")
    p("layer-specific figures (not in the gated JSON; 0 where the workload bypasses the layer):")
    extra = {
        "merge.discover_job_s_p50": _med(r["discover_job_s"] for r in rows),
        "merge.harvest_job_s": sum(r["harvest_job_s"] for r in rows),
        "join.shuffle_read_bytes_per_event": _med(r["join_sr_per_event"] for r in rows),
        "join.task_s_max_over_median": _med(r["join_skew"] for r in rows),
        "mor.delta_write_job_s_p50": _med(r["write_job_s"] for r in rows) if b.wl.strategy == "mor" else 0.0,
        "read.delta_dirs_p50": _med(s.attrs["delta_dirs"] for s in b.spans.named("lookup")),
        "dedup.spill_bytes": sum(r["dedup_spill"] for r in rows),
        "jvm.codegen_compilations_setup": cg_setup[1],
        "jvm.codegen_compilations_timed": cg_end[1] - cg_setup[1],
        **compaction,
    }
    for k, v in extra.items():
        p(f"  {k:40s} {v}")
    p("per-layer metrics:")
    for k, v in metrics.items():
        p(f"  {k:40s} {v:.6g} {UNITS[k]}")
    prev = _load_untraced(b)
    if prev:
        p("tracing overhead against the untraced run of this workload and seed:")
        for k, v in e2e.items():
            if prev.get(k):
                p(f"  {k:28s} untraced {prev[k]:.6g} traced {v:.6g} ({(v / prev[k] - 1) * 100:+.1f}%)")
    else:
        p("tracing overhead: no untraced run of this workload and seed recorded in this checkout")


def _result_file(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "results", f"{workload}-seed{seed}.json")


def save_untraced(work: str, workload: str, seed: int, metrics: dict) -> None:
    with open(_result_file(work, workload, seed), "w") as fh:
        json.dump(metrics, fh)


def _load_untraced(b) -> dict | None:
    try:
        with open(_result_file(b.work, b.name, b.seed)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None
