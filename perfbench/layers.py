"""Per-layer metrics of a traced run, from the benchmark's spans and the
folded Spark event log. Every metric is emitted on every workload; a layer a
workload never calls reports 0.

Apply accounting: for each `cdc.apply` span, the Spark jobs submitted inside
it are grouped by SQL execution and split into the rewrite write (the
execution whose stages write output bytes), the decisions collect (an
execution labelled `collect at .../cdc/apply.py`, with its AQE sub-jobs) and
any other job, such as the file listing of a target read. Call-site labels
alone cannot tell the write apart: PySpark leaves the collect's call site
set, so the write's jobs carry it too. The
non-job remainder of the span is `cdc.driver_s`; the `tables.*` spans
nested in the apply (commit, staged-file collect, manifest reads) are a
breakdown of it. `cdc.accounted_ratio` checks the sum against the span.
"""

from __future__ import annotations

import json
import os
import statistics

from spantrace import union_ms, job_totals, jobs_in
from workloads import QUERIES, TAIL_BUCKETS


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _per_op(js_by_span: list[list[dict]], key: str) -> float:
    return _mean(job_totals(js)[key] for js in js_by_span) if js_by_span else 0.0


def apply_metrics(tracer, jobs: list[dict]) -> dict[str, float]:
    spans = tracer.named("cdc.apply")
    n = len(spans)
    dd, rw, other, all_js, driver = [], [], [], [], []
    for sp in spans:
        js = jobs_in(jobs, sp)
        roots: dict[int, list[dict]] = {}
        for j in js:
            roots.setdefault(j["root"], []).append(j)
        d, w, o = [], [], []
        for rjs in roots.values():
            if any(s["bytes_written"] for j in rjs for s in j["stages"]):
                w += rjs  # the execution that writes files: the rewrite
            elif any("cdc/apply.py" in j["label"] for j in rjs):
                d += rjs  # the decisions collect and its AQE sub-jobs
            else:
                o += rjs  # e.g. file-listing jobs of the target reads
        dd.append(d)
        rw.append(w)
        other.append(o)
        all_js.append(js)
        hi = sp["t1"] * 1e3
        busy = union_ms([(j["start"], min(j["end"], hi)) for j in js]) / 1e3
        driver.append(sp["t1"] - sp["t0"] - busy)

    def nested(name: str) -> list[dict]:
        out = []
        for s in tracer.named(name):
            anc = [a["name"] for a in tracer.ancestors(s)]
            if "cdc.apply" in anc and not any(a.startswith("tables.") for a in anc):
                out.append(s)
        return out

    def nested_s(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in nested(name)) / n if n else 0.0

    apply_s = _mean(sp["t1"] - sp["t0"] for sp in spans)
    out = {
        "cdc.apply_s": apply_s,
        "cdc.dedup_decide.wall_s": _per_op(dd, "wall_s"),
        "cdc.dedup_decide.exec_cpu_s": _per_op(dd, "exec_cpu_s"),
        "cdc.dedup_decide.shuffle_write_bytes": _per_op(dd, "shuffle_write_bytes"),
        "cdc.dedup_decide.spill_bytes": _per_op(dd, "spill_bytes"),
        "cdc.dedup_decide.task_skew": job_totals([j for js in dd for j in js])["task_skew"] if n else 0.0,
        "cdc.rewrite_write.wall_s": _per_op(rw, "wall_s"),
        "cdc.rewrite_write.exec_cpu_s": _per_op(rw, "exec_cpu_s"),
        "cdc.rewrite_write.shuffle_write_bytes": _per_op(rw, "shuffle_write_bytes"),
        "cdc.rewrite_write.bytes_written": _per_op(rw, "bytes_written"),
        "cdc.other_jobs_s": _per_op(other, "wall_s"),
        "cdc.spark_jobs_per_batch": _mean(len(js) for js in all_js),
        "cdc.driver_s": _mean(driver),
        "sources.read_batch_s": nested_s("sources.read_batch"),
        "tables.commit_s": nested_s("tables.commit"),
        # CAS attempts beyond the first, per commit made inside an apply
        "tables.commit_retries": sum(
            any(a["name"] == "cdc.apply" for a in tracer.ancestors(s))
            for s in tracer.named("tables.commit_once")) - len(nested("tables.commit")),
        "tables.collect_staged_s": nested_s("tables.collect_staged"),
        "tables.metadata_s": nested_s("tables.metadata"),
    }
    if n:
        # the three disjoint parts of the span: job wall by class + driver
        out["cdc.accounted_ratio"] = (
            out["cdc.dedup_decide.wall_s"] + out["cdc.rewrite_write.wall_s"]
            + out["cdc.other_jobs_s"] + out["cdc.driver_s"]) / apply_s
    else:
        out["cdc.accounted_ratio"] = 0.0
    return out


def batch_metrics(batches: list[dict]) -> dict[str, float]:
    """Write-mode split of the applied batches (gathered outside the timed
    region from the manifest before and after each apply)."""
    comp = [b["apply_s"] for b in batches if b["compacting"]]
    delta = [b["apply_s"] for b in batches if not b["compacting"] and b["mor_buckets"]]
    changed_b = sum(b["changed_buckets"] for b in batches)
    changed_rows = sum(b["changed_rows"] for b in batches)
    return {
        "cdc.delta_batch_s_p50": _median(delta),
        "cdc.compacting_batch_s_p50": _median(comp),
        "cdc.compacting_batch_ratio": len(comp) / len(batches) if batches else 0.0,
        "cdc.mor_bucket_ratio": (sum(b["mor_buckets"] for b in batches) / changed_b
                                 if changed_b else 0.0),
        "cdc.rows_written_per_changed_row": (sum(b["rows_written"] for b in batches)
                                             / changed_rows if changed_rows else 0.0),
    }


def table_metrics(tracer, jobs: list[dict], table) -> dict[str, float]:
    out = {"tables.files": 0, "tables.delta_files": 0, "tables.manifest_bytes": 0}
    if table is not None:
        files = table.files()
        m = table.manifest()
        sidecars = {s["path"] for s in table.bucket_summaries(m).values() if "path" in s}
        out = {
            "tables.files": len(files),
            "tables.delta_files": sum(f.get("kind") == "delta" for f in files),
            "tables.manifest_bytes": os.path.getsize(table._vpath(m["version"])) + sum(
                os.path.getsize(os.path.join(table.root, p)) for p in sidecars),
        }
    lookups = tracer.named("tables.lookup")
    scans = tracer.named("tables.scan")
    scan_jobs = [jobs_in(jobs, s) for s in scans]
    opened = [s.get("n", 0) for s in tracer.named("tables.files_for_keys")
              if any(a["name"] == "tables.lookup" for a in tracer.ancestors(s))]
    out.update({
        "tables.lookup_files_opened": _mean(opened),
        "tables.lookup_s_p50": _median(s["t1"] - s["t0"] for s in lookups),
        "tables.scan_s_p50": _median(s["t1"] - s["t0"] for s in scans),
        "tables.scan.exec_cpu_s": _per_op(scan_jobs, "exec_cpu_s"),
        "tables.scan.shuffle_bytes": _per_op(scan_jobs, "shuffle_write_bytes"),
    })
    return out


def sync_metrics(tracer, jobs: list[dict], results: list[dict],
                 batches: list[dict]) -> dict[str, float]:
    hooks = tracer.named("sync.hook")
    return {
        "sync.changed_bucket_fraction": (_mean(b["changed_buckets"] / TAIL_BUCKETS
                                               for b in batches) if results else 0.0),
        "sync.agg_s": _mean(s["t1"] - s["t0"] for s in tracer.named("sync.agg")),
        "sync.distinct_s": _mean(s["t1"] - s["t0"] for s in tracer.named("sync.distinct")),
        "sync.incremental_ratio": (sum(r["action"] == "incremental" for r in results)
                                   / len(results) if results else 0.0),
        "sync.spark_jobs": _mean(len(jobs_in(jobs, s)) for s in hooks),
    }


def query_metrics(tracer, jobs: list[dict]) -> dict[str, float]:
    out = {}
    for q in QUERIES:
        spans = [s for s in tracer.named("query") if s.get("q") == q]
        js = [jobs_in(jobs, s) for s in spans]
        out[f"query.{q}_s"] = _median(s["t1"] - s["t0"] for s in spans)
        out[f"query.{q}.exec_cpu_s"] = _per_op(js, "exec_cpu_s")
        out[f"query.{q}.shuffle_bytes"] = _per_op(js, "shuffle_write_bytes")
        out[f"query.{q}.task_skew"] = job_totals([j for x in js for j in x])["task_skew"] if js else 0.0
    return out


def per_layer_metrics(tracer, jobs: list[dict], *, batches: list[dict],
                      sync_results: list[dict], table, extra: dict) -> dict[str, float]:
    """All per-layer metrics; `extra` carries the run-level numbers
    (untraced wall times, tracing overhead)."""
    out = {}
    out.update(apply_metrics(tracer, jobs))
    out.update(batch_metrics(batches))
    out.update(table_metrics(tracer, jobs, table))
    out.update(sync_metrics(tracer, jobs, sync_results, batches))
    out.update(query_metrics(tracer, jobs))
    out.update(extra)
    return out


def write_trace(path: str, tracer, jobs: list[dict], callsites: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "callsites": callsites,
                   "jobs": [{k: v for k, v in j.items() if k != "stages"} for j in jobs]},
                  f, default=str)
