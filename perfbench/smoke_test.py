"""Smoke test of the trace fold and the metric emission, on a tiny
hand-written event log (no Spark needed):

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

It checks the event-log fold's per-call-site numbers, the apply accounting,
and that every metric name in BENCHMARK.json is emitted with its unit, in
both the untraced and the traced result line.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE]

import run  # noqa: E402
from layers import per_layer_metrics  # noqa: E402
from spantrace import Tracer, callsite_table, fold_event_log  # noqa: E402
from workloads import CARRIED_QUERIES, QUERIES, QueryMix, Workload  # noqa: E402

T0 = 1_700_000_000.0  # span clock, seconds; the event log uses ms


def _job(job_id, start_s, end_s, site, root, stages):
    yield {"Event": "SparkListenerJobStart", "Job ID": job_id,
           "Submission Time": int((T0 + start_s) * 1e3),
           "Stage Infos": [{"Stage ID": s, "Stage Name": site} for s, *_ in stages],
           "Stage IDs": [s for s, *_ in stages],
           "Properties": {"callSite.short": site,
                          "spark.job.tags": f"spark-session-x-execution-root-id-{root}"}}
    for stage_id, run_ms, cpu_ns, shuffle_w, out_b, tasks in stages:
        for t in tasks:
            yield {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
                   "Task Metrics": {"Executor Run Time": t}}
        yield {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": stage_id, "Number of Tasks": len(tasks), "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                {"Name": "internal.metrics.executorCpuTime", "Value": str(cpu_ns)},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle_w},
                {"Name": "internal.metrics.output.bytesWritten", "Value": out_b},
                {"Name": "internal.metrics.memoryBytesSpilled", "Value": 7},
            ]}}
    yield {"Event": "SparkListenerJobEnd", "Job ID": job_id,
           "Completion Time": int((T0 + end_s) * 1e3)}


def tiny_event_log() -> list[str]:
    events = [
        # apply: decisions collect (plus an AQE sub-job of the same execution)
        *_job(0, 0.10, 0.50, "collect at /x/recidiviz_data_spark/cdc/apply.py:394", 1,
              [(0, 400, 300_000_000, 1000, 0, [100, 100, 200])]),
        *_job(1, 0.20, 0.30, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
              1, [(1, 50, 40_000_000, 10, 0, [50])]),
        # apply: rewrite write
        *_job(2, 0.60, 0.90, "parquet at NativeMethodAccessorImpl.java:0", 2,
              [(2, 300, 250_000_000, 500, 4096, [150, 150])]),
        # a query and a scan
        *_job(3, 1.10, 1.40, "toPandas at /x/run.py:1", 3,
              [(3, 600, 500_000_000, 64, 0, [100, 100, 400])]),
        *_job(4, 2.10, 2.20, "save at /x/workloads.py:1", 4,
              [(4, 90, 80_000_000, 0, 0, [45, 45])]),
    ]
    return [json.dumps(e) for e in events]


def tiny_tracer() -> Tracer:
    tr = Tracer(True)
    spans = [
        ("cdc.apply", 0.0, 1.0, None, {}),
        ("sources.read_batch", 0.01, 0.05, 0, {}),
        ("tables.metadata", 0.05, 0.08, 0, {}),
        ("tables.collect_staged", 0.90, 0.93, 0, {}),
        ("tables.commit", 0.93, 0.98, 0, {}),
        ("tables.commit_once", 0.94, 0.97, 4, {}),
        ("tables.metadata", 0.94, 0.95, 4, {}),  # nested in commit: not counted
        ("query", 1.05, 1.50, None, {"q": "a1_pricing_summary"}),
        ("sync.hook", 1.6, 2.0, None, {}),
        ("sync.agg", 1.6, 1.8, 8, {}),
        ("sync.distinct", 1.8, 2.0, 8, {}),
        ("tables.lookup", 2.0, 2.05, None, {}),
        ("tables.files_for_keys", 2.01, 2.02, 11, {"n": 3}),
        ("tables.scan", 2.05, 2.3, None, {}),
    ]
    for i, (name, a, b, parent, attrs) in enumerate(spans):
        tr.spans.append({"id": i, "name": name, "t0": T0 + a, "t1": T0 + b,
                         "parent": parent, **attrs})
    return tr


def test_fold_callsites():
    jobs = fold_event_log(tiny_event_log())
    assert [j["label"] for j in jobs][:2] == [
        "collect at /x/recidiviz_data_spark/cdc/apply.py:394"] * 2  # AQE job joins its root
    table = callsite_table(jobs)
    dd = table["collect at /x/recidiviz_data_spark/cdc/apply.py:394"]
    assert dd["jobs"] == 2 and abs(dd["wall_s"] - 0.4) < 1e-9
    assert abs(dd["exec_cpu_s"] - 0.34) < 1e-9 and dd["shuffle_write_bytes"] == 1010
    assert dd["spill_bytes"] == 14 and dd["tasks"] == 4
    assert dd["task_skew"] == 2.0  # dominant stage: max 200 / median 100
    assert table["parquet at NativeMethodAccessorImpl.java:0"]["bytes_written"] == 4096


def test_apply_accounting():
    m = per_layer_metrics(tiny_tracer(), fold_event_log(tiny_event_log()),
                          batches=[], sync_results=[], table=None, extra={})
    assert abs(m["cdc.dedup_decide.wall_s"] - 0.4) < 1e-6
    assert abs(m["cdc.rewrite_write.wall_s"] - 0.3) < 1e-6
    assert abs(m["cdc.driver_s"] - 0.3) < 1e-6
    assert abs(m["cdc.accounted_ratio"] - 1.0) < 1e-6
    assert m["cdc.spark_jobs_per_batch"] == 3
    assert abs(m["tables.metadata_s"] - 0.03) < 1e-6  # the commit's own read excluded
    assert m["tables.commit_retries"] == 0 and m["tables.lookup_files_opened"] == 3
    assert abs(m["query.a1_pricing_summary.exec_cpu_s"] - 0.5) < 1e-9
    assert m["query.a1_pricing_summary.task_skew"] == 4.0


def test_every_metric_emitted_with_its_unit():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # traced: the per-layer metrics
    values = per_layer_metrics(
        tiny_tracer(), fold_event_log(tiny_event_log()),
        batches=[{"apply_s": 1.0, "compacting": False, "changed_buckets": 2,
                  "mor_buckets": 1, "rows_written": 5, "changed_rows": 4}],
        sync_results=[{"action": "incremental"}, {"action": "rebuild"}], table=None,
        extra={"trace.overhead_s": 0.1, "trace.overhead_ratio": 0.01,
               "wall.op_s_p50": 2.0, "wall.cycle_s": 6.0})
    out = run.result_object(10, 0, values, run.metric_units(True))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        x["name"]: x["unit"] for x in spec["per_layer"]}
    # untraced: the end-to-end metrics
    wl = Workload(run=None)
    wl.samples = [{"op_s": 2.0, "cycle_s": 5.0, "op_cpu_s": 3.0, "cpu_s": 9.0},
                  {"op_s": 4.0, "cycle_s": 7.0, "op_cpu_s": 5.0, "cpu_s": 11.0}]
    values = {"setup_s": 0.5, "peak_rss_mb": 900.0, **wl.end_to_end()}
    out = run.result_object(4, 0, values, run.metric_units(False))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        x["name"]: x["unit"] for x in spec["end_to_end"]}
    assert out["metrics"]["op_cpu_s"]["value"] == 4.0
    assert out["metrics"]["cycle_cpu_s"]["value"] == 10.0


def test_query_mix_sums_and_trace_overhead():
    wl = QueryMix(run=None)
    # every query once at 1 s / 2 CPU s, then a1 again at 3 s / 4 CPU s
    wl.samples = [{"q": q, "op_s": 1.0, "cycle_s": 1.0, "op_cpu_s": 2.0, "cpu_s": 2.0}
                  for q in QUERIES]
    wl.samples.append({"q": QUERIES[0], "op_s": 3.0, "cycle_s": 3.0, "op_cpu_s": 4.0,
                       "cpu_s": 4.0})
    e = wl.end_to_end()
    assert e["cycle_cpu_s"] == 2.0 * (len(QUERIES) - 1) + 3.0  # a1: median of 2 and 4
    assert e["op_cpu_s"] == 2.0 * len(CARRIED_QUERIES)  # a1 is not carried
    # pairs cycles by batch; batch 1 ran only in the traced half
    untraced = [{"batch": 0, "cycle_s": 10.0}]
    traced = [{"batch": 0, "cycle_s": 11.0}, {"batch": 1, "cycle_s": 30.0}]
    s, ratio = run.trace_overhead(untraced, traced)
    assert abs(s - 1.0) < 1e-9 and abs(ratio - 0.1) < 1e-9


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
