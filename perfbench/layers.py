"""Reduce a traced run's spans to the per-layer metrics of BENCHMARK.json.

A metric ``<layer>.<what>_ms`` (or ``_s``) is the median over the run of
the self time of the spans named ``<layer>.<what>`` (the span's time
minus the time its child spans cover); ``persisted_index.ann_batch_ms.b1``
reads spans ``persisted_index.ann_batch.b1``.  Counts are medians of the
values recorded at the boundary.  ``spark.*`` are medians over the
Spark-backed requests of the counters read from Spark's status store
under each request's job group.  A layer the workload never calls reports
0: no span, no time.
"""
from __future__ import annotations

import re
import statistics

from spans import StatusStoreError

#: metrics whose value is the whole span, children included
WHOLE_SPAN = {"graph.read_after_write_ms"}
#: count metrics: the last value recorded (a running total)
LAST_VALUE = {"graph.changes"}
SPARK = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "task_skew")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def sanity_check(tracer, wl) -> list[dict]:
    """Counters of every Spark-backed request; raises if the status store
    returned none or impossible ones (more executor time than the cores
    could run in the request's wall time)."""
    out = []
    cores = tracer.counters.cores
    for sp in tracer.requests():
        template = sp.rid.rsplit("#", 1)[0]
        if template not in wl.spark_backed:
            continue
        c = sp.spark
        wall_ms = (sp.end - sp.start) * 1e3
        if c is None or c["jobs"] < 1:
            raise StatusStoreError(
                f"request {sp.rid}: no Spark job found in the status store")
        # task run times are whole milliseconds each
        if c["executor_run_ms"] > cores * wall_ms + c["tasks"]:
            raise StatusStoreError(
                f"request {sp.rid}: {c['executor_run_ms']:.0f} ms executor "
                f"time in {wall_ms:.0f} ms wall on {cores} cores")
        out.append(c)
    return out


def per_layer(spec: dict, tracer, wl, done: list[dict],
              session_s: float) -> dict:
    self_t = tracer.self_times()
    counters = sanity_check(tracer, wl)
    # tracing cost inside the measured requests only: the tracer's own
    # bookkeeping and the work done only when tracing (chain compiles,
    # snapshot file counts), against the requests' untraced time
    extra = tracer.request_overhead_s
    busy = sum(d["latency"] for d in done) - extra
    values = {
        "session.start_s": session_s,
        "trace.overhead_pct": 100.0 * extra / busy,
    }
    for k in SPARK:
        values[f"spark.{k}"] = _median([c[k] for c in counters])
    values.update(wl.layer_metrics())

    out = {}
    for m in spec["per_layer"]:
        name, unit = m["name"], m["unit"]
        if name in values:
            v = values[name]
        elif unit in ("ms", "s"):
            span = re.sub(r"_(ms|s)(\.|$)", r"\2", name)
            xs = (tracer.durations(span) if name in WHOLE_SPAN
                  else self_t.get(span, []))
            v = _median(xs) * (1e3 if unit == "ms" else 1.0)
        else:
            xs = tracer.counts.get(name, [])
            v = (xs[-1] if name in LAST_VALUE else _median(xs)) if xs else 0
        out[name] = {"value": float(v), "unit": unit}
    return out
