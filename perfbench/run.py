"""The repo benchmark: one seeded workload, end to end or traced.

    python3 perfbench/run.py --workload fetch_mix --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout.  The process starts Spark on
``local[nproc]``, writes its generated inputs under ``.perfbench_work/``
in the checkout (removed at exit), sets the engine up, runs a closed loop
of one client for ``--seconds`` (rounded up to whole request cycles), and
checks every result against the workload's independent reference outside
the timed window.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones.  A human-readable table goes to standard error.
The exit code is 0 only when every result was correct.
"""
from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WORKLOADS = {
    "fetch_mix": ("wl_fetch", "FetchMix"),
    "retrieval_serve": ("wl_retrieval", "RetrievalServe"),
    "batch_analytics": ("wl_batch", "BatchAnalytics"),
    "write_read_mix": ("wl_write", "WriteReadMix"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def sandbox(workdir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    work directory."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(workdir, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM behind it and wait for it: a
    PySpark gateway JVM exits when its stdin pipe closes."""
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def p90(xs: list[float]) -> float:
    """90th percentile, interpolated between the two nearest ranks
    (``statistics.quantiles``' default method)."""
    return statistics.quantiles(xs, n=10)[8]


def cached_block_mb(spark) -> float:
    """Storage memory held by cached, checkpointed and broadcast blocks,
    from the executor summaries of Spark's status store."""
    from spans import _seq
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(e.memoryUsed() for e in _seq(store.executorList(True))) / 1e6


def run_loop(wl, tracer, seconds: float, reqs=None,
             streaming=True) -> tuple[list[dict], float]:
    """Closed loop, one client: the next request goes out when the last
    one returned.  A stream stops at the first cycle boundary after
    ``seconds`` and after ``wl.min_cycles`` cycles, so every run holds
    whole cycles of the same template mix and at least a fixed number of
    requests; a fixed job list runs exactly once."""
    reqs = wl.requests() if reqs is None else reqs
    streaming = streaming and wl.streaming
    done: list[dict] = []
    t0 = time.perf_counter()
    for req in reqs:
        r0 = time.perf_counter()
        err = None
        with tracer.request(f"{req['template']}#{req['id']}"):
            try:
                res = wl.execute(req)
            except Exception as ex:  # a failed request is counted, not fatal
                res, err = None, f"{type(ex).__name__}: {ex}"
        r1 = time.perf_counter()
        done.append({"req": req, "result": res, "error": err,
                     "latency": r1 - r0, "end": r1 - t0})
        if (streaming and r1 - t0 >= seconds
                and len(done) % wl.cycle_len == 0
                and len(done) >= wl.min_cycles * wl.cycle_len):
            break
    else:
        if streaming:
            raise RuntimeError("request stream exhausted before the run "
                               "ended; generate more cycles")
    return done, time.perf_counter() - t0


def verify(wl, done: list[dict]) -> tuple[int, list[str]]:
    wrong, notes = 0, []
    for d in done:
        if d["error"] is not None:
            wrong += 1
            notes.append(f"request {d['req']['id']} failed: {d['error']}")
        elif not wl.verify(d["req"], d["result"]):
            wrong += 1
            notes.append(f"request {d['req']['id']} "
                         f"({d['req']['template']}) gave a wrong result")
    return wrong, notes


def canary(wl, done: list[dict]) -> list[str]:
    """Perturbed copies of verified results must be rejected: one per
    template (a dropped row, a changed score, an off-by-one count)."""
    bad, seen = [], set()
    for d in done:
        t = d["req"]["template"]
        if d["error"] is None and t not in seen:
            seen.add(t)
            if wl.verify(d["req"], wl.perturb(d["req"], d["result"])):
                bad.append(f"perturbed {t} result passed verification")
    return bad


def end_to_end(wl, done, loop_s, batch_s, setup_s,
               spark) -> dict[str, float]:
    lat = [d["latency"] if d["error"] is None else loop_s for d in done]
    if batch_s is None:     # no batch job: the mean wall of one cycle
        batch_s = loop_s * wl.cycle_len / len(done)
    return {"setup_s": setup_s,
            "latency_p50_ms": statistics.median(lat) * 1e3,
            "latency_p90_ms": p90(lat) * 1e3,
            "throughput_rps": sum(d["error"] is None for d in done) / loop_s,
            "batch_s": batch_s,
            "cached_block_mb": cached_block_mb(spark)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the trace's spans (JSON lines)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphydb_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a graphydb_spark checkout "
              "(no graphydb_spark package here)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]

    cpus = nproc()
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{os.getpid()}")
    sandbox(workdir, cpus)
    spark = None
    try:
        import gen
        import importlib
        from spans import NullTracer, Tracer
        inputs = gen.GENERATORS[args.workload](args.seed)

        t_sess = time.perf_counter()
        from graphydb_spark import get_spark
        spark = get_spark(app=f"perfbench-{args.workload}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_sess

        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        mod, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod), cls)(
            spark, inputs, workdir, tracer)
        wl.prepare()
        r0 = time.perf_counter()
        wl.setup()
        phase = {"session": session_s, "setup": time.perf_counter() - r0}
        wl.warmup()
        setup_s = time.perf_counter() - T_START
        done, loop_s = run_loop(wl, tracer, args.seconds)
        phase["loop"] = loop_s
        batch_done, batch_s = [], None
        if not wl.streaming:
            batch_s = loop_s
        elif wl.batch():
            walls = []
            for job in wl.batch():
                d, s = run_loop(wl, tracer, 0, job, False)
                batch_done += d
                walls.append(s)
            batch_s = statistics.median(walls)
        phase["batch"] = batch_s
        e2e = end_to_end(wl, done, loop_s, batch_s, setup_s, spark)
        done += batch_done

        wrong, notes = verify(wl, done)
        canary_bad = canary(wl, done)
        notes += canary_bad
        correct = wrong == 0 and not canary_bad
        phase["verified_at"] = time.perf_counter() - T_START
        if args.trace:
            import layers
            metrics = layers.per_layer(spec, tracer, wl, done, session_s)
            if args.spans:
                tracer.dump(args.spans)
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]],
                                   "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    phase["total"] = time.perf_counter() - T_START
    print(f"perfbench phases: {json.dumps(phase)}", file=sys.stderr)
    for n in notes[:20]:
        print(f"perfbench: {n}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} cpus={cpus} "
          f"requests={len(done)} wrong={wrong} "
          f"error_rate={wrong / len(done):.4f}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:14.4f} {m['unit']}",
              file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(done),
                      "failed": wrong, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
