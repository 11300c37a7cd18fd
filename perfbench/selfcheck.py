"""Checks of the benchmark itself; no Spark needed.

    python3 perfbench/selfcheck.py

1. Generator determinism: the same seed gives identical inputs and
   request streams, another seed gives different ones, for every
   workload; and the generator imports nothing of the engine, so only
   its plain values can reach engine calls.
2. Correctness gate: for requests whose reference answer can be computed
   without Spark, the reference answer passes ``verify`` and its
   perturbed copy (a dropped row, a changed score, an off-by-one count)
   does not.  Every benchmark run repeats the perturbation check on the
   engine's own results.
Exits non-zero on the first failure.
"""
from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import NullTracer  # noqa: E402


def check(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        sys.exit(1)


def determinism() -> None:
    check(not any(m.startswith(("graphydb_spark", "pyspark"))
                  for m in sys.modules),
          "generator imports no engine module")
    for name, fn in gen.GENERATORS.items():
        a, b, c = gen.digest(fn(11)), gen.digest(fn(11)), gen.digest(fn(12))
        check(a == b, f"{name}: same seed, same inputs")
        check(a != c, f"{name}: other seed, other inputs")


def gate(wl, req, expected) -> None:
    t = req["template"]
    check(wl.verify(req, expected), f"{wl.name}/{t}: reference passes")
    check(not wl.verify(req, wl.perturb(req, expected)),
          f"{wl.name}/{t}: perturbed result is rejected")


def gates(workdir: str) -> None:
    from wl_batch import BatchAnalytics
    from wl_fetch import FetchMix
    from wl_retrieval import RetrievalServe
    from wl_write import WriteReadMix

    fm = FetchMix(None, gen.GENERATORS["fetch_mix"](1), workdir,
                  NullTracer())
    fm.prepare()
    seen = set()
    for req in fm.requests():
        t = req["template"]
        if t not in seen:
            seen.add(t)
            gate(fm, req, req.get("expect") if t in gen.FETCH_WRITE_CYCLE
                 else fm.expected(req))

    rs = RetrievalServe(None, gen.retrieval_inputs(1), workdir, NullTracer())
    seen = set()
    for req in rs.requests():
        t = req["template"]
        if t in seen or t not in ("bm25", "bm25_hot", "match", "minhash"):
            continue
        seen.add(t)
        if t == "match":
            exp = rs._match(rs._corpus_at(req["id"]), req["query"])
        elif t == "minhash":
            exp = rs._minhash_ref(req)
        else:
            ref = rs._bm25(rs._corpus_at(req["id"]), req["terms"])
            exp = sorted(ref.items(), key=lambda x: (-x[1], x[0]))[:req["k"]]
        gate(rs, req, exp)

    ba = BatchAnalytics(None, gen.batch_inputs(1), workdir, NullTracer())
    for req in ba.requests():
        j = req["template"]
        exp = (sorted(ba._pagerank().items()) if j == "pagerank"
               else ba.expected(j))
        gate(ba, req, exp)

    wr = WriteReadMix(None, gen.write_inputs(1), workdir, NullTracer())
    seen = set()
    for req in wr.requests():
        if req["template"] in ("count", "neighbors", "group") \
                and req["template"] not in seen:
            seen.add(req["template"])
            gate(wr, req, req["expect"])


def main() -> int:
    determinism()
    workdir = os.path.join(os.getcwd(), ".perfbench_work",
                           f"selfcheck-{os.getpid()}")
    try:
        gates(workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
