"""Shared pieces of the workloads: the workload interface, parquet
writing of generated columns, and result comparisons."""
from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class Workload:
    """One workload: engine set-up, a request stream, and a reference.

    ``prepare`` writes the generated inputs where the engine reads them;
    ``setup`` builds the engine state from them and ``warmup`` runs each
    request template once.  ``execute`` performs one request and returns its
    materialized result; ``verify`` checks a result against the
    independent reference, outside the timed window.  ``perturb``
    returns a deliberately wrong copy of a result, which ``verify`` must
    reject (the canary check of the correctness gate).
    """

    name = ""
    #: templates whose requests always run Spark jobs
    spark_backed: frozenset = frozenset()
    #: one request stream for the whole run (False: a fixed job list)
    streaming = True
    #: requests per cycle of the stream's fixed template mix
    cycle_len = 0
    #: whole cycles a run holds at least, however fast the host
    min_cycles = 1
    #: templates the warm-up skips
    no_warmup: frozenset = frozenset()

    def __init__(self, spark, inputs: dict, workdir: str, tracer) -> None:
        self.spark = spark
        self.inputs = inputs
        self.workdir = workdir
        self.tr = tracer

    def prepare(self) -> None:
        """Write generated inputs to disk (once, before set-up)."""

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """One request of each template, from the generated warm-up set
        (other constants than the timed stream's).  Writes are skipped:
        they would change the state the timed stream starts from."""
        seen = set(self.no_warmup)
        for req in self.inputs.get("warmup", []):
            if req["template"] not in seen:
                seen.add(req["template"])
                self.execute(req)

    def requests(self) -> list[dict]:
        return self.inputs["requests"]

    def batch(self) -> list[list[dict]]:
        """Repetitions of a fixed job list run after the stream, each
        timed as a whole (batch_s is their median); empty: batch_s is the
        stream's wall time per cycle."""
        return self.inputs.get("batch", [])

    def execute(self, req: dict):
        raise NotImplementedError

    def verify(self, req: dict, result) -> bool:
        raise NotImplementedError

    def perturb(self, req: dict, result):
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Workload-specific per-layer values (traced run only)."""
        return {}


def write_parquet(cols: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    arrays = {}
    for k, v in cols.items():
        if isinstance(v, np.ndarray) and v.ndim == 2:    # vectors
            arrays[k] = pa.array(list(v), type=pa.list_(pa.float64()))
        else:
            arrays[k] = pa.array(v)
    pq.write_table(pa.table(arrays), path)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def topk_matches(got: list[tuple], ref: dict, k: int,
                 rel: float = 1e-9) -> bool:
    """``got`` = [(id, score)] from the engine, best first; ``ref`` =
    {id: score} over every candidate.  Exact-up-to-ties top-k check:
    every returned score equals the reference score of that id, the
    list is sorted, it has min(k, |ref|) rows, and no id left out
    scores above the last one returned."""
    if len(got) != min(k, len(ref)) or len({i for i, _ in got}) != len(got):
        return False
    for i, s in got:
        if i not in ref or not close(s, ref[i], rel):
            return False
    scores = [s for _, s in got]
    if any(a < b and not close(a, b, rel)
           for a, b in zip(scores, scores[1:])):
        return False
    if not got:
        return True
    ids = {i for i, _ in got}
    last = scores[-1]
    return all(s <= last or close(s, last, rel)
               for i, s in ref.items() if i not in ids)
