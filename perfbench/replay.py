"""Single-process, stage-by-stage replay of the range refine funnel.

The production refine runs its accept filters and the exact decider inside
one Arrow kernel, so Spark cannot time them apart. The replay re-runs the
same public batch kernels over a sample of refine pairs, in the order and
chunking the refine uses (pairs sorted by combined length, 4096 per padded
chunk), and times each stage. The stage it assigns to a pair must equal the
stage ``funnel_stats=True`` reported for that pair.
"""

from __future__ import annotations

import time

import numpy as np

from frechetrange_spark.kernels.batch import (
    decide_frechet_batch,
    dfd_leq_batch,
    etd_batch,
    greedy_ub_batch,
    pad_curves,
)

CHUNK = 4096
STAGES = ("etd", "greedy", "greedy_rev", "dfd", "decide")


def replay_stages(ps: list[np.ndarray], qs: list[np.ndarray], eps: float) -> dict:
    """Stage per pair (funnel stage names) and microseconds per pair that
    entered each stage."""
    n = len(ps)
    stage = np.full(n, "", dtype=object)
    busy = dict.fromkeys(STAGES, 0.0)
    entered = dict.fromkeys(STAGES, 0)
    lens = np.array([len(p) + len(q) for p, q in zip(ps, qs)], dtype=np.int64)
    order = np.argsort(lens, kind="stable")

    def timed(name, todo, fn):
        entered[name] += todo.size
        t0 = time.perf_counter()
        res = fn()
        busy[name] += time.perf_counter() - t0
        return res

    for s in range(0, n, CHUNK):
        rows = order[s : s + CHUNK]
        p, lp = pad_curves([ps[i] for i in rows])
        t, lt = pad_curves([qs[i] for i in rows])
        e = np.full(rows.size, eps)
        todo = np.arange(rows.size)
        acc = timed("etd", todo, lambda: etd_batch(p, t) <= e)
        stage[rows[acc]] = "etd_accept"
        todo = todo[~acc]
        if todo.size:
            acc = timed(
                "greedy", todo,
                lambda: greedy_ub_batch(p[todo], t[todo], lp[todo], lt[todo]) <= e[todo],
            )
            stage[rows[todo[acc]]] = "greedy_accept"
            todo = todo[~acc]
        if todo.size:
            def rev():
                w = np.full(todo.size, p.shape[1], dtype=np.int64)
                v = np.full(todo.size, t.shape[1], dtype=np.int64)
                pr, tr = p[todo, ::-1].copy(), t[todo, ::-1].copy()
                return greedy_ub_batch(pr, tr, w, v) <= e[todo]

            acc = timed("greedy_rev", todo, rev)
            stage[rows[todo[acc]]] = "greedy_rev_accept"
            todo = todo[~acc]
        if todo.size:
            acc = timed(
                "dfd", todo, lambda: dfd_leq_batch(p[todo], t[todo], e[todo] ** 2)
            )
            stage[rows[todo[acc]]] = "dfd_accept"
            todo = todo[~acc]
        if todo.size:
            dec = timed(
                "decide", todo, lambda: decide_frechet_batch(p[todo], t[todo], e[todo])
            )
            stage[rows[todo]] = np.where(dec, "decider_yes", "decider_no")
    return {
        "stages": stage,
        "us_per_pair": {
            k: busy[k] / entered[k] * 1e6 if entered[k] else 0.0 for k in STAGES
        },
    }
