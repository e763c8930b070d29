"""The workloads (``selfjoin``, ``lookup``) and the kNN path measured inside
the traced self-join run: seeded inputs, set-up, one operation, the
correctness gate and the traced per-layer decomposition.

Inputs derive from one corpus, the sf0.1 documents table shipped in
``data/``, and the ``--seed``: the self-join grid shift, the kNN query
sample, the lookup tile layout, the jittered lookup query curves and every
brute-force sample. The engine only ever receives the generated DataFrames,
through its public calls (sources.trajectories, sources.index_table,
operators.range_query, operators.knn, kernels).
"""

from __future__ import annotations

import os
import shutil
import time
from functools import reduce
from statistics import median

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frechetrange_spark.kernels import core
from frechetrange_spark.kernels.batch import frechet_distance_batch
from frechetrange_spark.operators.knn import (
    decide_radius_prune,
    etd_prune,
    knn_candidates_grid,
    knn_frechet,
)
from frechetrange_spark.operators.range_query import (
    build_grid_index,
    grid_candidates,
    range_query_bruteforce,
    range_query_grid,
)
from frechetrange_spark.sources.index_table import read_index, write_index
from frechetrange_spark.sources.trajectories import assemble_curves, points_from_text

from replay import replay_stages

EPS = 15.0  # the entry suite's range threshold and grid mesh
MESH = 15.0
K = 5
SELF_CURVES = 1200  # self-join sample of the 5,000 sf0.1 curves
SELF_GATE = 6  # self-join queries re-checked by brute force
KNN_QUERIES = 34  # ~5,000 / 150, the entry suite's kNN query rate
KNN_GATE = 2
LOOKUP_TILES = 6  # translated copies of sf0.1: ~81 MB payload, past 64 MB
LOOKUP_GATE = 1
TILE_STRIDE = 100_000  # traj_id offset per tile
TILE_SPACING = 1000.0  # sf0.1 spans about 150 x 135 units: tiles never come within EPS
JITTER = 0.5  # per-point lookup query noise; the source curve stays within EPS
QUERY_ID0 = 10_000_000
REPLAY_PAIRS = 3000

REFINE_STAGES = (
    "etd_accept",
    "greedy_accept",
    "greedy_rev_accept",
    "dfd_accept",
    "decider_yes",
    "decider_no",
)


def _digest(q: np.ndarray, t: np.ndarray) -> tuple[int, int]:
    """(count, order-independent hash) of a (query_id, traj_id) pair set:
    the wrapping uint64 sum of a splitmix64 mix of each packed pair."""
    z = (q.astype(np.uint64) << np.uint64(32)) ^ t.astype(np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        return int(q.size), int(z.sum(dtype=np.uint64))


def _pairs(tab) -> tuple[np.ndarray, np.ndarray]:
    return (
        tab.column("query_id").to_numpy().astype(np.int64),
        tab.column("traj_id").to_numpy().astype(np.int64),
    )


def _curve_arrays(tab) -> dict[int, np.ndarray]:
    """traj_id -> (n, 2) points from an Arrow (traj_id, xs, ys) table."""
    ids = tab.column("traj_id").to_pylist()
    xs = tab.column("xs").to_pylist()
    ys = tab.column("ys").to_pylist()
    return {
        int(i): np.column_stack([np.asarray(x, float), np.asarray(y, float)])
        for i, x, y in zip(ids, xs, ys)
    }


def _isin(df: DataFrame, col: str, ids) -> DataFrame:
    return df.filter(F.col(col).isin([int(i) for i in ids]))


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Corpus:
    """The sf0.1 documents table; curves come from the engine's own
    text-to-trajectory reconstruction."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.doc_ids = np.sort(
            pq.read_table(path, columns=["doc_id"]).column("doc_id").to_numpy()
        )

    def points(self, ids=None):
        docs = self.spark.read.parquet(self.path).select("doc_id", "text")
        if ids is not None:
            docs = _isin(docs, "doc_id", ids)
        return points_from_text(docs)


class Workload:
    """One workload. ``prepare`` generates the input point table (untimed);
    ``setup`` builds a queryable index from it and is timed by the caller
    ``setup_reps`` times;
    ``op`` is one operation and returns a result record, run
    ``warmup_ops`` times untimed before the timed phase; ``check`` is the
    correctness gate (one verdict per operation); ``layers`` is the traced
    per-layer decomposition."""

    name = ""

    def __init__(self, spark, tracer, corpus: Corpus, seed: int, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.corpus = corpus
        self.seed = seed
        self.work_dir = work_dir

    def prepare(self) -> None:
        self.points = self._input_points().persist()
        self.points.count()

    def _input_points(self):
        return self.corpus.points()

    def _trajectories(self, points, span: str = "trajectories"):
        with self.tr.span(span):
            curves = assemble_curves(points).persist()
            curves.count()
        return curves

    def trajectory_layer(self, curves) -> dict:
        s = self.tr.last("trajectories")
        row = curves.agg(F.count("*").alias("c"), F.sum("n_points").alias("p")).first()
        return {
            "trajectories.wall_s": s["wall_s"],
            "trajectories.jobs": s.get("jobs", 0),
            "trajectories.curves": int(row["c"]),
            "trajectories.points": int(row["p"]),
        }

    def close(self) -> None:
        self.points.unpersist()


class RangeWorkload(Workload):
    """Shared traced decomposition for the two range_query_grid workloads."""

    symmetric = False

    def _range_op(self, queries):
        obs = {} if self.tr.enabled else None
        with self.tr.span("range_query.build") as build:
            df = range_query_grid(
                self.index_df, queries, EPS, self.meta,
                symmetric=self.symmetric, observations=obs,
            )
        with self.tr.span("range_query.action") as act:
            tab = df.toArrow()
        if obs:
            act["obs"] = {k: int(v.get["n"]) for k, v in obs.items()}
        return tab, {"build": build, "action": act}

    def range_layers(self, queries, query_arrays, curve_arrays_for) -> tuple[dict, int]:
        """candidates, refine funnel and the kernel replay over a seeded
        sample of the refine input; also returns the funnel's refine count."""
        out = {}
        arrays = ["xs", "ys"]
        with self.tr.span("candidates") as s:
            cand = grid_candidates(
                self.index_df.drop(*arrays), queries.drop(*arrays), EPS, self.meta
            )
            row = cand.agg(
                F.count("*").alias("n"),
                F.sum(F.col("accept_f3").cast("long")).alias("f3"),
            ).first()
        out["candidates.wall_s"] = s["wall_s"]
        out["candidates.jobs"] = s["jobs"]
        out["candidates.pairs"] = int(row["n"])
        out["candidates.f3_accepted"] = int(row["f3"] or 0)

        with self.tr.span("refine.funnel"):
            stats = range_query_grid(
                self.index_df, queries, EPS, self.meta,
                symmetric=self.symmetric, funnel_stats=True,
                rev_greedy_accept=True, dfd_accept=True,
            ).toArrow()
        stage = np.asarray(stats.column("stage").to_pylist(), dtype=object)
        counts = {st: int((stage == st).sum()) for st in REFINE_STAGES}
        for st in REFINE_STAGES:
            out[f"refine.{st}"] = counts[st]
        refined = sum(counts.values())
        out["refine.decider_share"] = (
            (counts["decider_yes"] + counts["decider_no"]) / refined if refined else 0.0
        )

        # kernel replay over a seeded sample of the funnel's refine rows
        q, t = _pairs(stats)
        sel = np.nonzero(np.isin(stage, REFINE_STAGES))[0]
        rng = np.random.default_rng([self.seed, 7])
        if sel.size > REPLAY_PAIRS:
            sel = np.sort(rng.choice(sel, REPLAY_PAIRS, replace=False))
        tarr = curve_arrays_for(np.unique(t[sel]))
        rep = replay_stages(
            [query_arrays[int(i)] for i in q[sel]],
            [tarr[int(i)] for i in t[sel]],
            EPS,
        )
        for st, us in rep["us_per_pair"].items():
            out[f"kernels.{st}_us_per_pair"] = us
        self.checks["replay_matches_funnel"] = bool(
            np.array_equal(rep["stages"], stage[sel])
        )
        return out, refined

    def range_op_layers(self, ops: list[dict]) -> dict:
        """Medians over the traced operations' build/action spans."""
        builds = [o["spans"]["build"] for o in ops]
        acts = [o["spans"]["action"] for o in ops]
        med = median
        obs = [a["obs"] for a in acts]
        refine_input = med([o["refine_input"] for o in obs])
        matches = med([o["matches"] for o in obs])
        out = {
            "range_query.build_s": med([b["wall_s"] for b in builds]),
            "range_query.build_jobs": med([b["jobs"] for b in builds]),
            "range_query.action_s": med([a["wall_s"] for a in acts]),
            "range_query.action_jobs": med([a["jobs"] for a in acts]),
            "range_query.stages": med([a["stages"] for a in acts]),
            "range_query.task_cpu_s": med([a["cpu_s"] for a in acts]),
            "range_query.refine_input": refine_input,
            "range_query.matches": matches,
            "range_query.match_ratio": matches
            / max(refine_input + med([o["f3_accepted"] for o in obs]), 1),
        }
        return out


class SelfJoin(RangeWorkload):
    """Range self-join: every sampled curve is a query (symmetric=True).
    Nearly all the time is in the refine kernels behind the broadcast
    attach; planning is a small share."""

    name = "selfjoin"
    symmetric = True
    setup_reps = 5  # a set-up takes about a second, so its median can afford more
    warmup_ops = 2  # the first two self-joins still run slower while the JVM compiles

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # a fixed sample keeps the refine work the same for every seed; the
        # seed moves it against the grid (cell alignment changes the
        # candidate join) and picks the brute-force sample
        ids = self.corpus.doc_ids
        self.ids = ids[np.linspace(0, ids.size - 1, SELF_CURVES).astype(int)]
        rng = np.random.default_rng([self.seed, 1])
        self.shift = rng.uniform(0.0, MESH, 2)
        self.gate_ids = rng.choice(self.ids, SELF_GATE, replace=False)
        self.queries_per_op = SELF_CURVES
        self.curves = None
        self.checks = {}

    def _input_points(self):
        return self.corpus.points(self.ids).select(
            "traj_id",
            "seq",
            (F.col("x") + float(self.shift[0])).alias("x"),
            (F.col("y") + float(self.shift[1])).alias("y"),
        )

    def setup(self) -> None:
        if self.curves is not None:
            self.curves.unpersist()
        curves = self._trajectories(self.points)
        with self.tr.span("index.stats"):
            self.index_df, self.meta = build_grid_index(curves, MESH, corner="min_min")
        self.curves = curves

    def op(self, i: int):
        tab, spans = self._range_op(self.curves)
        q, t = _pairs(tab)
        return {"digest": _digest(q, t), "pairs": (q, t), "spans": spans}

    def check(self, results: list[dict]) -> list[bool]:
        q, t = results[0]["pairs"]
        ok = _digest(q, t) == _digest(t, q)  # symmetric pair set
        self.checks["symmetric"] = ok
        diag = int((q == t).sum()) == SELF_CURVES  # every curve matches itself
        self.checks["self_matches"] = diag
        bf = range_query_bruteforce(
            self.curves, _isin(self.curves, "traj_id", self.gate_ids), EPS
        ).toArrow()
        m = np.isin(q, self.gate_ids)
        sample = _digest(q[m], t[m]) == _digest(*_pairs(bf))
        self.checks["bruteforce_sample"] = sample
        ref_ok = ok and diag and sample
        ref = results[0]["digest"]
        return [ref_ok and r["digest"] == ref for r in results]

    def layers(self, ops: list[dict]) -> dict:
        out = self.trajectory_layer(self.curves)
        st = self.tr.last("index.stats")
        out["index.stats_s"] = st["wall_s"]
        out["index.stats_jobs"] = st["jobs"]
        out["index.payload_mb"] = self.meta["payload_bytes"] / 2**20
        arrays = _curve_arrays(self.curves.select("traj_id", "xs", "ys").toArrow())
        rl, refined = self.range_layers(self.curves, arrays, lambda ids: arrays)
        out.update(rl)
        out.update(self.range_op_layers(ops))
        self.checks["refine_counts_sum_to_refine_input"] = (
            refined == out["range_query.refine_input"]
        )
        out.update(self.knn_layers())
        return out

    def knn_layers(self) -> dict:
        """The kNN path has no end-to-end workload of its own (one kNN run
        costs about as much as a whole self-join run, see README); the
        traced self-join run measures it layer by layer on the full sf0.1
        corpus, behind its own correctness gate."""
        knn = Knn(self.spark, self.tr, self.corpus, self.seed, self.work_dir)
        try:
            knn.prepare()
            knn.setup()
            knn.warmup()
            res = [knn.op(0)]
            out = knn.layers(res)
            self.checks["knn_results"] = all(knn.check(res))
        finally:
            knn.close()
        self.checks.update({f"knn_{k}": v for k, v in knn.checks.items()})
        return out

    def close(self) -> None:
        super().close()
        if self.curves is not None:
            self.curves.unpersist()


class Knn(Workload):
    """kNN by Fréchet distance: the driver-side ring planner, the ETD radius
    prune and the bisection distance kernel; no exact-decider range
    refine."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        rng = np.random.default_rng([self.seed, 2])
        self.qids = np.sort(rng.choice(self.corpus.doc_ids, KNN_QUERIES, replace=False))
        self.gate_ids = rng.choice(self.qids, KNN_GATE, replace=False)
        self.queries_per_op = KNN_QUERIES
        self.curves = None
        self.checks = {}

    def setup(self) -> None:
        if self.curves is not None:
            self.curves.unpersist()
        self.curves = self._trajectories(self.points, "knn.trajectories")
        self.queries = _isin(self.curves, "traj_id", self.qids)

    def warmup(self) -> None:
        small = self.curves.filter(F.col("traj_id") % 10 == 0)
        queries = small.filter(F.col("traj_id") % 1000 == 0)
        knn_frechet(small, queries, k=K, mesh=MESH).toArrow()

    def op(self, i: int):
        with self.tr.span("knn.build"):
            df = knn_frechet(self.curves, self.queries, k=K, mesh=MESH)
        with self.tr.span("knn.action"):
            tab = df.toArrow()
        tab = tab.sort_by([("query_id", "ascending"), ("rank", "ascending")])
        return {
            "ids": _pairs(tab),
            "rank": tab.column("rank").to_numpy(),
            "distance": tab.column("distance").to_numpy(),
        }

    def check(self, results: list[dict]) -> list[bool]:
        ref = results[0]
        arrays = _curve_arrays(self.curves.select("traj_id", "xs", "ys").toArrow())
        ids = np.array(sorted(arrays))
        firsts = np.array([arrays[i][0] for i in ids])
        lasts = np.array([arrays[i][-1] for i in ids])
        q, t = ref["ids"]
        ok = all(int((q == qi).sum()) == K for qi in self.qids)
        for qi in self.gate_ids:
            m = q == qi
            ok &= _knn_matches_bruteforce(
                arrays, ids, firsts, lasts, int(qi), t[m], ref["distance"][m]
            )
        self.checks["bruteforce_sample"] = bool(ok)

        def same(r):
            return (
                np.array_equal(r["ids"][0], q)
                and np.array_equal(r["ids"][1], t)
                and np.array_equal(r["distance"], ref["distance"])
            )

        return [bool(ok) and same(r) for r in results]

    def layers(self, ops: list[dict]) -> dict:
        b, a = self.tr.last("knn.build"), self.tr.last("knn.action")
        out = {
            "knn.build_s": b["wall_s"],
            "knn.build_jobs": b["jobs"],
            "knn.action_s": a["wall_s"],
            "knn.action_jobs": a["jobs"],
        }
        with self.tr.span("knn.candidates") as s:
            cand = knn_candidates_grid(self.curves, self.queries, K, MESH).localCheckpoint()
            n_cand = cand.count()
        surv = etd_prune(self.curves, self.queries, cand, K).localCheckpoint()
        fin = decide_radius_prune(self.curves, self.queries, surv).toArrow()
        n_fin = fin.num_rows
        out.update({
            "knn.candidates": n_cand,
            "knn.candidates_s": s["wall_s"],
            "knn.etd_survivors": surv.count(),
            "knn.finalists": n_fin,
            "knn.finalist_ratio": K * KNN_QUERIES / max(n_fin, 1),
        })
        fq, ft = _pairs(fin)
        rng = np.random.default_rng([self.seed, 8])
        sel = rng.choice(n_fin, min(n_fin, 200), replace=False)
        arrays = _curve_arrays(
            _isin(self.curves, "traj_id", np.unique(np.concatenate([fq[sel], ft[sel]])))
            .select("traj_id", "xs", "ys").toArrow()
        )
        t0 = time.perf_counter()
        frechet_distance_batch(
            [arrays[int(i)] for i in fq[sel]], [arrays[int(i)] for i in ft[sel]], 1e-6
        )
        out["kernels.distance_us_per_pair"] = (
            (time.perf_counter() - t0) / max(sel.size, 1) * 1e6
        )
        return out

    def close(self) -> None:
        super().close()
        if self.curves is not None:
            self.curves.unpersist()


def _knn_matches_bruteforce(arrays, ids, firsts, lasts, qi, got_t, got_d) -> bool:
    """Top-k of query ``qi`` against scalar ``core`` kernels over every
    curve. Only curves whose endpoint lower bound is below the reported
    k-th distance can be closer, so only those are decided; reported
    distances must match the scalar distance within the documented 1e-6
    relative tolerance, and ranks may only swap within that tolerance."""
    rel = 2e-6
    p = arrays[qi]
    dk = float(got_d.max())
    lb = np.maximum(
        np.hypot(*(firsts - p[0]).T), np.hypot(*(lasts - p[-1]).T)
    )
    closer = [
        int(t)
        for t in ids[lb <= dk * (1 + rel) + 1e-9]
        if t != qi and core.decide_frechet(p, arrays[int(t)], dk * (1 + rel) + 1e-9)
    ]
    true_d = {t: core.frechet_distance(p, arrays[t]) for t in set(closer) | set(got_t.tolist())}
    for t, d in zip(got_t.tolist(), got_d.tolist()):
        if abs(d - true_d[t]) > 1e-6 * max(d, true_d[t]) + 1e-9:
            return False
    kth = sorted(true_d.values())[K - 1]
    must = {t for t, d in true_d.items() if d < kth * (1 - rel) - 1e-9}
    may = {t for t, d in true_d.items() if d <= kth * (1 + rel) + 1e-9}
    got = set(got_t.tolist())
    return must <= got <= may and len(got) == K


class Lookup(RangeWorkload):
    """Closed loop, one client: each request sends one jittered query curve
    and waits for its answer, against a past-broadcast-threshold index
    written with its disk curve pack. Per-query planning, job scheduling
    and pack gathers dominate; the kernels do little."""

    name = "lookup"
    queries_per_op = 1
    setup_reps = 3  # the first set-up pays JVM code generation; the median drops it
    warmup_ops = 5  # request latency drifts down while the JVM compiles

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        rng = np.random.default_rng([self.seed, 3])
        slots = rng.permutation(16)[:LOOKUP_TILES]
        self.offsets = np.column_stack([slots % 4, slots // 4]) * TILE_SPACING + (
            rng.uniform(0.0, 100.0, (LOOKUP_TILES, 2))
        )
        self.gate_rng = np.random.default_rng([self.seed, 4])
        self.index_dir = None
        self.setups = 0
        self.checks = {}
        self.requests = {}

    def prepare(self) -> None:
        super().prepare()
        pts = self.points.toArrow().sort_by([("traj_id", "ascending"), ("seq", "ascending")])
        tid = pts.column("traj_id").to_numpy()
        xy = np.column_stack([pts.column("x").to_numpy(), pts.column("y").to_numpy()])
        self.base_ids, first = np.unique(tid, return_index=True)
        self.base = dict(zip(self.base_ids.tolist(), np.split(xy, first[1:])))
        self.tiles = self._tiles(self.points)

    def _tiles(self, pts):
        return reduce(
            lambda a, b: a.unionAll(b),
            [
                pts.select(
                    (F.col("traj_id") + k * TILE_STRIDE).alias("traj_id"),
                    "seq",
                    (F.col("x") + float(ox)).alias("x"),
                    (F.col("y") + float(oy)).alias("y"),
                )
                for k, (ox, oy) in enumerate(self.offsets)
            ],
        )

    def setup(self) -> None:
        self.setups += 1
        path = os.path.join(self.work_dir, f"lookup_index_{self.setups}")
        curves = self._trajectories(self.tiles)
        with self.tr.span("index.stats"):
            index_df, meta = build_grid_index(curves, MESH, corner="min_min")
        with self.tr.span("index.write"):
            write_index(index_df, path, meta, pack=True)
        curves.unpersist()
        self.index_df, self.meta = read_index(self.spark, path)
        if self.index_dir:
            shutil.rmtree(self.index_dir, ignore_errors=True)
        self.index_dir = path

    def request(self, i: int):
        """Request ``i``: a jittered copy of a seeded source curve."""
        if i not in self.requests:
            rng = np.random.default_rng([self.seed, 5, i])
            tile = int(rng.integers(LOOKUP_TILES))
            src = int(rng.choice(self.base_ids))
            pts = self.base[src] + self.offsets[tile]
            pts = pts + rng.uniform(-JITTER, JITTER, pts.shape)
            self.requests[i] = (QUERY_ID0 + i, tile * TILE_STRIDE + src, pts)
        return self.requests[i]

    def _query_df(self, reqs):
        pdf = pd.concat(
            [
                pd.DataFrame(
                    {"traj_id": qid, "seq": np.arange(len(p)), "x": p[:, 0], "y": p[:, 1]}
                )
                for qid, _, p in reqs
            ]
        )
        pts = self.spark.createDataFrame(
            pdf, "traj_id long, seq int, x double, y double"
        )
        return assemble_curves(pts)

    def op(self, i: int):
        req = self.request(i)
        tab, spans = self._range_op(self._query_df([req]))
        return {"i": i, "matches": frozenset(_pairs(tab)[1].tolist()), "spans": spans}

    def check(self, results: list[dict]) -> list[bool]:
        ok = [self.request(r["i"])[1] in r["matches"] for r in results]
        self.checks["source_curve_found"] = all(ok)
        for j in self.gate_rng.choice(len(results), min(LOOKUP_GATE, len(results)), replace=False):
            r = results[int(j)]
            bf = range_query_bruteforce(
                self.index_df, self._query_df([self.request(r["i"])]), EPS
            ).toArrow()
            same = set(_pairs(bf)[1].tolist()) == r["matches"]
            self.checks[f"bruteforce_request_{r['i']}"] = same
            ok[int(j)] = ok[int(j)] and same
        return ok

    def layers(self, ops: list[dict]) -> dict:
        out = self.trajectory_layer(self.index_df)
        st, wr = self.tr.last("index.stats"), self.tr.last("index.write")
        pack = self.meta["pack_path"]
        pack_bytes = _du(pack)
        out.update({
            "index.stats_s": st["wall_s"],
            "index.stats_jobs": st["jobs"],
            "index.write_s": wr["wall_s"],
            "index.bytes_written": _du(self.index_dir) - pack_bytes,
            "pack.bytes_written": pack_bytes,
            "index.payload_mb": self.meta["payload_bytes"] / 2**20,
        })
        out["index.bytes_per_point"] = out["index.bytes_written"] / out["trajectories.points"]
        reqs = [self.request(r["i"]) for r in ops]
        queries = self._query_df(reqs).persist()
        qarr = {qid: p for qid, _, p in reqs}

        def index_arrays(ids):
            return _curve_arrays(
                _isin(self.index_df, "traj_id", ids).select("traj_id", "xs", "ys").toArrow()
            )

        rl, refined = self.range_layers(queries, qarr, index_arrays)
        queries.unpersist()
        out.update(rl)
        # the funnel ran once over all traced requests; per-op refine input
        # is compared against the sum over the traced requests
        total_in = sum(o["spans"]["action"]["obs"]["refine_input"] for o in ops)
        out.update(self.range_op_layers(ops))
        self.checks["refine_counts_sum_to_refine_input"] = refined == total_in
        return out

    def close(self) -> None:
        super().close()
        if self.index_dir:
            shutil.rmtree(self.index_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (SelfJoin, Lookup)}
