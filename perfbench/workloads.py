"""The workloads: what one pass calls, and how each result is checked.

A pass reads the workload's corpus table from parquet and runs, through
the engine's public API only:

  extract    repo_edges(corpus), materialized
  vertices   build_vertex_dictionary + encode_edges, materialized
             (extract + vertices run INGEST_REPEATS times; the last feeds
             the steps below)
  pagerank   resume=True of a run interrupted after PR_STOP supersteps,
             up to PR_SUPERSTEPS (hub-salted on corpus_pipeline)
  cc         connected_components            (corpus_pipeline)
  lpa        label_propagation               (corpus_pipeline)
  triangles  triangle_count(auto)
  cliques    clique_count(k=4)               (dense_wcoj)

The warm-up pass first makes the interrupted PageRank run, then runs the
same steps as a timed pass; every pass resumes a fresh copy of the
interrupted run's checkpoint directory. Every iterative call gets its own
checkpoint directory under the run's scratch root. Results are collected
inside the timed call (a caller needs them); comparing them with the
reference happens after the pass.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from adopt_spark.algos.cc import connected_components
from adopt_spark.algos.cliques import clique_count
from adopt_spark.algos.lpa import label_propagation
from adopt_spark.algos.pagerank import pagerank
from adopt_spark.algos.triangles import triangle_count
from adopt_spark.extract import repo_edges
from adopt_spark.vertices import build_vertex_dictionary, encode_edges

from perfbench import reference

INGEST_REPEATS = 2    # extract + vertices per pass; the last one feeds the rest
PR_STOP = 1           # supersteps before the interruption
PR_SUPERSTEPS = 3     # supersteps once resumed (fixed: never reaches tol)
PR_TOL = 1e-6
LPA_MAX_ITER = 2     # fixed round count: convergence speed varies with the seed
HUB_THRESHOLD = 1000  # in-degree above which PageRank salts a vertex


@dataclass(frozen=True)
class Spec:
    salted: bool = False
    cc: bool = False
    lpa: bool = False
    cliques: bool = False


SPECS = {
    "corpus_pipeline": Spec(salted=True, cc=True, lpa=True),
    "dense_wcoj": Spec(cliques=True),
}


@dataclass
class Reference:
    graph: reference.Graph
    pagerank: np.ndarray
    cc: np.ndarray | None
    lpa: np.ndarray | None
    cliques: dict[int, int]
    props: dict[str, float]


def compute_reference(spec: Spec, corpus) -> Reference:
    g = reference.encode(corpus.expected_edges)
    return Reference(
        graph=g,
        pagerank=reference.pagerank(g, PR_SUPERSTEPS, PR_TOL),
        cc=reference.components(g) if spec.cc else None,
        lpa=reference.label_propagation(g, LPA_MAX_ITER) if spec.lpa else None,
        cliques=reference.clique_counts(g, with_k4=spec.cliques),
        props=reference.properties(g, len(corpus.files)),
    )


@dataclass
class Op:
    layer: str
    label: str
    seconds: float = 0.0
    ok: bool = False
    error: str | None = None
    result: Any = None


@dataclass
class PassResult:
    index: int
    wall_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    supersteps: dict[str, list[float]] = field(default_factory=dict)
    pr_edges: int = 0
    rows_out: int = 0
    span_id: int | None = None
    ckpt_metrics: dict[str, list[dict]] = field(default_factory=dict)

    def op(self, label: str) -> Op | None:
        return next((o for o in self.ops if o.label == label), None)

    def ops_of(self, label: str) -> list[Op]:
        return [o for o in self.ops if o.label == label]

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def _records(ckpt_dir: str) -> list[dict]:
    """The checkpoint manager's metrics.jsonl records in ``ckpt_dir``."""
    path = os.path.join(ckpt_dir, "metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _by_vertex(pdf, col: str, n: int) -> np.ndarray | None:
    v = pdf["v"].to_numpy(np.int64)
    if len(v) != n or not np.array_equal(np.sort(v), np.arange(n)):
        return None
    out = np.empty(n, dtype=pdf[col].dtype)
    out[v] = pdf[col].to_numpy()
    return out


class PassRunner:
    """Runs passes of one workload against one prepared input."""

    def __init__(self, spark, spec: Spec, corpus_path: str, ref: Reference,
                 scratch: str, tracer) -> None:
        self.spark = spark
        self.spec = spec
        self.corpus_path = corpus_path
        self.ref = ref
        self.scratch = scratch
        self.tracer = tracer
        self.interrupted = os.path.join(scratch, "interrupted_pagerank")

    def _plan(self, st: dict) -> list[tuple[str, str, Callable[[], Any], Callable[[Any], bool]]]:
        """(layer, label, call, check) per step; calls share state in ``st``."""
        spark, spec, ref = self.spark, self.spec, self.ref
        n = ref.graph.n
        pr_kwargs = {"hub_threshold": HUB_THRESHOLD} if spec.salted else {}

        def extract():
            # Spark would answer a repeat from the previous repeat's cached
            # plan; drop it (unpersist does not block)
            while st["persisted"]:
                st["persisted"].pop().unpersist()
            st["e"] = repo_edges(spark.read.parquet(self.corpus_path)).persist()
            st["persisted"].append(st["e"])
            return st["e"].count()

        def vertices():
            e = st["e"]
            names = (e.select(F.col("src_repo").alias("repo"))
                     .union(e.select(F.col("dst_repo").alias("repo"))))
            st["enc"] = encode_edges(e, build_vertex_dictionary(names, "repo")).persist()
            st["persisted"].append(st["enc"])
            st["enc"].count()
            return st["enc"]

        def check_vertices(enc):
            pdf = enc.toPandas()
            got = np.sort(pdf["sid"].to_numpy(np.int64) * n + pdf["tid"].to_numpy(np.int64))
            return np.array_equal(got, ref.graph.sid * n + ref.graph.tid)

        def pr_stop():
            shutil.rmtree(self.interrupted, ignore_errors=True)
            _, m = pagerank(spark, st["enc"], tol=PR_TOL, max_iter=PR_STOP,
                            checkpoint_dir=self.interrupted, **pr_kwargs)
            st["copy_interrupted"]()
            return len(m)

        def pr_resume():
            ranks, m = pagerank(spark, st["enc"], tol=PR_TOL, max_iter=PR_SUPERSTEPS,
                                checkpoint_dir=st["ckpt"]("pagerank"), resume=True,
                                **pr_kwargs)
            st["pr_steps"] = [r["sec"] for r in m]
            st["pr_edges"] = m[0]["edges"] if m else 0
            return len(m), ranks.toPandas()

        def check_pr(res):
            steps, pdf = res
            got = _by_vertex(pdf, "rank", n)
            return (steps == PR_SUPERSTEPS - PR_STOP and got is not None
                    and np.allclose(got, ref.pagerank, rtol=1e-6, atol=0.0))

        def cc():
            labels, m = connected_components(spark, st["enc"],
                                             checkpoint_dir=st["ckpt"]("cc"))
            st["cc_steps"] = [r["sec"] for r in m]
            return labels.toPandas()

        def lpa():
            labels, m = label_propagation(spark, st["enc"], max_iter=LPA_MAX_ITER,
                                          checkpoint_dir=st["ckpt"]("lpa"))
            st["lpa_steps"] = [r["sec"] for r in m]
            return labels.toPandas()

        def exact(col, want):
            def check(pdf):
                got = _by_vertex(pdf, col, n)
                return got is not None and np.array_equal(got, want)
            return check

        plan = [
            step
            for _ in range(INGEST_REPEATS)
            for step in (("extract", "extract", extract, lambda r: r == len(ref.graph.sid)),
                         ("vertices", "vertices", vertices, check_vertices))
        ]
        if st["warm_up"]:
            plan.append(("pagerank", "pagerank_stop", pr_stop, lambda r: r == PR_STOP))
        plan.append(("pagerank", "pagerank_resume", pr_resume, check_pr))
        if spec.cc:
            plan.append(("cc", "cc", cc, exact("component", ref.cc)))
        if spec.lpa:
            plan.append(("lpa", "lpa", lpa, exact("label", ref.lpa)))
        plan.append(("triangles", "triangles_auto",
                     lambda: int(triangle_count(st["enc"], "auto").collect()[0][0]),
                     lambda r: r == ref.cliques[3]))
        if spec.cliques:
            plan.append(("cliques", "cliques_4",
                         lambda: int(clique_count(st["enc"], 4).collect()[0][0]),
                         lambda r: r == ref.cliques[4]))
        return plan

    def run(self, index: int) -> PassResult:
        """Pass 0 is the warm-up: it makes the interrupted PageRank run."""
        res = PassResult(index)
        ckroot = os.path.join(self.scratch, f"pass{index}")
        copied = {}

        def ckpt(layer: str) -> str:
            return os.path.join(ckroot, layer)

        def copy_interrupted() -> None:
            shutil.copytree(self.interrupted, ckpt("pagerank"))
            copied["pagerank"] = len(_records(ckpt("pagerank")))

        st = {"ckpt": ckpt, "warm_up": index == 0, "copy_interrupted": copy_interrupted,
              "persisted": []}
        plan = self._plan(st)
        if index > 0:
            copy_interrupted()
        broken = False
        t0 = time.time()
        with self.tracer.span("pass") as pass_span:
            res.span_id = pass_span.id
            for n_call, (layer, label, fn, _) in enumerate(plan):
                op = Op(layer, label)
                res.ops.append(op)
                if broken:
                    op.error = "skipped: an earlier step failed"
                    continue
                try:
                    with self.tracer.span(layer, parent=pass_span,
                                          group=f"{layer}#{index}.{n_call}") as sp:
                        op.result = fn()
                    op.seconds = sp.seconds
                except Exception:
                    op.error = traceback.format_exc()
                    broken = broken or layer in ("extract", "vertices")
        res.wall_s = time.time() - t0
        # outside the timed region: checks, checkpoint records, cleanup
        for (_, _, _, check), op in zip(plan, res.ops):
            if op.error is None:
                try:
                    op.ok = bool(check(op.result))
                except Exception:
                    op.error = traceback.format_exc()
                if not op.ok and op.error is None:
                    op.error = "output differs from the reference"
            if op.label == "extract" and op.ok:
                res.rows_out = op.result
            op.result = None
        res.supersteps = {k[:-6]: v for k, v in st.items() if k.endswith("_steps")}
        res.pr_edges = st.get("pr_edges", 0)
        for layer in ("pagerank", "cc", "lpa"):
            # records copied in with the interrupted run are not this pass's
            res.ckpt_metrics[layer] = _records(ckpt(layer))[copied.get(layer, 0):]
        for df in st["persisted"]:
            df.unpersist()
        shutil.rmtree(ckroot, ignore_errors=True)
        return res
