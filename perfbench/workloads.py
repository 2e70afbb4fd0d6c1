"""The benchmark's three closed-loop workloads.

Each workload reads only its generated parquet input, calls the public
``pagerank_spark`` API, and checks every output against the numpy oracles.
``op`` runs one operation of the closed loop and returns its timings,
counts and checks; spans (when tracing) wrap each call into a module.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np

import oracles
from spans import Span, TimedCheckpointer, Tracer, tree_cpu_s

from pagerank_spark.functions.extract import extract_text
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.graph import build_graph, edges_from_pages
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.pagerank import pagerank
from pagerank_spark.operators.triangles import triangle_count
from pagerank_spark.plans.checkpoint import SuperstepCheckpointer


@dataclass
class OpResult:
    build_s: float = 0.0
    compute_s: float = 0.0
    total_s: float = 0.0
    cpu_s: float = 0.0
    edges: int = 0
    passes: int = 0                    # supersteps or rounds over the edges
    checks: dict[str, bool] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)  # traced-run extras
    pagerank_calls: list[tuple[TimedCheckpointer, Span]] = field(default_factory=list)

    @property
    def edges_per_s(self) -> float:
        return self.edges * self.passes / self.compute_s

    def compute(self, wall: float, cpu: float) -> None:
        """Add the compute phase to the build phase already recorded."""
        self.compute_s = wall
        self.total_s = self.build_s + wall
        self.cpu_s += cpu


@dataclass
class Ctx:
    spark: object
    jvm_pid: int
    input_df: object
    work_dir: str
    tracer: Tracer


def _clock(ctx: Ctx) -> tuple[float, float]:
    return time.perf_counter(), tree_cpu_s(ctx.jvm_pid)


def _ranks(df, n: int) -> np.ndarray:
    pdf = df.toPandas()
    out = np.full(n, np.nan)
    out[pdf["id"].to_numpy()] = pdf["rank"].to_numpy()
    return out


def _rank_checks(got: np.ndarray, want: np.ndarray) -> bool:
    return bool(np.allclose(got, want, rtol=0.0, atol=1e-6)
                and abs(got.sum() - 1.0) < 1e-9)


class Workload:
    """``params`` size the generated input. The warm-up instance runs the
    same calls on the ``warm_params`` input with the ``warm_knobs``
    attribute overrides (fewer supersteps or rounds), so the JIT and the
    Python workers are warm before the first timed operation."""

    name = ""
    params: dict = {}
    warm_params: dict = {}
    warm_knobs: dict = {}

    def __init__(self, input_dir: str, warm: bool = False):
        if warm:
            self.__dict__.update(self.warm_knobs)
        self.load(np.load(os.path.join(input_dir, "oracle.npz")),
                  self.warm_params if warm else self.params)


class WebGraphWorkload(Workload):
    """Shared part of the two PageRank workloads: dense-id edge input."""

    pr_kwargs: dict = {}
    # A build takes 1-2 s here, short enough for scheduling jitter to spread
    # it by 20% between runs; the median of three builds is steadier.
    builds = 3

    def load(self, z, params: dict) -> None:
        self.src, self.dst = z["src"], z["dst"]
        self.n = int(params["n"])
        self.expected = self.oracle()

    def build(self, ctx: Ctx, res: OpResult):
        """Build the graph ``builds`` times (once when tracing) and keep the
        last one; ``res`` gets the median build time and its CPU time."""
        walls, cpus, g = [], [], None
        for _ in range(1 if ctx.tracer.enabled else self.builds):
            if g is not None:
                g.unpersist()
            t0, c0 = _clock(ctx)
            with ctx.tracer.span("graph.build_graph"):
                g = build_graph(ctx.spark, ctx.input_df, n_vertices=self.n)
            t1, c1 = _clock(ctx)
            walls.append(t1 - t0)
            cpus.append(c1 - c0)
        res.build_s, res.cpu_s = median(walls), median(cpus)
        return g

    def graph_layer(self, g, res: OpResult) -> None:
        res.layer["graph.edges"] = g.n_edges
        res.layer["graph.vertices"] = g.n_vertices
        res.layer["graph.hot_vertices"] = g.vertices.filter(
            f"in_deg > {self.pr_kwargs.get('salt_hot_threshold', 100_000)}").count()


class PrConverge(WebGraphWorkload):
    name = "pr_converge"
    params = {"n": 10_000, "m": 40_000, "dangling": 0.077, "skew": 2.0}
    warm_params = {"n": 1_000, "m": 4_000, "dangling": 0.077, "skew": 2.0}
    warm_knobs = {"tol": 0.5}
    tol = 1e-6

    def oracle(self):
        return oracles.pagerank(self.src, self.dst, self.n, tol=self.tol)

    def op(self, ctx: Ctx) -> OpResult:
        res = OpResult()
        g = self.build(ctx, res)
        t1, c1 = _clock(ctx)
        ck = TimedCheckpointer(ctx.spark, None, ctx.tracer) if ctx.tracer.enabled else None
        with ctx.tracer.span("pagerank.pagerank") as sp:
            pr = pagerank(g, tol=self.tol, checkpointer=ck)
        t2, c2 = _clock(ctx)
        res.compute(t2 - t1, c2 - c1)
        res.edges, res.passes = g.n_edges, pr.iterations
        want, _ = self.expected
        res.checks["build"] = g.n_edges == len(self.src) and g.n_vertices == self.n
        res.checks["pagerank"] = pr.converged and _rank_checks(_ranks(pr.ranks, self.n), want)
        if ck is not None:
            self.graph_layer(g, res)
            res.pagerank_calls.append((ck, sp))
            res.layer["pagerank.supersteps"] = pr.iterations
        g.unpersist()
        return res


class PrBulkResume(WebGraphWorkload):
    name = "pr_bulk_resume"
    params = {"n": 30_000, "m": 150_000, "dangling": 0.077, "skew": 2.0,
              "hub_in": 8_000}
    warm_params = {"n": 1_000, "m": 5_000, "dangling": 0.077, "skew": 2.0, "hub_in": 400}
    warm_knobs = {"supersteps": 2,
                  "pr_kwargs": {"broadcast_max_vertices": 500, "salt_hot_threshold": 300,
                                "salt_target_bucket": 100}}
    supersteps = 6
    # scaled-down scale plan: the vertex count exceeds the broadcast limit
    # (merge join) and the hub exceeds the salting threshold
    pr_kwargs = {"broadcast_max_vertices": 20_000, "salt_hot_threshold": 5_000,
                 "salt_target_bucket": 1_250}

    def oracle(self):
        half = self.supersteps // 2
        return (oracles.pagerank(self.src, self.dst, self.n, tol=None, max_iter=half)[0],
                oracles.pagerank(self.src, self.dst, self.n, tol=None,
                                 max_iter=self.supersteps)[0])

    def op(self, ctx: Ctx) -> OpResult:
        res = OpResult()
        half = self.supersteps // 2
        ck_dir = os.path.join(ctx.work_dir, "checkpoints")
        shutil.rmtree(ck_dir, ignore_errors=True)

        def checkpointer():
            return (TimedCheckpointer(ctx.spark, ck_dir, ctx.tracer) if ctx.tracer.enabled
                    else SuperstepCheckpointer(ctx.spark, ck_dir))

        g = self.build(ctx, res)
        t1, c1 = _clock(ctx)
        ck1 = checkpointer()
        with ctx.tracer.span("pagerank.pagerank") as sp1:
            first = pagerank(g, tol=None, max_iter=half, checkpointer=ck1, **self.pr_kwargs)
        ck2 = checkpointer()
        with ctx.tracer.span("pagerank.pagerank") as sp2:
            second = pagerank(g, tol=None, max_iter=self.supersteps, checkpointer=ck2,
                              resume=True, **self.pr_kwargs)
        t2, c2 = _clock(ctx)
        res.compute(t2 - t1, c2 - c1)
        res.edges, res.passes = g.n_edges, self.supersteps
        want_half, want_full = self.expected
        res.checks["build"] = g.n_edges == len(self.src) and g.n_vertices == self.n
        res.checks["pagerank_half"] = (first.iterations == half and
                                       _rank_checks(_ranks(first.ranks, self.n), want_half))
        res.checks["pagerank_resume"] = (
            second.iterations == self.supersteps
            and [m["iteration"] for m in second.metrics] == list(range(1, self.supersteps + 1))
            and _rank_checks(_ranks(second.ranks, self.n), want_full))
        if ctx.tracer.enabled:
            self.graph_layer(g, res)
            res.pagerank_calls += [(ck1, sp1), (ck2, sp2)]
            res.layer["pagerank.supersteps"] = self.supersteps
            res.layer["checkpoint.resumed_supersteps"] = self.supersteps - half
        g.unpersist()
        shutil.rmtree(ck_dir, ignore_errors=True)
        return res


class CrawlStructure(Workload):
    name = "crawl_structure"
    params = {"n_pages": 2_000, "n_sites": 16, "n_external": 8, "dangling": 0.08}
    warm_params = {"n_pages": 300, "n_sites": 4, "n_external": 4, "dangling": 0.08}
    warm_knobs = {"lp_rounds": 1}
    lp_rounds = 5

    def load(self, z, params: dict) -> None:
        self.urls = np.unique(np.concatenate([z["url"], z["dst_url"]]))
        self.src = np.searchsorted(self.urls, z["src_url"])
        self.dst = np.searchsorted(self.urls, z["dst_url"])
        self.n = len(self.urls)
        order = np.argsort(z["url"])
        self.text_hash = _text_hash(z["url"][order], z["text"][order])
        self.expected = {
            "components": oracles.components(self.src, self.dst, self.n),
            "labelprop": oracles.label_propagation(self.src, self.dst, self.n, self.lp_rounds),
            "triangles": oracles.triangle_count(self.src, self.dst),
        }

    def op(self, ctx: Ctx) -> OpResult:
        res = OpResult()
        tr, pages = ctx.tracer, ctx.input_df
        t0, c0 = _clock(ctx)
        with tr.span("graph.edges_from_pages"):
            edges, url_dict = edges_from_pages(pages)
        with tr.span("graph.build_graph"):
            g = build_graph(ctx.spark, edges, url_dict=url_dict,
                            universe=url_dict.select("id"))
        with tr.span("extract.extract_text") as s_ext:
            text = pages.select("url", extract_text("html").alias("text")).toPandas()
        t1, c1 = _clock(ctx)
        with tr.span("components.connected_components"):
            cc = connected_components(g.edges, universe=g.vertices)
            cc_labels = cc.labels.toPandas()
        with tr.span("labelprop.label_propagation"):
            lp = label_propagation(g.edges, universe=g.vertices, max_rounds=self.lp_rounds)
            lp_labels = lp.labels.toPandas()
        with tr.span("triangles.triangle_count"):
            tri = triangle_count(g.edges)
        t2, c2 = _clock(ctx)
        res.build_s, res.cpu_s = t1 - t0, c1 - c0
        res.compute(t2 - t1, c2 - c1)
        res.edges = g.n_edges
        res.passes = cc.rounds + lp.rounds + 1

        d = url_dict.toPandas().sort_values("id")
        res.checks["build"] = (g.n_vertices == self.n and g.n_edges == len(self.src)
                               and np.array_equal(d["id"].to_numpy(), np.arange(self.n))
                               and np.array_equal(d["url"].to_numpy().astype(str), self.urls))
        text = text.sort_values("url")
        res.checks["extract_text"] = _text_hash(
            text["url"].to_numpy().astype(str), text["text"].to_numpy().astype(str)
        ) == self.text_hash
        res.checks["components"] = _labels(cc_labels, "component", self.n, self.expected["components"])
        res.checks["labelprop"] = _labels(lp_labels, "label", self.n, self.expected["labelprop"])
        res.checks["triangles"] = tri == self.expected["triangles"]
        if tr.enabled:
            res.layer.update({
                "graph.edges": g.n_edges, "graph.vertices": g.n_vertices,
                "graph.hot_vertices": g.vertices.filter("in_deg > 100000").count(),
                "extract.pages_per_s": len(text) / (s_ext.end - s_ext.start),
                "components.rounds": cc.rounds, "labelprop.rounds": lp.rounds,
                "triangles.count": tri,
            })
        g.unpersist()
        return res


def _labels(pdf, col: str, n: int, want: np.ndarray) -> bool:
    if len(pdf) != n:
        return False
    got = np.full(n, -1, dtype=np.int64)
    got[pdf["id"].to_numpy()] = pdf[col].to_numpy()
    return bool(np.array_equal(got, want))


def _text_hash(urls: np.ndarray, texts: np.ndarray) -> str:
    h = hashlib.sha256()
    for u, t in zip(urls, texts):
        h.update(f"{u}\t{t}\n".encode())
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (PrConverge, PrBulkResume, CrawlStructure)}
