"""The benchmark's workloads.

Each workload generates its input from the seed into parquet during
set-up, runs one engine job per repetition, and checks every
repetition's outputs against an oracle computed outside Spark
(``oracles.py``). Span names follow the engine's modules.
"""

from __future__ import annotations

import os

import numpy as np

import oracles
from pagerank_spark import datagen, extraction, graph
from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.pagerank import pagerank
from pagerank_spark.operators.triangles import triangles


class TimedCheckpointManager(CheckpointManager):
    """A CheckpointManager whose writes run inside ``checkpoint.*`` spans.

    The cadence is the parent class's. ``write_state`` time includes
    materializing the iteration it truncates: the parquet write is the
    job that computes it.
    """

    def __init__(self, spark, root: str, interval: int, tracer):
        super().__init__(spark, root, interval=interval)
        self.tracer = tracer

    def write_state(self, df, it, target_partitions=None):
        with self.tracer.span("checkpoint.write_state"):
            return super().write_state(df, it, target_partitions)

    def write_metrics(self, it, metrics):
        with self.tracer.span("checkpoint.write_metrics"):
            super().write_metrics(it, metrics)


def disk_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


class Rep:
    """What one repetition produced, for checks and metrics."""

    def __init__(self):
        self.calls: list[str] = []    # engine calls whose results are checked
        self.outputs: dict = {}
        self.counts: dict[str, float] = {}    # iterations, edges, ...
        self.ckpt_bytes = 0
        self.ckpt_files = 0


class PowerLawPageRank:
    """PageRank on a seeded power-law graph with a hub, past the
    broadcast limit so that the gather is the salted shuffle, with a
    durable checkpoint after every iteration."""

    name = "pr_powerlaw_ckpt"
    calls = operators = ("operators.pagerank",)
    warmup_reps = 1
    N_VERTICES = 150_000
    N_EDGES = 240_000
    ZIPF = 1.9
    # Vertex 0 sources this share of the edges: above the auto-salting
    # threshold (half of one partition's share) at 8 or more partitions.
    HUB_FRACTION = 0.1
    # The engine's broadcast limit is 5.0 M ranks and the reference
    # shape has 5.2 M vertices; keep that ratio at this size.
    BROADCAST_MAX_VERTICES = N_VERTICES * 25 // 26
    MAX_ITER = 4
    WARMUP_ITER = 1

    def make_input(self, spark, seed, work, tracer):
        path = os.path.join(work, "powerlaw_edges.parquet")
        with tracer.span("setup.generate"):
            datagen.power_law_graph(
                spark, self.N_VERTICES, self.N_EDGES, seed=seed,
                zipf_exponent=self.ZIPF, hub_fraction=self.HUB_FRACTION,
            ).write.mode("overwrite").parquet(path)
        with tracer.span("setup.load"):
            edges = spark.read.parquet(path)
        return {"edges_path": path, "edges": edges}

    def oracle(self, inputs):
        src, dst = oracles.read_edges(inputs["edges_path"])
        n = int(max(src.max(), dst.max())) + 1
        return {"src": src, "dst": dst, "n": n, "n_edges": len(src)}

    def run_once(self, spark, inputs, tracer, ckpt_root, warmup):
        max_iter = self.WARMUP_ITER if warmup else self.MAX_ITER
        rep = Rep()
        with tracer.span("graph.prepare"):
            g = graph.prepare(inputs["edges"])
        with tracer.span("operators.pagerank"):
            res = pagerank(
                g, tol=0.0, max_iter=max_iter,
                checkpoint=TimedCheckpointManager(spark, ckpt_root, 1, tracer),
                broadcast_max_vertices=self.BROADCAST_MAX_VERTICES)
        rep.calls.append("operators.pagerank")
        rep.ckpt_bytes, rep.ckpt_files = disk_usage(ckpt_root)
        with tracer.span("check.collect"):
            pdf = res.ranks.toPandas()
        ranks = np.full(g.n, np.nan)
        ranks[pdf["id"].to_numpy()] = pdf["pr"].to_numpy()
        rep.outputs = {"ranks": ranks, "n": g.n, "max_iter": max_iter,
                       "iterations": res.iterations,
                       "iter_ms": [m["wall_ms"] for m in res.metrics]}
        rep.counts["iterations"] = float(res.iterations)
        return rep

    def check(self, rep, expected):
        """Failing call -> what was wrong."""
        out = rep.outputs
        if out["n"] != expected["n"]:
            return {"operators.pagerank":
                    f"vertex domain {out['n']} != {expected['n']}"}
        iters = out["max_iter"]
        want = oracles.pagerank(expected["src"], expected["dst"],
                                expected["n"], iters)
        errors = []
        if out["iterations"] != iters:
            errors.append(f"{out['iterations']} iterations, not {iters}")
        if not np.allclose(out["ranks"], want, rtol=1e-6, atol=1e-15):
            worst = float(np.nanmax(np.abs(out["ranks"] - want)))
            errors.append(f"ranks differ from numpy (max abs {worst:.3e})")
        # From a zero start each iteration keeps all the mass, dangling
        # included, and adds the teleport share: sum = 1 - 0.85^k.
        mass_error = abs(np.nansum(out["ranks"]) - (1.0 - 0.85 ** iters))
        if not mass_error < 1e-9:
            errors.append(f"rank mass off by {mass_error:.3e}")
        return {"operators.pagerank": "; ".join(errors)} if errors else {}


class RepoPipeline:
    """Repo files -> import edges -> dense ids -> graph, then connected
    components, label propagation and triangle enumeration."""

    name = "repo_pipeline"
    operators = ("operators.components", "operators.labelprop",
                 "operators.triangles")
    calls = ("extraction.derive_edges", "graph.encode_dense_ids") + operators
    # One untimed repetition first. Cold, the job takes half as long
    # again as warm: the first Arrow UDF call starts the Python workers,
    # and every stage's code is generated and compiled. That cold cost
    # spreads far more from run to run than the warm job does. A
    # warm-up on fewer files costs as much, as the cold cost does not
    # shrink with the input; one on extraction alone leaves the
    # operators' cold cost in the timed job.
    warmup_reps = 1
    N_FILES = 20_000
    N_REPOS = 1_000
    TOKENS_PER_DOC = 20
    LPA_ITERATIONS = 5
    # The default cadence of the components and label-propagation loops.
    CHECKPOINT_INTERVAL = 8

    def n_files(self, seed: int) -> int:
        # The seed moves the file count a little, which rewires the
        # import graph: files import modules by id modulo the count. An
        # odd offset keeps ~19.9k edges and ~9k triangles at 1,000 repos;
        # an even one gives a triangle-free graph.
        return self.N_FILES + 2 * (seed % 50) + 1

    def make_input(self, spark, seed, work, tracer):
        path = os.path.join(work, "repo_files.parquet")
        with tracer.span("setup.generate"):
            docs = datagen.documents_corpus(
                spark, self.n_files(seed), tokens_per_doc=self.TOKENS_PER_DOC,
                seed=seed)
            datagen.repo_files_from_docs(docs, n_repos=self.N_REPOS) \
                .write.mode("overwrite").parquet(path)
        with tracer.span("setup.load"):
            files = spark.read.parquet(path)
        return {"files_path": path, "files": files,
                "n_files": self.n_files(seed)}

    def oracle(self, inputs):
        edges = oracles.repo_edges(inputs["files_path"])
        ids = oracles.dense_ids(edges)
        src = np.array([ids[a] for a, _ in edges], dtype=np.int64)
        dst = np.array([ids[b] for _, b in edges], dtype=np.int64)
        g = oracles.undirected(src, dst)
        return {"extraction.derive_edges": edges,
                "graph.encode_dense_ids": ids,
                "operators.components": oracles.component_labels(g),
                "operators.labelprop": oracles.label_propagation(
                    g, self.LPA_ITERATIONS),
                "operators.triangles": oracles.triangle_count(g)}

    def run_once(self, spark, inputs, tracer, ckpt_root, warmup):
        rep = Rep()
        with tracer.span("extraction.derive_edges"):
            # Materialized so that extraction's jobs run inside its own
            # span, not inside its first consumer's.
            edges_str = extraction.derive_edges(inputs["files"]).persist()
            rep.counts["edges"] = float(edges_str.count())
        rep.calls.append("extraction.derive_edges")
        try:
            self._graph_job(spark, edges_str, tracer, ckpt_root, rep)
            with tracer.span("check.collect"):
                rep.outputs["extraction.derive_edges"] = sorted(
                    tuple(r) for r in edges_str.collect())
        finally:
            edges_str.unpersist()
        return rep

    def _graph_job(self, spark, edges_str, tracer, ckpt_root, rep):
        def ckpt(name):
            return TimedCheckpointManager(spark, os.path.join(ckpt_root, name),
                                          self.CHECKPOINT_INTERVAL, tracer)

        with tracer.span("graph.encode_dense_ids"):
            enc, dictionary = graph.encode_dense_ids(edges_str)
        rep.calls.append("graph.encode_dense_ids")
        with tracer.span("graph.prepare"):
            g = graph.prepare(enc)
        with tracer.span("operators.components"):
            cc = connected_components(g.edges, checkpoint=ckpt("cc")).toPandas()
        rep.calls.append("operators.components")
        with tracer.span("operators.labelprop"):
            lpa = label_propagation(g.edges, max_iter=self.LPA_ITERATIONS,
                                    checkpoint=ckpt("lpa")).toPandas()
        rep.calls.append("operators.labelprop")
        with tracer.span("operators.triangles"):
            n_triangles = triangles(g.edges).count()
        rep.calls.append("operators.triangles")
        rep.ckpt_bytes, rep.ckpt_files = disk_usage(ckpt_root)
        with tracer.span("check.collect"):
            rep.outputs["graph.encode_dense_ids"] = {
                r["name"]: r["id"] for r in dictionary.collect()}
        rep.outputs["operators.components"] = dict(
            zip(cc["id"].tolist(), cc["component"].tolist()))
        rep.outputs["operators.labelprop"] = dict(
            zip(lpa["id"].tolist(), lpa["label"].tolist()))
        rep.outputs["operators.triangles"] = n_triangles

    def check(self, rep, expected):
        """Failing call -> what was wrong."""
        bad = {call: "result differs from the oracle" for call in rep.calls
               if rep.outputs[call] != expected[call]}
        if "extraction.derive_edges" in bad:
            bad["extraction.derive_edges"] = (
                f"{len(rep.outputs['extraction.derive_edges'])} edges, the "
                f"DuckDB derivation has "
                f"{len(expected['extraction.derive_edges'])}")
        return bad


WORKLOADS = {w.name: w for w in (PowerLawPageRank(), RepoPipeline())}
