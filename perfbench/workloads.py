"""The benchmark's workloads: fixture, oracle, timed pass, checks, probes.

A workload builds its input (``build_fixture``) and its oracle
(``build_oracle``) during set-up.  ``run_pass``
makes the workload's calls into linkgraph, each timed on its own, and
returns the results; ``check`` compares them with the oracle outside the
timed region.  ``probes`` runs only in a traced run: it calls single layer
functions directly so their cost can be read apart from the whole call.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import oracles

PIPELINE_PAGES = 20_000


def _dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    """Shared plumbing; subclasses define build_fixture, build_oracle,
    run_pass, check and probes."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.P = ctx.partitions

    def call(self, out: dict, key: str, fn):
        """Run one operation under a span; its wall time lands in out[key]."""
        ctx = self.ctx
        with ctx.call_span(key) as span:
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception as exc:  # a failed operation is counted, not fatal
                ctx.ops.fail(key, exc)
                res = None
            out[key] = time.perf_counter() - t0
        out.setdefault("spans", {})[key] = span
        ctx.ops.attempted += 1
        return res

    def layer(self, span, prefix: str) -> dict:
        """jobs / shuffle / busy fraction of one call's span."""
        c = self.ctx.tracer.counters(span, self.ctx.cores)
        return {f"{prefix}.jobs": c["jobs"],
                f"{prefix}.shuffle_mb": c["shuffle_write_mb"],
                f"{prefix}.busy_frac": c["busy_frac"]}

    def cleanup(self, out: dict) -> None:
        """Drop what a pass left on disk."""

    def summary(self, out: dict) -> dict:
        """The pass's PageRank time, and its edges per second per superstep
        (the median over supersteps of the metrics PageRank reports)."""
        m = out["pagerank"][1]
        return {"pagerank_s": out["pagerank_call"],
                "pagerank_edges_per_s": statistics.median(
                    x["edges_processed"] / x["seconds"] for x in m)}


class HubRmat(Workload):
    """bench.skew_edges (R-MAT over 2^18 vertices plus a 10^4-degree hub,
    293,192 E) with ids relabelled by the seed.  Times
    pagerank(num_iters=5) and triangle_count."""

    name = "hub-rmat"

    def build_fixture(self):
        import bench
        from pyspark.sql import functions as F

        edges, _ = bench.skew_edges(self.spark, self.P)
        # relabel by a bijection, then restore bench's src partitioning
        a, b, n = *oracles.relabel(1 << 18, self.ctx.seed), 1 << 18
        self.relabel_np = lambda x: (x * a + b) % n
        self.edges = (
            edges.select(((F.col("src") * a + b) % n).alias("src"),
                         ((F.col("dst") * a + b) % n).alias("dst"))
            .repartition(self.P, "src")
            .persist()
        )
        self.num_edges = self.edges.count()
        edges.unpersist()

    def build_oracle(self):
        src, dst = (self.relabel_np(x) for x in oracles.skew_graph())
        self.ctx.ops.check("fixture.edges", len(src) == self.num_edges)
        self.ids = oracles.vertex_ids(src, dst)
        self.pr_oracle, _ = oracles.pagerank(src, dst, self.ids, num_iters=5)
        self.tri_oracle = oracles.triangles(src, dst)

    def run_pass(self) -> dict:
        from linkgraph.algos import pagerank, triangle_count

        e, out = self.edges, {}
        out["pagerank"] = self.call(out, "pagerank_call", lambda: pagerank(
            e, num_iters=5, partitions=self.P))
        out["triangles"] = self.call(out, "triangles_call", lambda: triangle_count(e))
        return out

    def check(self, out: dict) -> None:
        ops, ranks = self.ctx.ops, None
        if out["pagerank"] is not None:
            got = out["pagerank"][0].toPandas().sort_values("id")
            if np.array_equal(got["id"].to_numpy(), self.ids):
                ranks = got["rank"].to_numpy()
        ops.check("pagerank.ranks", ranks is not None
                  and np.allclose(ranks, self.pr_oracle, rtol=1e-6, atol=0))
        ops.check("pagerank.mass", ranks is not None and abs(ranks.sum() - 1.0) < 1e-9)
        ops.check("triangles.count", out["triangles"] == self.tri_oracle)

    def probes(self, out: dict) -> dict:
        """The pass's own calls from their spans, plus direct calls:

        * pagerank for one superstep, to split the pass's call into set-up
          and per-superstep cost;
        * ``pagerank.adjacency_blocks``;
        * ``triangles.degree_ranked_oriented`` (the rank pre-pass) and
          ``triangles.triangles`` given a ready degree table (the wedges).
        """
        from pyspark.sql import functions as F

        from linkgraph.algos import pagerank
        from linkgraph.algos.pagerank import adjacency_blocks
        from linkgraph.algos.triangles import degree_ranked_oriented, triangles

        ctx, e, P = self.ctx, self.edges, self.P
        res = self.layer(out["spans"]["triangles_call"], "triangles")
        res.pop("triangles.busy_frac")
        res["triangles.call_s"] = out["triangles_call"]

        with ctx.tracer.span("probe.pagerank_one_step") as sp:
            pagerank(e, num_iters=1, partitions=P)
        one = ctx.tracer.counters(sp, ctx.cores)
        full = ctx.tracer.counters(out["spans"]["pagerank_call"], ctx.cores)
        secs = [x["seconds"] for x in out["pagerank"][1]]
        extra = len(secs) - 1
        res.update({
            "pagerank.superstep_s": statistics.median(secs),
            "pagerank.supersteps": len(secs),
            "pagerank.setup_s": out["pagerank_call"] - sum(secs),
            "pagerank.jobs_per_superstep": (full["jobs"] - one["jobs"]) / extra,
            "pagerank.shuffle_mb_per_superstep":
                (full["shuffle_write_mb"] - one["shuffle_write_mb"]) / extra,
            "pagerank.spill_mb": full["spill_mb"],
            "pagerank.busy_frac": full["busy_frac"],
        })

        with ctx.tracer.span("probe.adjacency_blocks"):
            t0 = time.perf_counter()
            blocks, salt_map = adjacency_blocks(e, P)
            res["pagerank.blocks_s"] = time.perf_counter() - t0
        res["pagerank.salted_srcs"] = 0 if salt_map is None else salt_map.count()
        for df in (blocks, salt_map):
            if df is not None:
                df.unpersist()

        with ctx.tracer.span("probe.triangles_rank"):
            t0 = time.perf_counter()
            degree_ranked_oriented(e).write.format("noop").mode("overwrite").save()
            res["triangles.rank_s"] = time.perf_counter() - t0
        und = (e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
               .filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"]))
        deg = (und.select(F.col("a").alias("id")).union(und.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("d")).persist())
        deg.count()
        with ctx.tracer.span("probe.triangles_wedge"):
            t0 = time.perf_counter()
            triangles(e, rank=deg).write.format("noop").mode("overwrite").save()
            res["triangles.wedge_s"] = time.perf_counter() - t0
        deg.unpersist()
        wedges = (degree_ranked_oriented(e).groupBy("lo").count()
                  .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0])
        res["triangles.wedges_per_triangle"] = float(wedges) / self.tri_oracle
        return res


class CrawlPipeline(Workload):
    """datagen.synth_pages written to Parquet, then five cli jobs: ingest;
    pagerank interrupted after 3 checkpointed supersteps; the same pagerank
    resumed to 10; labelprop (5 supersteps); components."""

    name = "crawl-pipeline"

    def build_fixture(self):
        from linkgraph import datagen

        self.pages = os.path.join(self.ctx.work, "pages")
        datagen.synth_pages(self.spark, PIPELINE_PAGES, seed=self.ctx.seed,
                            partitions=self.P).write.parquet(self.pages)
        self.n_pass = 0

    def build_oracle(self):
        from linkgraph import datagen

        N = PIPELINE_PAGES
        # ingest numbers urls densely in ascending url order
        self.urls = np.array([datagen.url_of(i) for i in range(N)])
        dense = np.empty(N, dtype=np.int64)
        dense[np.argsort(self.urls, kind="stable")] = np.arange(N)
        self.urls_by_id = np.sort(self.urls)
        exp = np.array(datagen.expected_edges(N, self.ctx.seed), dtype=np.int64)
        src, dst = dense[exp[:, 0]], dense[exp[:, 1]]
        self.edge_keys = np.sort(src * N + dst)
        self.ids = oracles.vertex_ids(src, dst)
        self.pr_oracle, _ = oracles.pagerank(src, dst, self.ids, tol=1e-6, max_iter=10)
        self.lp_oracle = oracles.label_propagation(src, dst, self.ids, max_iter=5)
        self.cc_oracle = oracles.components(src, dst, self.ids)

    def cli(self, *argv: str):
        from linkgraph import cli

        # the cli prints a summary line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            return cli.main(list(argv) + ["--partitions", str(self.P)])

    def run_pass(self) -> dict:
        self.n_pass += 1
        d = os.path.join(self.ctx.work, f"pass{self.n_pass}")
        out = {"dir": d, "edges": f"{d}/edges", "ckpt": f"{d}/ckpt"}
        edges = ("--input", out["edges"])
        self.call(out, "ingest_call", lambda: self.cli(
            "ingest", "--input", self.pages, "--output", out["edges"]))
        self.call(out, "pagerank3_call", lambda: self.cli(
            "pagerank", *edges, "--checkpoint-dir", out["ckpt"], "--max-iter", "3"))
        self.call(out, "resume_call", lambda: self.cli(
            "pagerank", *edges, "--checkpoint-dir", out["ckpt"], "--max-iter", "10",
            "--output", f"{d}/pagerank", "--metrics-out", f"{d}/pagerank.json"))
        self.call(out, "labelprop_call", lambda: self.cli(
            "labelprop", *edges, "--max-iter", "5",
            "--output", f"{d}/labelprop", "--metrics-out", f"{d}/labelprop.json"))
        self.call(out, "components_call", lambda: self.cli(
            "components", *edges,
            "--output", f"{d}/components", "--metrics-out", f"{d}/components.json"))
        out["pagerank_call"] = out["pagerank3_call"] + out["resume_call"]
        return out

    def _result(self, out: dict, job: str, col: str) -> np.ndarray | None:
        """The job's output column ordered by vertex id, and its
        per-superstep metrics in out[job]; None if the ids are wrong."""
        d = out["dir"]
        with open(f"{d}/{job}.json") as f:
            out[job] = (None, json.load(f))
        r = _read_parquet(f"{d}/{job}").sort_values("id")
        if not np.array_equal(r["id"].to_numpy(), self.ids):
            return None
        return r[col].to_numpy()

    def check(self, out: dict) -> None:
        from linkgraph.ckpt import CheckpointManager

        ops, N = self.ctx.ops, PIPELINE_PAGES
        try:
            vmap = _read_parquet(out["edges"] + "_vertices").sort_values("id")
            ops.check("ingest.vertices",
                      np.array_equal(vmap["id"].to_numpy(), np.arange(N))
                      and np.array_equal(vmap["url"].to_numpy(), self.urls_by_id))
            e = _read_parquet(out["edges"])
            ops.check("ingest.edges", np.array_equal(
                np.sort(e["src"].to_numpy() * N + e["dst"].to_numpy()), self.edge_keys))
        except (OSError, ValueError, KeyError) as exc:
            ops.attempted += 1
            ops.fail("ingest", exc)
        ops.check("resume.history", len(CheckpointManager(out["ckpt"]).history()) == 10)
        for job, col, check in (
            ("pagerank", "rank", lambda got: np.allclose(
                got, self.pr_oracle, rtol=1e-6, atol=0) and abs(got.sum() - 1) < 1e-9),
            ("labelprop", "label", lambda got: np.array_equal(got, self.lp_oracle)),
            ("components", "component", lambda got: np.array_equal(got, self.cc_oracle)),
        ):
            try:
                got = self._result(out, job, col)
                ops.check(f"{job}.output", got is not None and check(got))
            except (OSError, ValueError, KeyError) as exc:
                ops.attempted += 1
                ops.fail(f"{job}.output", exc)

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)

    def superstep_layers(self, out: dict, key: str, prefix: str) -> dict:
        """Cost of one superstep algorithm job from its span and its
        per-superstep metrics."""
        _, m = out[key]
        d = self.layer(out["spans"][key + "_call"], prefix)
        d[f"{prefix}.call_s"] = out[key + "_call"]
        d[f"{prefix}.supersteps"] = len(m)
        d[f"{prefix}.superstep_s"] = statistics.median(x["seconds"] for x in m)
        return d

    def probes(self, out: dict) -> dict:
        """The cli jobs' own costs from their spans, plus direct calls into
        the three ingest phases, the io seam and the checkpoint reader, and
        the interrupted pagerank job run again without a checkpoint."""
        from pyspark.sql import functions as F

        from linkgraph import ingest
        from linkgraph import io as lgio
        from linkgraph.ckpt import CheckpointManager

        ctx, P, res = self.ctx, self.P, {}
        res.update(self.layer(out["spans"]["ingest_call"], "ingest"))
        res["cli.ingest_s"] = out["ingest_call"]
        res["cli.pagerank_s"] = out["pagerank3_call"]
        res["cli.resume_s"] = out["resume_call"]
        res.update(self.superstep_layers(out, "components", "components"))
        lp = self.superstep_layers(out, "labelprop", "labelprop")
        lp.pop("labelprop.supersteps")
        res.update(lp)

        pages = lgio.read_pages(self.spark, self.pages)
        with ctx.tracer.span("probe.ingest_extract"):
            t0 = time.perf_counter()
            url_edges = ingest.pages_to_url_edges(pages).localCheckpoint(eager=True)
            res["ingest.extract_s"] = time.perf_counter() - t0
        with ctx.tracer.span("probe.ingest_vertex_map"):
            t0 = time.perf_counter()
            vmap = ingest.build_vertex_map(pages, url_edges, P).localCheckpoint(eager=True)
            res["ingest.vertex_map_s"] = time.perf_counter() - t0
        with ctx.tracer.span("probe.ingest_edge_ids"):
            t0 = time.perf_counter()
            edges = ingest.edges_with_ids(url_edges, vmap).repartition(P, "src") \
                .localCheckpoint(eager=True)
            res["ingest.edge_ids_s"] = time.perf_counter() - t0

        path = os.path.join(out["dir"], "probe_edges")
        with ctx.tracer.span("probe.io_write"):
            t0 = time.perf_counter()
            lgio.write_table(edges, path, buckets=P, bucket_cols=["src"])
            res["io.write_s"] = time.perf_counter() - t0
        res["io.write_mb"] = _dir_size(path)[1] / 1e6
        with ctx.tracer.span("probe.io_read"):
            t0 = time.perf_counter()
            lgio.read_edges(self.spark, path).agg(F.sum("src"), F.sum("dst")).collect()
            res["io.read_s"] = time.perf_counter() - t0

        files, size = _dir_size(out["ckpt"])
        res["ckpt.files"], res["ckpt.write_mb"] = files, size / 1e6
        with ctx.tracer.span("probe.ckpt_load"):
            t0 = time.perf_counter()
            cm = CheckpointManager(out["ckpt"])
            state, _ = cm.load(self.spark, cm.latest())
            state.agg(F.sum("rank")).collect()
            cm.history()
            res["ckpt.load_s"] = time.perf_counter() - t0
        with ctx.tracer.span("probe.pagerank3_plain"):
            t0 = time.perf_counter()
            self.cli("pagerank", "--input", out["edges"], "--max-iter", "3")
            plain = time.perf_counter() - t0
        res["ckpt.overhead_s_per_superstep"] = (out["pagerank3_call"] - plain) / 3
        return res


WORKLOADS = {w.name: w for w in (HubRmat, CrawlPipeline)}
