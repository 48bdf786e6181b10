"""The benchmark's workloads: inputs from a seed, one timed repetition, and
the check of its outputs against ``oracles``.

Constructing a workload is its set-up: it generates the inputs through the
engine's ``sources`` layer, materializes them, collects them to numpy and
computes the oracle answers. ``run_once`` is one timed repetition; every call
into an engine layer sits inside a span, and everything after the last span
(collecting outputs for the check, releasing caches) is untimed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import oracles
from tracing import Spans

#: CCMetrics.rounds fields that show which plan the engine dispatched
DISPATCH_KEYS = ("kind", "broadcast", "n_heavy_hitters", "hub_source", "m", "m_next", "n_nodes")

DAMPING = 0.85


@dataclass
class Rep:
    """One timed repetition: span walls, CC throughput, per-layer values
    and the outputs the check compares."""

    walls: dict[str, float]
    cc_edges_per_s: float
    layer: dict[str, float]
    outputs: dict = field(default_factory=dict)
    dispatch: list[dict] | None = None
    #: the repetition's span tag suffix, set by the runner
    tag: str = ""

    @property
    def total_s(self) -> float:
        return sum(self.walls.values())


def _labels(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas()
    node = pdf["node"].to_numpy(dtype=np.int64)
    order = np.argsort(node, kind="stable")
    return node[order], pdf["comp"].to_numpy(dtype=np.int64)[order]


def _label_mismatch(what: str, got, want) -> list[str]:
    (gn, gc), (wn, wc) = got, want
    if len(gn) != len(wn) or not np.array_equal(gn, wn):
        return [f"{what}: node set differs ({len(gn)} rows vs {len(wn)} expected)"]
    bad = int(np.count_nonzero(gc != wc))
    return [f"{what}: {bad} of {len(wn)} labels differ"] if bad else []


def _edge_array(df) -> np.ndarray:
    pdf = df.toPandas()
    return np.stack(
        [pdf["src"].to_numpy(dtype=np.int64), pdf["dst"].to_numpy(dtype=np.int64)], axis=1
    )


def _edges_frame(spark, pairs: np.ndarray):
    import pandas as pd

    pdf = pd.DataFrame({"src": pairs[:, 0], "dst": pairs[:, 1]})
    return spark.createDataFrame(pdf, schema="src long, dst long")


def cc_layer(metrics, cc_wall: float) -> dict[str, float]:
    """Per-round numbers of one connected_components call."""
    steps = [r for r in metrics.rounds if r["kind"].endswith("_superstep")]
    finish = [r for r in metrics.rounds if r["kind"] == "unionfind_finish"]
    superstep_s = sum(r["wall_sec"] for r in steps)
    return {
        "cc.rounds": len(metrics.rounds),
        "cc.superstep_s": superstep_s,
        "cc.superstep_edges_per_s": (
            sum(r["m"] for r in steps) / superstep_s if steps else 0.0
        ),
        "cc.contraction_ratio": steps[0]["m_next"] / steps[0]["m"] if steps else 0.0,
        "cc.finish_s": sum(r["wall_sec"] for r in finish),
        "cc.finish_edges": sum(r["m"] for r in finish),
        "cc.prologue_s": cc_wall - sum(r["wall_sec"] for r in metrics.rounds),
        "cc.broadcast_rounds": sum(1 for r in steps if r.get("broadcast")),
        "cc.heavy_hitters": sum(r.get("n_heavy_hitters", 0) for r in steps),
    }


def _dispatch(metrics) -> list[dict]:
    return [{k: r.get(k) for k in DISPATCH_KEYS} for r in metrics.rounds]


class RmatCcPagerank:
    """Two engine calls on seeded rMAT graphs (hub-skewed degrees):

    * connected components of a raw edge table with engine defaults except
      the one-task finish threshold, which the graph exceeds, so that one
      Boruvka superstep runs before the finish;
    * five PageRank iterations (tol 0, so the work per call is fixed) over a
      smaller deduplicated, directed edge table.
    """

    name = "rmat_cc_pagerank"
    CC_SCALE = 15
    CC_EDGE_FACTOR = 8
    #: the one-task finish threshold, lowered from the engine's 1M edges so
    #: that a Boruvka superstep runs on a graph small enough for many
    #: repetitions in one window
    FINISH_EDGES = 100_000
    PR_SCALE = 13
    PR_EDGE_FACTOR = 8
    PR_ITERS = 5

    def __init__(self, spark, seed: int, workdir: str):
        from em_connected_components_spark.operators.normalize import dedup, drop_self_loops
        from em_connected_components_spark.sources import generators

        t0 = time.perf_counter()
        self.raw = generators.rmat(spark, self.CC_SCALE, self.CC_EDGE_FACTOR, seed=seed).persist()
        pairs = _edge_array(self.raw)
        pr_raw = generators.rmat(spark, self.PR_SCALE, self.PR_EDGE_FACTOR, seed=seed)
        self.directed = dedup(drop_self_loops(pr_raw)).persist()
        directed = _edge_array(self.directed)
        self.generate_s = time.perf_counter() - t0

        self.m_raw = len(pairs)
        canon = oracles.canonical_edges(pairs[:, 0], pairs[:, 1])
        self.m_canon = len(canon)
        self.want_labels = oracles.cc_labels(canon[:, 0], canon[:, 1])
        self.m_directed = len(directed)
        self.want_ranks = oracles.pagerank(
            directed[:, 0], directed[:, 1], DAMPING, self.PR_ITERS
        )

    def release(self) -> None:
        self.raw.unpersist()
        self.directed.unpersist()

    def run_once(self, spark, spans: Spans, rep_dir: str) -> Rep:
        from em_connected_components_spark.plans.connected_components import (
            connected_components_metrics,
        )
        from em_connected_components_spark.plans.pagerank import PRMetrics, pagerank

        with spans.span("cc"):
            labels, cc_metrics = connected_components_metrics(
                self.raw, small_graph_threshold=self.FINISH_EDGES
            )
        pr_metrics = PRMetrics()
        with spans.span("pagerank"):
            ranks = pagerank(
                self.directed,
                damping=DAMPING,
                max_iters=self.PR_ITERS,
                tol=0.0,
                metrics=pr_metrics,
            )
        w = spans.walls
        iters = [it["wall_sec"] for it in pr_metrics.iterations]
        first_m = cc_metrics.rounds[0]["m"] if cc_metrics.rounds else 0
        layer = cc_layer(cc_metrics, w["cc"])
        layer.update(
            {
                "normalize.keep_ratio": first_m / self.m_raw,
                "pagerank.iter_s": statistics.median(iters),
                "pagerank.prologue_s": w["pagerank"] - sum(iters),
                "pagerank.edges_per_s": self.m_directed * len(iters) / w["pagerank"],
            }
        )
        pdf = ranks.toPandas()
        order = np.argsort(pdf["node"].to_numpy(), kind="stable")
        return Rep(
            walls=w,
            cc_edges_per_s=self.m_raw / w["cc"],
            layer=layer,
            outputs={
                "labels": _labels(labels),
                "m_canon": first_m,
                "nodes": pdf["node"].to_numpy(dtype=np.int64)[order],
                "rank": pdf["rank"].to_numpy(dtype=np.float64)[order],
                "iterations": len(iters),
            },
            dispatch=_dispatch(cc_metrics),
        )

    def check(self, rep: Rep) -> list[str]:
        out = rep.outputs
        bad = _label_mismatch("cc labels", out["labels"], self.want_labels)
        if out["m_canon"] != self.m_canon:
            bad.append(f"canonical edge count {out['m_canon']} != {self.m_canon}")
        nodes, rank = self.want_ranks
        if out["iterations"] != self.PR_ITERS:
            bad.append(f"pagerank ran {out['iterations']} iterations, not {self.PR_ITERS}")
        elif not np.array_equal(out["nodes"], nodes):
            bad.append(f"pagerank node set differs ({len(out['nodes'])} vs {len(nodes)})")
        elif not np.allclose(out["rank"], rank, rtol=1e-6, atol=1e-12):
            worst = float(np.max(np.abs(out["rank"] - rank) / rank))
            bad.append(f"pagerank ranks off by up to {worst:.3g} relative")
        return bad


class CrawlRecrawl:
    """The crawl input path: html pages -> Arrow-batched link extraction ->
    canonical edge table on parquet -> checkpointed CC -> an insert batch ->
    a delete batch.

    The link graph is ``SITES`` disjoint ``WIDTH`` x ``HEIGHT`` grids (low
    degree skew, many components) plus reciprocal links and self-links,
    rendered with the engine's page fixture; the seed permutes which page
    sits at which grid cell and picks the pages of the delta batches.
    ``FINISH_EDGES`` lowers the one-task finish threshold so the CC call runs
    a Boruvka superstep, and with it a per-round checkpoint write.
    """

    name = "crawl_recrawl"
    SITES = 12
    WIDTH = 32
    HEIGHT = 32
    FINISH_EDGES = 8_000
    JOINED_SITES = ((0, 1), (2, 3))
    LINKS_PER_PAIR = 4
    NEW_PAGE_INSERTS = 16
    QUIET_SITES = range(6, SITES)
    CUT_SITES = (0, 4, 5)
    RECIPROCAL_SHARE = 0.5
    SELF_LINK_SHARE = 0.25

    def __init__(self, spark, seed: int, workdir: str):
        from em_connected_components_spark.sources.pages import fixture_pages, page_url

        rng = np.random.default_rng(seed)
        per_site = self.WIDTH * self.HEIGHT
        self.n_pages = n = self.SITES * per_site
        cell_page = rng.permutation(n)

        def cell(s, r, c):
            return s * per_site + r * self.WIDTH + c

        cells = np.arange(n)
        _, rc = np.divmod(cells, per_site)
        r_, c_ = np.divmod(rc, self.WIDTH)
        right = cells[c_ < self.WIDTH - 1]
        down = cells[r_ < self.HEIGHT - 1]
        grid = np.concatenate(
            [
                np.stack([cell_page[right], cell_page[right + 1]], axis=1),
                np.stack([cell_page[down], cell_page[down + self.WIDTH]], axis=1),
            ]
        )
        # reciprocal links and self-links, as real pages have; canonicalize
        # folds both away, so the canonical edge table is the grid itself
        back = grid[rng.random(len(grid)) < self.RECIPROCAL_SHARE][:, ::-1]
        selfs = np.flatnonzero(rng.random(n) < self.SELF_LINK_SHARE)
        links = np.concatenate([grid, back, np.stack([selfs, selfs], axis=1)])

        t0 = time.perf_counter()
        self.pages_dir = os.path.join(workdir, "pages")
        fixture_pages(spark, [tuple(p) for p in links.tolist()], n).write.mode(
            "overwrite"
        ).parquet(self.pages_dir)
        self.generate_s = time.perf_counter() - t0

        ids = np.array([oracles.xxh64(page_url(i).encode()) for i in range(n)], dtype=np.int64)
        self.n_links = len(links)
        self.want_edges = oracles.canonical_edges(ids[links[:, 0]], ids[links[:, 1]])

        # insert batch: links that join site pairs, and links from pages to
        # pages the first crawl never saw; the delete batch cuts grids in two
        # between their middle rows. The sites are fixed, so the delta work
        # does not depend on the seed.
        def site_pages(site: int, k: int) -> np.ndarray:
            return cell_page[site * per_site + rng.integers(0, per_site, k)]

        cross = np.concatenate(
            [
                np.stack([site_pages(a, self.LINKS_PER_PAIR), site_pages(b, self.LINKS_PER_PAIR)], 1)
                for a, b in self.JOINED_SITES
            ]
        )
        fresh = np.array(
            [oracles.xxh64(page_url(n + j).encode()) for j in range(self.NEW_PAGE_INSERTS)],
            dtype=np.int64,
        )
        linked = np.concatenate(
            [site_pages(site, 1) for site in rng.choice(self.QUIET_SITES, self.NEW_PAGE_INSERTS)]
        )
        ins = np.concatenate([ids[cross], np.stack([ids[linked], fresh], axis=1)])
        self.ins = oracles.canonical_edges(ins[:, 0], ins[:, 1])
        r = self.HEIGHT // 2 - 1
        cut = np.array(
            [
                (cell_page[cell(site, r, c)], cell_page[cell(site, r + 1, c)])
                for site in self.CUT_SITES
                for c in range(self.WIDTH)
            ]
        )
        self.dele = oracles.canonical_edges(ids[cut[:, 0]], ids[cut[:, 1]])

        base = self.want_edges
        after_ins = oracles.canonical_edges(*np.concatenate([base, self.ins]).T)
        gone = {tuple(p) for p in self.dele.tolist()}
        keep = np.array([tuple(p) not in gone for p in after_ins.tolist()])
        self.want_base = oracles.cc_labels(base[:, 0], base[:, 1])
        self.want_ins = oracles.cc_labels(after_ins[:, 0], after_ins[:, 1])
        self.want_del = oracles.cc_labels(after_ins[keep, 0], after_ins[keep, 1])

        # share of nodes in the components the delete batch touches
        nodes, comp = self.want_ins
        hit = np.isin(nodes, self.dele.ravel())
        self.touched_share = float(np.isin(comp, comp[hit]).mean())

        self.ins_df = _edges_frame(spark, self.ins).persist()
        self.del_df = _edges_frame(spark, self.dele).persist()
        self.ins_df.count()
        self.del_df.count()

    def release(self) -> None:
        self.ins_df.unpersist()
        self.del_df.unpersist()

    def run_once(self, spark, spans: Spans, rep_dir: str) -> Rep:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from em_connected_components_spark.checkpoint import RoundCheckpointer
        from em_connected_components_spark.operators.normalize import canonicalize
        from em_connected_components_spark.plans.connected_components import (
            connected_components_metrics,
        )
        from em_connected_components_spark.plans.decremental import (
            decremental_connected_components,
        )
        from em_connected_components_spark.plans.incremental import (
            incremental_connected_components,
        )
        from em_connected_components_spark.web.extract import pages_to_edges

        edges_dir = os.path.join(rep_dir, "edges")
        ckpt_dir = os.path.join(rep_dir, "checkpoint")
        # the raw link count rides the extraction job as an observed metric
        seen = Observation()
        with spans.span("extract"):
            pages = spark.read.parquet(self.pages_dir)
            raw = pages_to_edges(pages).observe(seen, F.count(F.lit(1)).alias("links"))
            canonicalize(raw).write.parquet(edges_dir)
        with spans.span("cc"):
            base = spark.read.parquet(edges_dir)
            labels, metrics = connected_components_metrics(
                base,
                pre_canonicalized=True,
                checkpointer=RoundCheckpointer(spark, ckpt_dir),
                small_graph_threshold=self.FINISH_EDGES,
            )
        with spans.span("delta.insert"):
            ins = incremental_connected_components(
                labels, self.ins_df, pre_canonicalized=True
            ).localCheckpoint(eager=True)
        with spans.span("delta.delete"):
            dele = decremental_connected_components(
                ins, base.unionByName(self.ins_df), self.del_df, pre_canonicalized=True
            ).localCheckpoint(eager=True)

        w = spans.walls
        delta_s = w["delta.insert"] + w["delta.delete"]
        with open(os.path.join(ckpt_dir, "manifest.json"), encoding="utf-8") as fh:
            rounds = json.load(fh)["rounds"]
        files = [f for r in rounds for f in r["edges_files"] + r["labels_files"]]
        edges = _edge_array(base)
        edges = edges[np.lexsort((edges[:, 1], edges[:, 0]))]
        links = seen.get["links"]
        layer = cc_layer(metrics, w["cc"])
        layer.update(
            {
                "normalize.keep_ratio": len(edges) / links,
                "extract.links": links,
                "extract.links_per_page": links / self.n_pages,
                "extract.pages_per_s": self.n_pages / w["extract"],
                "checkpoint.rounds_written": len(rounds),
                "checkpoint.files": len(files),
                "checkpoint.bytes_written": sum(f["bytes"] for f in files),
                "delta.insert_s": w["delta.insert"],
                "delta.delete_s": w["delta.delete"],
                "delta.touched_share": self.touched_share,
                "delta.edges_per_s": (len(self.ins) + len(self.dele)) / delta_s,
            }
        )
        rep = Rep(
            walls=w,
            cc_edges_per_s=len(edges) / w["cc"],
            layer=layer,
            outputs={
                "links": links,
                "edges": edges,
                "base": _labels(labels),
                "ins": _labels(ins),
                "del": _labels(dele),
            },
            dispatch=_dispatch(metrics),
        )
        return rep

    def check(self, rep: Rep) -> list[str]:
        out = rep.outputs
        bad = []
        if out["links"] != self.n_links:
            bad.append(f"extracted {out['links']} links, pages render {self.n_links}")
        if not np.array_equal(out["edges"], self.want_edges):
            bad.append(
                f"extracted edge table differs ({len(out['edges'])} rows vs "
                f"{len(self.want_edges)} expected)"
            )
        bad += _label_mismatch("base labels", out["base"], self.want_base)
        bad += _label_mismatch("labels after insert", out["ins"], self.want_ins)
        bad += _label_mismatch("labels after delete", out["del"], self.want_del)
        return bad


WORKLOADS = {w.name: w for w in (RmatCcPagerank, CrawlRecrawl)}
