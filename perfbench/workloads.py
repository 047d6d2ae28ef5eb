"""The benchmark's workloads.  Each drives the package only through its
public entry points and has the same shape:

    prepare()      make the inputs from the seed (timed as setup.input_s)
    warm()         full-size warm-up; runs the correctness gates on its
                   outputs, outside the timed loop (setup.warm_s)
    iterate()      one timed unit of work; returns per-operation walls
    traced(tr)     one traced run, spans around each public operator
                   call; returns counts measured at those boundaries
    layers(...)    per-layer metrics from the spans and the event log

Every gate and operation is counted in `ops`: attempted and failed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from gen import CorpusSpec, arrival_shards, pairwise_f1, render_corpus, write_parquet
from spans import LayerTasks, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
# the 20 bench.py catalog queries, in bench.py's order
CATALOG_QUERIES = [
    "er_minhash_blocks", "er_tfidf_blocks", "er_candidate_pairs",
    "er_min2_pairs", "er_capped_star_pairs", "d_near_dup_pairs",
    "er_simhash", "er_fingerprint", "ann_cosine_topk", "ann_lsh_topk",
    "ann_multiprobe_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk",
    "w_bio_decode", "w_bio_decode_subword", "cc_customer_nation_region",
    "q1_pricing_summary", "q3_order_revenue", "w_running_total",
    "j_interval_overlap",
]
LINKAGE_LAYERS = ["features", "blocks", "pairs", "scoring", "links", "cc"]
# the traced run also streams the corpus through the incremental path in
# this many micro-batches, cut in warc_ts order: the fewest that exercise
# cluster maintenance across batches
STREAM_BATCHES = 2
# store buckets of that stream.  The package default (64) made the two
# batches cost 25-50 s each on 4 cores, and the traced run 150-190 s, over
# the 180 s one run may take; with 8 (the size the streaming tests use)
# each batch costs ~17 s
STREAM_BUCKETS = 8
# full-size warm-up iterations: with one, the timed iterations spread by
# ~20% across runs (JIT and Python workers still warming); a third one
# (ten-seed run_s spread 0.10, against 0.12 with two) did not pay for
# the ~7 s it adds to every run of a time-capped benchmark session
WARM_ITERS = 2
F1_FLOOR = 0.99  # gate for a seed with no recorded pairwise F1


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, fn) -> bool:
        """One operation or gate.  `fn()` returns True when it succeeded;
        False or a raised error counts it as failed."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            self.failures.append(name)
            print(f"FAILED {name}", file=sys.stderr)
        return ok


class Workload:
    """Shared plumbing; subclasses implement prepare/warm/iterate/traced/layers."""

    n_items: int  # pages per iteration, for pages_per_s

    def bind(self, spark, work: str, seed: int, ops: Ops) -> None:
        self.spark, self.work, self.seed, self.ops = spark, work, seed, ops


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _recorded(workload: str, seed: int) -> float | None:
    with open(EXPECTED) as f:
        return json.load(f)["pairwise_f1"].get(workload, {}).get(str(seed))


def layer_stats(lt: LayerTasks, wall: float, cores: int) -> dict[str, float]:
    """busy = sum of task run time / (wall x cores); task_skew = max /
    median task duration in the layer's dominant stage."""
    return {
        "wall_s": wall,
        "jobs": lt.jobs,
        "tasks": lt.tasks,
        "task_s": lt.run_s,
        "busy": lt.run_s / (wall * cores) if wall > 0 else 0.0,
        "task_skew": lt.skew(),
        "gc_s": lt.gc_s,
        "shuffle_read_mb": lt.shuffle_read_mb,
        "shuffle_write_mb": lt.shuffle_write_mb,
        "spill_mb": lt.spill_mb,
    }


class LinkageWorkload(Workload):
    """Batch flagship: pages parquet -> run_linkage -> clusters to noop."""

    def __init__(self, name: str, spec: CorpusSpec):
        self.name, self.spec, self.n_items = name, spec, spec.n_pages

    def prepare(self) -> None:
        self.rendered, self.gold = render_corpus(self.spec, self.seed)
        self.pages_dir = os.path.join(self.work, "pages")
        write_parquet(self.rendered, self.pages_dir, n_files=4)

    def _pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def _linkage(self):
        from biomedical_el_spark.plans.linkage import run_linkage

        return run_linkage(self.spark, self._pages())

    @staticmethod
    def _release(out: dict) -> None:
        for df in out.values():
            df.unpersist()

    def warm(self) -> None:
        for i in range(WARM_ITERS):
            out = self._linkage()
            if i == 0:
                clusters = out["clusters"].toPandas()
                self.f1 = pairwise_f1(clusters, self.gold)
                self._gate_f1()
            else:
                _noop(out["clusters"])
            self._release(out)

    def _gate_f1(self) -> None:
        rec = _recorded(self.name, self.seed)
        if rec is not None:
            self.ops.check(f"pairwise_f1 {self.f1!r} == recorded {rec!r}",
                           lambda: abs(self.f1 - rec) < 1e-9)
        else:
            self.ops.check(f"pairwise_f1 {self.f1!r} >= floor {F1_FLOOR}",
                           lambda: self.f1 >= F1_FLOOR)

    def iterate(self) -> list[float]:
        walls = []

        def once() -> bool:
            t0 = time.perf_counter()
            out = self._linkage()
            _noop(out["clusters"])
            walls.append(time.perf_counter() - t0)
            self._release(out)
            return True

        self.ops.check("run_linkage", once)
        return walls

    def traced(self, tr: Tracer) -> dict[str, float]:
        """run_linkage's stage chain (store=None path), one public
        operator call per span, each stage materialized inside its span,
        then the same corpus through the incremental path.
        Gate: its clusters equal run_linkage's."""
        from pyspark.sql import functions as F

        from biomedical_el_spark.functions.embedder import hyperplane_lsh_udf
        from biomedical_el_spark.operators import cc as CC
        from biomedical_el_spark.operators import pairs as P
        from biomedical_el_spark.operators import scoring as S
        from biomedical_el_spark.operators.features import band_keys_from_sig, page_features
        from biomedical_el_spark.plans.linkage import (
            TASK_PAGES, LinkageConfig, _estimate_rows, resolved_config,
        )

        spark, cfg = self.spark, LinkageConfig()
        with tr.span("linkage"):
            pages = self._pages()
            est = _estimate_rows(pages)
            hp = resolved_config(cfg, est)["hyperplanes"]
            floor = spark.sparkContext.defaultParallelism * 2
            n_part = max(floor, min(est // TASK_PAGES, 32 * floor))
            with tr.span("features"):
                features = page_features(
                    pages.repartition(n_part, "url"), cfg.num_hashes, cfg.minhash_seed,
                    prefix_len=cfg.jw_prefix, normalize_accents=cfg.normalize_accents,
                ).persist()
                features.count()
            with tr.span("blocks"):
                key = hyperplane_lsh_udf(hp)(F.col("vec"))
                blocks = band_keys_from_sig(features, cfg.bands, cfg.rows_per_band).unionByName(
                    features.select("url", (F.lit(1 << 40) + key.cast("bigint")).alias("block_key"))
                ).persist()
                n_blocks = blocks.count()
            with tr.span("pairs"):
                cand, oversized = P.candidate_pairs_grouped(
                    blocks, cfg.max_block_size, escape=cfg.oversized_escape,
                    single_exchange=cfg.pairs_single_exchange, min_matches=cfg.min_band_matches,
                )
                pairs = cand.persist()
                n_pairs = pairs.count()
            with tr.span("scoring"):
                scored = S.score_pairs_from_features(pairs, features, cfg.weights).persist()
                scored.count()
            with tr.span("links"):
                links = S.match_links(scored, cfg.tau).persist()
                n_links = links.count()
            with tr.span("cc"):
                comp = CC.connected_components(links, checkpoint_dir=cfg.checkpoint_dir)
                singles = (
                    features.select(F.col("url").alias("node"))
                    .join(comp, "node", "left_anti")
                    .withColumn("component", F.col("node"))
                )
                clusters = comp.unionByName(singles).persist()
                clusters.count()
        with tr.span("counts"):
            sizes = clusters.groupBy("component").count()
            n_comp, largest = sizes.agg(F.count("*"), F.max("count")).first()
            n_oversized = oversized.count()
            ref = self._linkage()
            diff = (clusters.exceptAll(ref["clusters"]).count()
                    + ref["clusters"].exceptAll(clusters).count())
        self.ops.check(f"traced chain == run_linkage ({diff} rows differ)", lambda: diff == 0)
        self._release(ref)
        for df in (features, blocks, pairs, scored, links, clusters):
            df.unpersist()
        return {
            "blocks": n_blocks, "pairs": n_pairs, "links": n_links,
            "oversized": n_oversized, "components": n_comp, "largest": largest,
            **self._traced_stream(tr),
        }

    def _traced_stream(self, tr: Tracer) -> dict[str, float]:
        """The corpus in STREAM_BATCHES micro-batches, cut in warc_ts
        order, each through process_linkage_batch into a fresh store of
        STREAM_BUCKETS buckets, then read_clusters.  Gate: the streamed
        clusters equal the batch pipeline's on the union corpus, with the
        stream's channels (bands only, uncapped blocks).  Returns the
        store's footprint; the store is removed."""
        from biomedical_el_spark.plans.linkage import LinkageConfig, run_linkage
        from biomedical_el_spark.streaming.incremental import (
            process_linkage_batch, read_clusters,
        )

        store = os.path.join(self.work, "store")
        shards = []
        for i, shard in enumerate(arrival_shards(self.rendered, STREAM_BATCHES)):
            shards.append(os.path.join(self.work, "stream", f"b{i}"))
            write_parquet(shard, shards[-1])
        with tr.span("incremental"):
            for i, d in enumerate(shards):
                with tr.span(f"incremental.batch{i}"):
                    process_linkage_batch(
                        self.spark.read.parquet(d), i, store, n_buckets=STREAM_BUCKETS
                    )
            with tr.span("incremental.read_clusters"):
                _noop(read_clusters(self.spark, store))
        with tr.span("counts"):
            streamed = read_clusters(self.spark, store)
            ref = run_linkage(
                self.spark, self._pages(),
                cfg=LinkageConfig(use_embedding_blocks=False, max_block_size=None),
            )
            diff = (streamed.exceptAll(ref["clusters"]).count()
                    + ref["clusters"].exceptAll(streamed).count())
        self.ops.check(f"stream == batch ({diff} rows differ)", lambda: diff == 0)
        self._release(ref)
        files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs]
        footprint = {"store_files": len(files),
                     "store_bytes": sum(os.path.getsize(f) for f in files)}
        shutil.rmtree(store)
        return footprint

    def layers(self, tr: Tracer, tasks: dict[str, LayerTasks], counts: dict,
               run_s: float, cores: int) -> dict[str, float]:
        st = {n: layer_stats(tasks.get(n, LayerTasks()), tr.wall(n), cores) for n in LINKAGE_LAYERS}
        n = self.spec.n_pages
        total = tr.wall("linkage")
        return {
            **{f"features.{k}": st["features"][k]
               for k in ("wall_s", "task_s", "busy", "task_skew", "gc_s")},
            "blocks.wall_s": st["blocks"]["wall_s"],
            "blocks.rows_out": counts["blocks"],
            "blocks.keys_per_page": counts["blocks"] / n,
            "pairs.wall_s": st["pairs"]["wall_s"],
            "pairs.rows_out": counts["pairs"],
            "pairs.per_page": counts["pairs"] / n,
            "pairs.oversized_blocks": counts["oversized"],
            "pairs.shuffle_write_mb": st["pairs"]["shuffle_write_mb"],
            "pairs.spill_mb": st["pairs"]["spill_mb"],
            "pairs.task_skew": st["pairs"]["task_skew"],
            "scoring.wall_s": st["scoring"]["wall_s"],
            "scoring.shuffle_read_mb": st["scoring"]["shuffle_read_mb"],
            "links.wall_s": st["links"]["wall_s"],
            "links.rows_out": counts["links"],
            "links.yield": counts["links"] / counts["pairs"] if counts["pairs"] else 0.0,
            **{f"cc.{k}": st["cc"][k] for k in ("wall_s", "jobs", "tasks", "busy")},
            "cc.components": counts["components"],
            "cc.largest_component": counts["largest"],
            "linkage.traced_total_s": total,
            "linkage.trace_overhead": total / run_s - 1,
            "linkage.pairwise_f1": self.f1,
            **self._stream_layers(tr, tasks, counts, cores),
        }

    def _stream_layers(self, tr: Tracer, tasks: dict[str, LayerTasks], counts: dict,
                       cores: int) -> dict[str, float]:
        """batch_growth = median of the last-quarter batches / the
        first-quarter (with two batches: the second / the first)."""
        names = [f"incremental.batch{i}" for i in range(STREAM_BATCHES)]
        walls = [tr.wall(n) for n in names]
        lts = [tasks.get(n, LayerTasks()) for n in names]
        q = max(1, STREAM_BATCHES // 4)
        return {
            "incremental.jobs_per_batch": statistics.median(lt.jobs for lt in lts),
            "incremental.tasks_per_batch": statistics.median(lt.tasks for lt in lts),
            "incremental.busy": sum(lt.run_s for lt in lts) / (sum(walls) * cores),
            "incremental.batch_growth":
                statistics.median(walls[-q:]) / statistics.median(walls[:q]),
            "incremental.files_per_page": counts["store_files"] / self.spec.n_pages,
            "incremental.output_mb_per_batch":
                counts["store_bytes"] / STREAM_BATCHES / (1 << 20),
            "incremental.read_clusters_s": tr.wall("incremental.read_clusters"),
        }


class CatalogWorkload(Workload):
    """The 20 bench.py catalog queries over a fixed fixture (the seed
    selects nothing), in a fixed order, in one session.  The warm-up is
    one cold pass that checks each output against its DuckDB oracle."""

    fixture = os.path.join(HERE, "data", "sf0.01")

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from biomedical_el_spark.plans import catalog

        self.catalog = catalog
        # the `documents` rows are the pages the er_*/ann_* queries read
        self.n_items = pq.ParquetFile(
            os.path.join(self.fixture, "documents.parquet")
        ).metadata.num_rows

    def _query(self, name: str):
        return self.catalog.QUERIES[name](self.spark, self.fixture)

    def warm(self) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracles import TABLES, value_hash

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.fixture}/{t}.parquet'")
        for q in CATALOG_QUERIES:
            def check(q=q):
                df = self._query(q)
                rows, cols = [tuple(r) for r in df.collect()], df.columns
                cur = con.execute(self.catalog.ORACLES[q])
                orows, ocols = cur.fetchall(), [d[0] for d in cur.description]
                return (sorted(cols) == sorted(ocols) and len(rows) == len(orows)
                        and value_hash(rows, cols) == value_hash(orows, ocols))
            self.ops.check(f"oracle {q}", check)
        con.close()

    def iterate(self) -> list[float]:
        # each pass builds the blocks/pairs that er_candidate_pairs and
        # later queries share, instead of reading the warm-up's copies
        self.catalog.clear_pair_cache()
        walls = []
        for q in CATALOG_QUERIES:
            t0 = time.perf_counter()
            if self.ops.check(q, lambda q=q: _noop(self._query(q)) or True):
                walls.append(time.perf_counter() - t0)
        return walls

    def traced(self, tr: Tracer) -> dict[str, float]:
        self.catalog.clear_pair_cache()
        with tr.span("catalog"):
            for q in CATALOG_QUERIES:
                with tr.span(f"catalog.{q}"):
                    _noop(self._query(q))
        return {}

    def layers(self, tr: Tracer, tasks: dict[str, LayerTasks], counts: dict,
               run_s: float, cores: int) -> dict[str, float]:
        out: dict[str, float] = {}
        walls = []
        for q in CATALOG_QUERIES:
            w = tr.wall(f"catalog.{q}")
            walls.append(w)
            out[f"catalog.{q}.wall_s"] = w
            out[f"catalog.{q}.tasks"] = tasks.get(f"catalog.{q}", LayerTasks()).tasks
        out["catalog.query_geomean_s"] = math.exp(statistics.fmean(math.log(w) for w in walls))
        return out


WORKLOADS = {
    "mirror_dupes": lambda: LinkageWorkload(
        "mirror_dupes", CorpusSpec(4000, 30, 80, cluster_size=16, hot_fraction=0.02)
    ),
    "catalog_sf001": CatalogWorkload,
}
