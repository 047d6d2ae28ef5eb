"""Cluster entry point for the flagship linkage pipeline.

Ship and run (north_rule deployment shape):

    python tools/make_submit_zip.py                 # -> dist/biomedical_el_spark.zip
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/biomedical_el_spark.zip \\
        --num-executors 250 --executor-cores 4 --executor-memory 24g \\
        dist/linkage_submit.py \\
        --input warehouse.crawl.pages --format iceberg \\
        --output hdfs:///er/snapshots/run42 \\
        --checkpoint-dir hdfs:///er/ckpt/run42 \\
        --input-fingerprint crawl-2026-08-snap-1234

The session factory applies the same tuning confs it uses locally (AQE +
skew join, Arrow, allocator executorEnv, ParallelGC) but leaves master /
executor topology entirely to spark-submit (`get_spark(cluster=True)`);
shuffle width defaults to 2 tasks per executor core once the cluster
size is known.  Every stage commits a fingerprinted snapshot under
--output (Iceberg tables in production — same manifest semantics), so
re-submitting the identical job after a failure resumes from the last
committed stage; pass --checkpoint-dir so CC round frontiers use
reliable (executor-loss-safe) checkpoints.
"""

from __future__ import annotations

import argparse
import json

from ..plans.linkage import (
    STAGES,
    LinkageConfig,
    resolved_config,
    run_linkage,
    stage_fingerprint,
)
from ..session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="Run the ER linkage pipeline")
    p.add_argument("--input", required=True, help="pages path or table name")
    p.add_argument(
        "--format", default="parquet", choices=["parquet", "iceberg", "table"],
        help="'parquet' reads a path; 'iceberg'/'table' read a catalog table",
    )
    p.add_argument("--output", required=True, help="snapshot warehouse dir")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--input-fingerprint", default="", help=(
        "identity of the input snapshot (e.g. Iceberg snapshot id); part "
        "of the resume key — a new corpus must not resume old stages"))
    p.add_argument("--tau", type=float, default=None)
    p.add_argument("--num-hashes", type=int, default=None)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--rows-per-band", type=int, default=None)
    p.add_argument("--hyperplanes", type=int, default=None)
    p.add_argument("--max-block-size", type=int, default=None)
    p.add_argument("--normalize-accents", action="store_true")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--dry-run", action="store_true", help=(
        "print the resolved semantic config, stage fingerprint, and "
        "per-stage committed/pending status — no computation"))
    return p


def config_from_args(args: argparse.Namespace) -> LinkageConfig:
    cfg = LinkageConfig(
        normalize_accents=args.normalize_accents,
        checkpoint_dir=args.checkpoint_dir,
    )
    for field in ("tau", "num_hashes", "bands", "rows_per_band",
                  "hyperplanes", "max_block_size"):
        v = getattr(args, field)
        if v is not None:
            setattr(cfg, field, v)
    return cfg


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    spark = get_spark(
        "er-linkage", cluster=True, shuffle_partitions=args.shuffle_partitions
    )
    if args.format == "parquet":
        pages = spark.read.parquet(args.input)
    else:
        pages = spark.read.table(args.input)

    # Iceberg catalog when the runtime is on the classpath (jars are
    # optional — see sources/iceberg.py), parquet+manifest store otherwise
    from ..sources.iceberg import open_store

    store = open_store(spark, args.output)
    cfg = config_from_args(args)

    if args.dry_run:
        cfg_fp = stage_fingerprint(cfg, args.input_fingerprint)
        report = {
            "dry_run": True,
            "store": type(store).__name__,
            "resolved_config": resolved_config(cfg, 0),
            "stage_fingerprint": cfg_fp,
            "stages": {
                s: ("committed" if store.committed(s, cfg_fp) else "pending")
                for s in STAGES
            },
        }
        print(json.dumps(report))
        return report

    out = run_linkage(
        spark, pages, store=store, cfg=cfg,
        input_fingerprint=args.input_fingerprint,
    )
    # Summary counts read COMMITTED SNAPSHOTS (run_linkage with a store
    # returns snapshot reads — bare scans), never re-run upstream stages;
    # the page count comes from the 1:1 narrow features snapshot instead
    # of a second pass over the (possibly wide/remote) input.
    summary = {
        "pages": out["features"].count(),
        "links": out["links"].count(),
        "clusters": out["clusters"].select("component").distinct().count(),
        "output": args.output,
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
