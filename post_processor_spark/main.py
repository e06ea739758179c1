"""spark-submit entry point: the full engine lifecycle as a CLI.

    spark-submit --py-files post_processor_spark.zip \
        post_processor_spark/main.py crawl --docs N --generations G --out DIR
    python -m post_processor_spark.main analyze --out DIR

Subcommands:
- crawl:   synthetic (or ingested) documents → frontier generations with
           politeness + seen-set + snapshots (the reference's
           compiler.py/master.py loop, SURVEY.md §3)
- analyze: citation/referral analytics over the documents table →
           final output parquet/CSV (create_output.py analog)
- ingest:  reference-format inputs (domain JSON dir, twitter CSV glob)
           → canonical documents + docs_meta parquet
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Imports below are absolute (not `from . import`): spark-submit executes
# this file as a top-level script with no parent package; the package
# itself resolves from the --py-files zip, or, for `python
# post_processor_spark/main.py`, from the checkout this file sits in.
if not __package__:
    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(args):
    from post_processor_spark.session import get_spark

    return get_spark(cores=args.cores, app_name=f"pps-{args.cmd}")


def cmd_crawl(args) -> None:
    from pyspark.sql import functions as F

    from post_processor_spark import fixtures, frontier
    from post_processor_spark.state import SnapshotStore

    spark = _spark(args)
    docs = fixtures.synthetic_documents(
        spark, args.docs, n_hosts=max(10, args.docs // 50),
        mega_host_share=args.mega_share, seed=args.seed,
    ).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(args.seeds)
    store = SnapshotStore(args.out)
    resume_from = store.current_generation("frontier") if args.resume else None
    stats = frontier.run_generations(
        spark, store, docs, None if resume_from is not None else seeds,
        n_generations=args.generations,
        start_generation=resume_from,
        budget_per_host=args.budget,
        crawl_delay_sec=args.delay,
        use_bloom=not args.no_bloom,
        trap_gate=args.trap_gate,
    )
    for s in stats:
        print(json.dumps(s))
    spark.stop()


def cmd_analyze(args) -> None:
    from pyspark.sql import functions as F

    from post_processor_spark import citations, fixtures, ingest, sources

    if not args.golden and not args.data:
        print("analyze: pass --golden or --data DIR", file=sys.stderr)
        sys.exit(2)
    spark = _spark(args)
    if args.golden:
        dom_raw = fixtures.golden_domain_raw(spark)
        twi_raw = fixtures.golden_twitter_raw(spark)
        documents = ingest.domain_docs_to_documents(dom_raw).unionByName(
            ingest.twitter_docs_to_documents(twi_raw)
        )
        meta = ingest.dedupe_by_url(
            ingest.domain_docs_meta(dom_raw).unionByName(ingest.twitter_docs_meta(twi_raw))
        )
        scope = fixtures.golden_scope(spark)
    else:
        documents = spark.read.parquet(f"{args.data}/documents.parquet")
        meta = spark.read.parquet(f"{args.data}/docs_meta.parquet")
        scope = spark.read.parquet(f"{args.data}/scope.parquet")
    # three consumers below (parquet, CSV, count): compute the output once
    out = citations._materialize(
        citations.run_pipeline(documents, meta, scope, scope, persist=True),
        "analyze:output",
    )
    sources.write_parquet(out, f"{args.out}/final_output.parquet")
    sources.write_csv(out, f"{args.out}/output_csv", single_file=args.single_file)
    print(json.dumps({"rows": out.count(), "out": args.out}))
    spark.stop()


def cmd_ingest(args) -> None:
    from post_processor_spark import ingest, sources

    spark = _spark(args)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    parts = []
    if args.domain_dir:
        raw = sources.read_domain_json(spark, args.domain_dir).withColumn(
            "seq", F.row_number().over(Window.orderBy("url")).cast("long") - 1
        )
        parts.append(
            (ingest.domain_docs_to_documents(raw), ingest.domain_docs_meta(raw))
        )
    if args.twitter_glob:
        raw = sources.parse_twitter_raw(
            sources.read_twitter_csv(spark, args.twitter_glob)
        ).withColumn("seq", F.row_number().over(Window.orderBy("url")).cast("long") - 1)
        parts.append(
            (ingest.twitter_docs_to_documents(raw), ingest.twitter_docs_meta(raw))
        )
    if not parts:
        print("nothing to ingest", file=sys.stderr)
        sys.exit(2)
    documents = parts[0][0]
    meta = parts[0][1]
    for d, m in parts[1:]:
        documents = documents.unionByName(d)
        meta = meta.unionByName(m)
    meta = ingest.dedupe_by_url(meta)
    sources.write_parquet(documents, f"{args.out}/documents.parquet")
    sources.write_parquet(meta, f"{args.out}/docs_meta.parquet")
    print(json.dumps({"documents": documents.count()}))
    spark.stop()


def main() -> None:
    p = argparse.ArgumentParser(prog="post_processor_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--docs", type=int, default=100_000)
    c.add_argument("--seeds", type=int, default=1000)
    c.add_argument("--generations", type=int, default=3)
    c.add_argument("--budget", type=int, default=16)
    c.add_argument("--delay", type=int, default=1)
    c.add_argument("--mega-share", type=float, default=0.0)
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--out", required=True)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--no-bloom", action="store_true")
    c.add_argument("--trap-gate", action="store_true",
                   help="drop crawl-trap-shaped outlinks before the seen filter")
    c.set_defaults(fn=cmd_crawl)

    a = sub.add_parser("analyze")
    a.add_argument("--golden", action="store_true")
    a.add_argument("--data")
    a.add_argument("--out", required=True)
    a.add_argument("--single-file", action="store_true")
    a.set_defaults(fn=cmd_analyze)

    i = sub.add_parser("ingest")
    i.add_argument("--domain-dir")
    i.add_argument("--twitter-glob")
    i.add_argument("--out", required=True)
    i.set_defaults(fn=cmd_ingest)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
