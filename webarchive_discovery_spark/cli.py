"""Spark-submit job surface for the engine.

The reference ships three operational entry points; this module is their
Spark-native analog, runnable as

    spark-submit --py-files wds.zip -m  # or:
    spark-submit --py-files wds.zip path/to/run_job.py <subcommand> ...
    python -m webarchive_discovery_spark <subcommand> ...

Subcommands:

``index``
    ``WARCIndexerCommand.java`` analog (warc-indexer CLI): WARC/ARC files →
    capture documents → parquet / JSONL / Solr-add XML, with the reference's
    ``-t`` (include text), ``-r`` (slash pages only) and ``-z`` (gzip)
    switches (``WARCIndexerCommandOptions.java:62-119``).

``cdx``
    ``ArchiveCDXGenerator`` analog (warc-hadoop-recordreaders): WARC/ARC
    files → 11-field CDX lines, total-order sorted by SURT key
    (``ArchiveCDXGenerator.java:103-221``).

``crawl``
    The north-rule job: multi-epoch frontier crawl over an image+caption
    record table (parquet path or the deterministic synthetic world), with
    Bloom URL-seen, robots/politeness, checkpoint/resume, and per-epoch
    metrics emitted as JSON lines on stdout.

Under spark-submit the cluster master is respected (``get_spark`` is called
with ``master="submit"``); standalone runs default to ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _get_spark(args, app: str):
    from .session import get_spark

    if args.master:
        master = args.master
    elif "PYSPARK_SUBMIT_ARGS" in os.environ:
        master = "submit"
    else:
        master = None
    return get_spark(app, master=master)


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None,
                   help="Spark master (default: spark-submit's, else local[$SPARK_GRAFT_CPUS])")


def cmd_index(args) -> int:
    from .operators.record_filters import default_filter_chain
    from .operators.sinks import write_jsonl, write_xml
    from .schema_capture import extract_capture
    from .sources.warc import read_binary_files, warc_records

    spark = _get_spark(args, "wds-index")
    if args.datasets and not args.links:
        # the reference's dataset job always runs the analysers that feed
        # hostLinks; without this the dataset would be silently empty
        args.links = True
    if args.datasets and not args.images:
        # likewise the faces dataset needs the image analysers
        # (WARCDatasetGenerator emits it unconditionally)
        args.images = True
    if args.images and args.max_payload < (1 << 20):
        # image payloads truncated at the text bound would silently fail to
        # decode; match the reference's 1 MB image-analysis size cap
        # (reference.conf:46-55)
        args.max_payload = 1 << 20
    records = warc_records(read_binary_files(spark, args.input),
                           max_payload=args.max_payload,
                           keep_binary=args.images)
    records = default_filter_chain(records, url_col="target_uri",
                                   status_col="http_status")
    captures = extract_capture(records, with_links=args.links,
                               with_metadata=args.metadata,
                               with_images=args.images)
    if args.slash:  # -r/--slash: only root pages (WARCIndexerCommand -r)
        captures = captures.filter(F.col("url_type") == "slashpage")
    if args.annotations:  # -a: curated annotations file (Annotator.java)
        from .operators.annotations import apply_annotations, load_annotations_json

        ann = load_annotations_json(spark, args.annotations)
        captures = apply_annotations(captures, ann)
    # constant curation stamps (WARCIndexerCommandOptions -i/-n/-u)
    if args.institution:
        captures = captures.withColumn("institution", F.lit(args.institution))
    if args.collection:
        captures = captures.withColumn(
            "collection", F.array(F.lit(args.collection)))
    if args.collection_id:
        captures = captures.withColumn("collection_id", F.lit(args.collection_id))
    if not args.text:  # -t false: strip the text body from the output
        captures = captures.withColumn("content", F.lit(None).cast("string"))
    if args.datasets:
        # one capture scan feeds both outputs; persist so the analyser
        # kernels run once (released after the writes)
        captures = captures.persist()
    if args.output_format == "parquet":
        captures.write.mode("overwrite").parquet(args.output)
    elif args.output_format == "jsonl":
        write_jsonl(captures, args.output, gzip_output=args.gzip)
    elif args.output_format == "memento":
        from .operators.memento import write_memento_jsonl

        write_memento_jsonl(captures, args.output, gzip_output=args.gzip)
    else:
        write_xml(captures, args.output, gzip_output=args.gzip)
    if args.datasets:
        from .plans.datasets import generate_datasets, write_datasets

        write_datasets(generate_datasets(captures), args.datasets)
        captures.unpersist()
    print(json.dumps({"job": "index", "output": args.output,
                      "format": args.output_format,
                      "datasets": args.datasets}))
    return 0


def cmd_cdx(args) -> int:
    from .functions.udfs import resolve_relative_udf
    from .operators import cdx
    from .operators.frontier import canonicalize_frontier
    from .operators.sinks import write_text_lines
    from .sources.warc import read_binary_files, warc_records

    spark = _get_spark(args, "wds-cdx")
    recs = warc_records(read_binary_files(spark, args.input))
    canon = canonicalize_frontier(recs, "target_uri")
    status = F.col("http_status").cast("int")
    fields = canon.select(
        F.col("url_key").alias("urlkey"),
        F.date_format(F.to_timestamp(F.col("warc_date")), "yyyyMMddHHmmss")
        .alias("timestamp"),
        F.col("target_uri").alias("url"),
        F.coalesce(F.col("http_content_type"), F.col("content_type"),
                   F.lit("-")).alias("mime"),
        F.coalesce(status, F.lit(0)).alias("status_code"),
        F.coalesce(F.col("payload_digest"), F.lit("-")).alias("digest"),
        F.coalesce(
            F.when((status >= 300) & (status < 400)
                   & F.col("redirect_location").isNotNull(),
                   resolve_relative_udf(F.col("target_uri"),
                                        F.col("redirect_location"))),
            F.lit("-"),
        ).alias("redirect"),
        F.lit("-").alias("meta"),
        "source_file", "record_offset", "record_type",
    )
    # offset-differencing (compressed_length) must run over ALL records —
    # the reference filters junk LINES after the record reader has computed
    # lengths from adjacent offsets, so an excluded request/metadata record
    # between two responses must not inflate the first response's length
    # (DereferencingArchiveToCDXRecordReader.java offset arithmetic)
    projected = cdx.cdx_project(fields, "urlkey", "source_file", "record_offset")
    projected = projected.filter(
        F.col("record_type").isin("response", "revisit")
        & F.col("url").isNotNull()
    )
    if not args.no_junk_filter:
        projected = cdx.cdx_junk_filter(projected, "mime", "record_type")
    lined = cdx.cdx11_line(projected)
    ordered = cdx.total_order_sort(lined, "urlkey",
                                   num_partitions=args.num_partitions)
    write_text_lines(ordered, "cdx_line", args.output, gzip_output=args.gzip)
    print(json.dumps({"job": "cdx", "output": args.output}))
    return 0


def cmd_crawl(args) -> int:
    from .plans.crawl import CrawlConfig, run_crawl
    from .sources import frontier_data as fd

    spark = _get_spark(args, "wds-crawl")
    if args.records:
        records = spark.read.parquet(args.records)
        seeds = spark.read.parquet(args.seeds)
        link_graph = spark.read.parquet(args.link_graph)
        robots = spark.read.parquet(args.robots)
    else:
        n = args.synthetic
        records = fd.gen_frontier_records(spark, n, seed=args.seed)
        seeds = fd.gen_seeds(spark, n, max(2, n // 100))
        link_graph = fd.gen_link_graph(spark, n)
        robots = fd.gen_robots_rules(spark)
    cfg = CrawlConfig(
        epochs=args.epochs,
        host_budget=args.host_budget,
        checkpoint_dir=args.checkpoint_dir,
        seen_filter=None if args.no_bloom else "bloom",
        recrawl_epochs=args.recrawl_epochs,
        adaptive_recrawl=args.adaptive_recrawl,
        epoch_duration_ms=args.epoch_duration_ms,
    )
    result = run_crawl(spark, records, seeds, link_graph, robots, cfg,
                       resume=args.resume)
    if args.output:
        result["crawl_log"].write.mode("overwrite").parquet(args.output)
    for m in result["metrics"]:
        print(json.dumps({"job": "crawl", **m}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="webarchive-discovery-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ix = sub.add_parser("index", help="WARC/ARC → capture documents")
    ix.add_argument("-i", "--input", required=True, help="archive files path/glob")
    ix.add_argument("-o", "--output", required=True)
    ix.add_argument("-F", "--output-format", default="parquet",
                    choices=["parquet", "jsonl", "memento", "xml"],
                    help="memento = the reference's --jsonl Memento JSON shape")
    ix.add_argument("--datasets", default=None, metavar="DIR",
                    help="also emit the named research datasets "
                         "(hosts/formats/faces/hostLinks) to DIR")
    ix.add_argument("-z", "--gzip", action="store_true")
    ix.add_argument("-t", "--text", action=argparse.BooleanOptionalAction,
                    default=True, help="include extracted text (reference -t)")
    ix.add_argument("-r", "--slash", action="store_true",
                    help="only process slash (root) pages (reference -r)")
    ix.add_argument("-a", "--annotations", default=None,
                    help="annotations JSON file (reference -a)")
    ix.add_argument("--institution", default=None,
                    help="stamp institution on every capture (reference -i)")
    ix.add_argument("-n", "--collection", default=None,
                    help="stamp collection (reference -n)")
    ix.add_argument("-u", "--collection-id", default=None,
                    help="stamp collection id (reference -u)")
    ix.add_argument("--links", action="store_true", help="run the link analyser")
    ix.add_argument("--metadata", action="store_true", help="run Tika-lite metadata")
    ix.add_argument("--images", action="store_true",
                    help="run the image analyser (dims/dominant colour/faces)")
    ix.add_argument("--max-payload", type=int, default=65536)
    _add_common(ix)
    ix.set_defaults(fn=cmd_index)

    cx = sub.add_parser("cdx", help="WARC/ARC → sorted CDX-11 lines")
    cx.add_argument("-i", "--input", required=True)
    cx.add_argument("-o", "--output", required=True)
    cx.add_argument("-z", "--gzip", action="store_true")
    cx.add_argument("-p", "--num-partitions", type=int, default=None,
                    help="total-order output shards (reference reducer count)")
    cx.add_argument("--no-junk-filter", action="store_true")
    _add_common(cx)
    cx.set_defaults(fn=cmd_cdx)

    cr = sub.add_parser("crawl", help="multi-epoch frontier crawl (north rule)")
    src = cr.add_mutually_exclusive_group(required=True)
    src.add_argument("--records", help="parquet path of image+caption records")
    src.add_argument("--synthetic", type=int, metavar="N",
                     help="use the deterministic synthetic world of N records")
    cr.add_argument("--seeds", help="parquet path (url, hops); required with --records")
    cr.add_argument("--link-graph", help="parquet path (src_url, dst_url)")
    cr.add_argument("--robots", help="parquet path of robots rules")
    cr.add_argument("--seed", type=int, default=42)
    cr.add_argument("--epochs", type=int, default=3)
    cr.add_argument("--host-budget", type=int, default=100)
    cr.add_argument("--checkpoint-dir", default=None)
    cr.add_argument("--resume", action="store_true")
    cr.add_argument("--adaptive-recrawl", action="store_true",
                    help="digest-change AIMD revisit scheduling (ignored "
                         "when --recrawl-epochs is set)")
    cr.add_argument("--recrawl-epochs", type=int, default=None,
                    help="seen-set entries expire after this many epochs")
    cr.add_argument("--epoch-duration-ms", type=int, default=None,
                    help="simulated epoch wall-clock: host budget becomes "
                         "min(host-budget, duration/crawl_delay)")
    cr.add_argument("--no-bloom", action="store_true",
                    help="URL-seen by the exact anti-join alone, without "
                         "the Bloom prefilter (which each epoch sizes from "
                         "the seen-set at FPR 1e-6)")
    cr.add_argument("-o", "--output", default=None,
                    help="parquet path for the crawl log")
    _add_common(cr)
    cr.set_defaults(fn=cmd_crawl)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "crawl" and args.records and not (
            args.seeds and args.link_graph and args.robots):
        build_parser().error("--records requires --seeds, --link-graph and --robots")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
