"""CLI entry point — the user-facing way to run any engine query:

    python -m utility_service_areas_spark list
    python -m utility_service_areas_spark run flagship_service_area_report
    python -m utility_service_areas_spark run agg_stats_by_group --sf-dir /root/testdata/sf0.1
    python -m utility_service_areas_spark export top_revenue_orders --out /tmp/top.parquet
"""

from __future__ import annotations

import argparse
import sys
from utility_service_areas_spark.operators.localrel import local_df


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="utility_service_areas_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list available queries")

    run = sub.add_parser("run", help="run a query and show rows")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--limit", type=int, default=20)

    exp = sub.add_parser("export", help="run a query and write parquet/csv")
    exp.add_argument("query")
    exp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    exp.add_argument("--out", required=True)

    fun = sub.add_parser(
        "funnel",
        help="publish the curation-funnel run report (global + per-source "
        "funnel, mixing weights, _SUMMARY.json)",
    )
    fun.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    fun.add_argument("--out", required=True)
    fun.add_argument("--format", choices=("parquet", "jsonl"), default="parquet")

    aud = sub.add_parser(
        "audit",
        help="publish the data-quality audit report (rule violations, "
        "per-source drift, _SUMMARY.json with a pass/fail verdict)",
    )
    aud.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    aud.add_argument("--out", required=True)
    aud.add_argument("--format", choices=("parquet", "jsonl"), default="parquet")

    tun = sub.add_parser(
        "tuning",
        help="publish the serving/curation lever tables (dedup "
        "thresholds, IVF probes, LSH planes, seq-len packing, "
        "matryoshka dims, BPE merge rounds) + recommended operating "
        "points",
    )
    tun.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    tun.add_argument("--out", required=True)
    tun.add_argument("--format", choices=("parquet", "jsonl"), default="parquet")

    idx = sub.add_parser(
        "index",
        help="persisted IVFPQ vector-index lifecycle: build once into "
        "--index-dir, add new vector batches against the frozen "
        "codebooks, search many times from the artifacts",
    )
    idx.add_argument("action", choices=("build", "add", "search"))
    idx.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    idx.add_argument("--index-dir", required=True)
    idx.add_argument(
        "--where",
        default=None,
        help="SQL predicate selecting vectors from the embeddings "
        "table (e.g. 'vec_id >= 500' for an add batch)",
    )
    idx.add_argument("--top-k", type=int, default=10)
    idx.add_argument("--n-probe", type=int, default=4)

    tix = sub.add_parser(
        "textindex",
        help="persisted BM25 text-index lifecycle (S34, v2 segments): "
        "build once into --index-dir, add document batches as atomic "
        "segments, search many times from the artifacts, compact "
        "segments, repair the additive manifest counts",
    )
    tix.add_argument(
        "action",
        choices=("build", "add", "search", "compact", "repair", "vacuum"),
    )
    tix.add_argument(
        "--grace-seconds",
        type=float,
        default=600.0,
        help="vacuum: spare unlisted segment dirs younger than this "
        "(an in-flight reader/writer may still hold them)",
    )
    tix.add_argument(
        "--dry-run",
        action="store_true",
        help="vacuum: print the would-delete set without touching disk",
    )
    tix.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    tix.add_argument("--index-dir", required=True)
    tix.add_argument(
        "--where",
        default=None,
        help="SQL predicate selecting documents (e.g. 'doc_id >= 250' "
        "for an add batch)",
    )
    tix.add_argument(
        "--terms",
        default=None,
        help="space-separated query terms (search action)",
    )
    tix.add_argument("--top-k", type=int, default=10)
    tix.add_argument(
        "--compact-every",
        type=int,
        default=None,
        help="self-compact when the segment count reaches N (add action)",
    )

    pipe = sub.add_parser(
        "pipeline",
        help="run the reference service-areas pipeline as a memoized "
        "DAG ({targets} tar_make parity): stages whose input content "
        "hashes are unchanged are skipped and served from the store",
    )
    pipe.add_argument("--kml-dir", required=True)
    pipe.add_argument("--certificates-csv", required=True)
    pipe.add_argument("--chronology-csv", required=True)
    pipe.add_argument("--store", required=True)
    pipe.add_argument(
        "--force",
        action="store_true",
        help="rebuild every stage even if content hashes match",
    )
    pipe.add_argument("--operator-ids", default="", help="comma-separated")
    pipe.add_argument("--inactive-ids", default="", help="comma-separated")
    pipe.add_argument(
        "--merge-patches",
        default="",
        help="comma-separated cert1:cert2 acquisition merges",
    )

    tab = sub.add_parser(
        "table",
        help="versioned-table lifecycle (S33/S35/S37): write/append "
        "snapshots, bucketed copy-on-write MERGE of a U/D changeset, "
        "time-travel read, history diff, vacuum",
    )
    tab.add_argument(
        "action",
        choices=(
            "write",
            "merge",
            "read",
            "versions",
            "diff",
            "vacuum",
            "optimize",
            "restore",
        ),
    )
    tab.add_argument("--table-dir", required=True)
    tab.add_argument("--source", help="parquet path (write: rows; merge: changeset with an 'op' column)")
    tab.add_argument("--mode", choices=("append", "overwrite"), default="append")
    tab.add_argument(
        "--bucket-by",
        default="",
        help="comma-separated key columns: write a BUCKETED version "
        "(required before merge)",
    )
    tab.add_argument("--n-buckets", type=int, default=16)
    tab.add_argument("--version", type=int, default=None)
    tab.add_argument("--v-old", type=int, default=None)
    tab.add_argument("--v-new", type=int, default=None)
    tab.add_argument("--keep-last", type=int, default=2)
    tab.add_argument("--limit", type=int, default=20)
    tab.add_argument(
        "--zorder-by",
        default="",
        help="comma-separated numeric key columns for `table optimize` "
        "(Z-ORDER clustered rewrite, committed as a new version)",
    )
    tab.add_argument("--n-files", type=int, default=8)
    tab.add_argument(
        "--columns",
        default="",
        help="comma-separated projection for `table read`: the scan "
        "decodes only these columns' parquet pages",
    )
    tab.add_argument(
        "--curve",
        choices=("hilbert", "morton"),
        default="hilbert",
        help="space-filling curve for `table optimize` (hilbert: "
        "measured stronger multi-key pruner; morton: pure-expression "
        "bit interleave)",
    )

    args = ap.parse_args(argv)

    if args.cmd == "table":
        from utility_service_areas_spark.session import build_session
        from utility_service_areas_spark.sources import versioned as vt

        if args.action in ("versions", "vacuum"):  # no Spark needed
            if args.action == "versions":
                for v in vt.list_versions(args.table_dir):
                    man = vt._read_manifest(args.table_dir, v)
                    print(
                        f"v{v}: mode={man['mode']} rows={man['n_rows']} "
                        f"dirs={len(man['data_dirs'])}"
                        + (
                            f" buckets={man['n_buckets']}"
                            if "buckets" in man
                            else ""
                        )
                    )
                return 0
            stats = vt.vacuum(args.table_dir, keep_last=args.keep_last)
            print(
                f"vacuumed {args.table_dir}: "
                f"{stats['manifests_removed']} manifests, "
                f"{stats['dirs_removed']} dirs removed, "
                f"{stats['versions_retained']} versions retained"
            )
            return 0

        spark = build_session("usa-cli-table")
        spark.sparkContext.setLogLevel("ERROR")
        if args.action == "write":
            if not args.source:
                ap.error("table write requires --source")
            df = spark.read.parquet(args.source)
            if args.bucket_by:
                v = vt.write_version_bucketed(
                    df,
                    args.table_dir,
                    bucket_cols=args.bucket_by.split(","),
                    n_buckets=args.n_buckets,
                )
            else:
                v = vt.write_version(df, args.table_dir, mode=args.mode)
            print(f"committed v{v} to {args.table_dir}")
        elif args.action == "merge":
            if not args.source:
                ap.error("table merge requires --source (changeset parquet)")
            v = vt.merge_version(
                spark, args.table_dir, spark.read.parquet(args.source)
            )
            print(f"merged -> v{v} at {args.table_dir}")
        elif args.action == "optimize":
            if not args.zorder_by:
                ap.error("table optimize requires --zorder-by col[,col...]")
            keys = args.zorder_by.split(",")
            v = vt.optimize_version(
                spark, args.table_dir, keys, n_files=args.n_files,
                curve=args.curve,
            )
            for key in keys:
                zones = vt.zone_map_audit(spark, args.table_dir, v, key)
                widths = [
                    z["max"] - z["min"]
                    for z in zones
                    if z["min"] is not None
                ]
                if widths:
                    print(
                        f"optimized -> v{v}: {len(zones)} files, {key} "
                        f"zone width min/max = {min(widths)}/{max(widths)}"
                    )
                else:  # e.g. an all-NULL key: no min/max stats to show
                    print(
                        f"optimized -> v{v}: {len(zones)} files, {key} "
                        "has no zone stats (all-NULL column?)"
                    )
        elif args.action == "restore":
            if args.version is None:
                ap.error("table restore requires --version")
            v = vt.restore_version(args.table_dir, args.version)
            print(f"restored v{args.version} -> v{v} at {args.table_dir}")
        elif args.action == "read":
            from utility_service_areas_spark.sources.pyds import (
                register_versioned_table,
            )

            register_versioned_table(spark)
            opts = {}
            if args.version is not None:
                opts["version"] = str(args.version)
            if args.columns:
                opts["columns"] = args.columns
            df = (
                spark.read.format("versioned_table")
                .options(**opts)
                .load(args.table_dir)
            )
            df.show(args.limit, truncate=False)
            print(f"{df.count()} rows")
        else:  # diff
            if args.v_old is None or args.v_new is None:
                ap.error("table diff requires --v-old and --v-new")
            d = vt.diff_versions(spark, args.table_dir, args.v_old, args.v_new)
            print(
                f"v{args.v_old} -> v{args.v_new}: +{d['added']} "
                f"-{d['removed']} ({d['n_rows_old']} -> {d['n_rows_new']} rows)"
            )
        return 0

    if args.cmd == "index":
        from pyspark.sql import functions as F

        from utility_service_areas_spark.operators.vector_index import (
            add_to_ivfpq_index,
            build_ivfpq_index,
            search_ivfpq_index,
        )
        from utility_service_areas_spark.session import build_session
        from utility_service_areas_spark.sources.tables import load_table

        spark = build_session("usa-cli-index")
        spark.sparkContext.setLogLevel("ERROR")
        emb = load_table(spark, args.sf_dir, "embeddings")
        if args.where:
            emb = emb.filter(args.where)
        if args.action == "build":
            manifest = build_ivfpq_index(emb, args.index_dir)
            print(
                f"built {args.index_dir}: {manifest['n_vectors']} vectors, "
                f"{manifest['n_centroids']} cells, m={manifest['m']} "
                f"k={manifest['k']}"
            )
        elif args.action == "add":
            manifest = add_to_ivfpq_index(spark, args.index_dir, emb)
            print(
                f"added into {args.index_dir}: now {manifest['n_vectors']} "
                f"vectors ({manifest['n_adds']} add batches)"
            )
        else:  # search — queries = the probe workload (vec_id < 5);
            # search_ivfpq_index loads the index itself (and raises
            # just as loudly on an uncommitted dir — r14 review #7)
            queries = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
            out = search_ivfpq_index(
                spark,
                args.index_dir,
                queries,
                load_table(spark, args.sf_dir, "embeddings"),
                n_probe=args.n_probe,
                top_k=args.top_k,
            )
            out.orderBy("query_id", "rank").show(100, truncate=False)
        return 0

    if args.cmd == "textindex":
        from utility_service_areas_spark.operators.text_index import (
            add_to_bm25_index,
            build_bm25_index,
            compact_bm25_index,
            repair_bm25_manifest,
            search_bm25_index,
        )
        from utility_service_areas_spark.session import build_session
        from utility_service_areas_spark.sources.tables import load_table

        spark = build_session("usa-cli-textindex")
        spark.sparkContext.setLogLevel("ERROR")
        if args.action in ("build", "add"):
            docs = load_table(spark, args.sf_dir, "documents")
            if args.where:
                docs = docs.filter(args.where)
        if args.action == "build":
            manifest = build_bm25_index(docs, args.index_dir)
            print(
                f"built {args.index_dir}: {manifest['n_docs']} docs, "
                f"{manifest['l_total']} tokens, "
                f"{len(manifest['segments'])} segment(s), "
                f"{manifest['n_buckets']} term buckets"
            )
        elif args.action == "add":
            manifest = add_to_bm25_index(
                spark, args.index_dir, docs, compact_every=args.compact_every
            )
            print(
                f"added into {args.index_dir}: now {manifest['n_docs']} "
                f"docs in {len(manifest['segments'])} segment(s) "
                f"({manifest['n_adds']} add batches, "
                f"{manifest['n_compactions']} compactions)"
            )
        elif args.action == "compact":
            manifest = compact_bm25_index(spark, args.index_dir)
            print(
                f"compacted {args.index_dir}: {manifest['n_docs']} docs "
                f"in {len(manifest['segments'])} segment(s)"
            )
        elif args.action == "repair":
            manifest = repair_bm25_manifest(spark, args.index_dir)
            print(
                f"repaired {args.index_dir}: recounted "
                f"{len(manifest['segments'])} segment(s) -> "
                f"{manifest['n_docs']} docs, {manifest['l_total']} tokens"
            )
        elif args.action == "vacuum":
            from utility_service_areas_spark.operators.text_index import (
                vacuum_bm25_index,
            )

            plan = vacuum_bm25_index(
                args.index_dir,
                grace_seconds=args.grace_seconds,
                dry_run=args.dry_run,
            )
            verb = "would remove" if args.dry_run else "removed"
            print(
                f"vacuum {args.index_dir}: {verb} "
                f"{plan['dirs_removed']} unlisted segment dir(s)"
                + (f": {', '.join(plan['dirs'])}" if plan["dirs"] else "")
            )
        else:  # search
            if not args.terms:
                ap.error("textindex search requires --terms")
            qterms = local_df(spark, 
                [("q0", t) for t in args.terms.split()],
                "query_id string, t string",
            )
            search_bm25_index(
                spark, args.index_dir, qterms, k=args.top_k
            ).orderBy("query_id", "rk").show(100, truncate=False)
        return 0

    if args.cmd == "pipeline":
        from utility_service_areas_spark.plans.targets import (
            run_pipeline,
            service_areas_stages,
        )
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-cli-pipeline")
        spark.sparkContext.setLogLevel("ERROR")
        ints = lambda s: [int(x) for x in s.split(",") if x]  # noqa: E731
        merges = [
            (int(a), int(b))
            for a, b in (p.split(":") for p in args.merge_patches.split(",") if p)
        ]
        stages = service_areas_stages(
            args.kml_dir,
            args.certificates_csv,
            args.chronology_csv,
            ints(args.operator_ids),
            ints(args.inactive_ids),
            merges,
        )
        report = run_pipeline(
            spark, stages, args.store, incremental=not args.force
        )
        for name, what in report.items():
            print(f"{name}: {what}")
        return 0

    if args.cmd == "tuning":
        from utility_service_areas_spark.plans.tuning_report import (
            write_tuning_report,
        )
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-cli-tuning")
        spark.sparkContext.setLogLevel("ERROR")
        summary = write_tuning_report(spark, args.sf_dir, args.out, args.format)
        print(
            f"wrote {args.out}: probe={summary['ivf_probes']['recommended_probe']} "
            f"planes={summary['lsh_planes']['recommended_planes']} "
            f"dim={summary['matryoshka_dims']['recommended_dim']} "
            f"seq_len={summary['seq_len_packing']['recommended_seq_len']} "
            f"threshold_knee={summary['dedup_thresholds']['knee_threshold_micros']} "
            f"bpe_rounds={summary['bpe_compression']['recommended_merge_rounds']} "
            f"minhash_bits={summary['minhash_bbit']['recommended_bits']}"
        )
        return 0

    if args.cmd == "audit":
        from utility_service_areas_spark.plans.audit_report import (
            write_audit_report,
        )
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-cli-audit")
        spark.sparkContext.setLogLevel("ERROR")
        summary = write_audit_report(spark, args.sf_dir, args.out, args.format)
        print(
            f"wrote {args.out}: verdict={summary['verdict']} "
            f"(failed rules: {summary['gating_rules_failed'] or 'none'}; "
            f"top drift {summary['drift_top_source']} "
            f"{summary['drift_top_chi2_milli']} milli)"
        )
        return 0

    if args.cmd == "funnel":
        from utility_service_areas_spark.plans.curation_report import (
            write_curation_report,
        )
        from utility_service_areas_spark.session import build_session

        spark = build_session("usa-cli-funnel")
        spark.sparkContext.setLogLevel("ERROR")
        summary = write_curation_report(spark, args.sf_dir, args.out, args.format)
        print(
            f"wrote {args.out}: {summary['stages']['raw']['n_docs']} raw docs "
            f"-> {summary['stages']['source_quota']['n_docs']} kept "
            f"across {summary['n_sources']} sources"
        )
        return 0

    from utility_service_areas_spark.plans.registry import REGISTRY, _load_all

    _load_all()

    if args.cmd == "list":
        for name, spec in sorted(REGISTRY.items()):
            kind = "sql-verified" if spec.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {spec.doc.splitlines()[0] if spec.doc else ''}")
        return 0

    if args.query not in REGISTRY:
        print(f"unknown query {args.query!r}; `list` shows all", file=sys.stderr)
        return 2

    from utility_service_areas_spark.session import build_session

    spark = build_session(f"usa-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.query].fn(spark, args.sf_dir)

    if args.cmd == "run":
        df.show(args.limit, truncate=40)
        print(f"({df.count()} rows total)")
    else:
        if args.out.endswith(".csv"):
            df.write.mode("overwrite").option("header", True).csv(args.out)
        else:
            df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
