"""CLI entrypoint: ``python -m website_traffic_etl_gcp_spark run``
(reference: ``python -m etl run``, __main__.py:77-94)."""

from __future__ import annotations

import argparse
import logging
import sys

from .config import ConfigError, load_config
from .pipeline import run_etl
from .session import get_spark

logging.basicConfig(
    level=logging.INFO,
    format="%(asctime)s [%(levelname)s] %(message)s",
    datefmt="%Y-%m-%d %H:%M:%S",
)
logger = logging.getLogger("website_traffic_etl_gcp_spark")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="website_traffic_etl_gcp_spark",
        description="Traffic data ETL: landing zone -> Spark -> warehouse",
    )
    sub = parser.add_subparsers(dest="command")
    run_p = sub.add_parser("run", help="Run the ETL pipeline")
    run_p.add_argument(
        "--truncate", action="store_true",
        help="Replace warehouse data instead of appending",
    )
    run_p.add_argument(
        "--env-file", default=None,
        help=".env file to seed the environment from (reference "
        "config.py:34-39); process env vars take precedence",
    )
    q_p = sub.add_parser("query", help="Run a registry query by name")
    q_p.add_argument("name", help="Query name (see list-queries)")
    q_p.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="Directory holding the parquet tables",
    )
    q_p.add_argument("--limit", type=int, default=20,
                     help="Rows to display (0 = count only)")
    sub.add_parser("list-queries", help="List every registry query")
    e_p = sub.add_parser(
        "explain", help="Print a registry query's physical plan"
    )
    e_p.add_argument("name", help="Query name (see list-queries)")
    e_p.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="Directory holding the parquet tables",
    )
    e_p.add_argument(
        "--mode", default="formatted",
        choices=("simple", "extended", "formatted", "cost", "codegen"),
        help="Explain mode (default: formatted)",
    )
    dq_p = sub.add_parser(
        "dq", help="Run the data-quality gate; exit 1 if any rule fails"
    )
    dq_p.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="Directory holding the parquet tables",
    )
    c_p = sub.add_parser(
        "compact", help="Rewrite a parquet table into ~target-size files"
    )
    c_p.add_argument("table_path")
    c_p.add_argument("--target-mb", type=int, default=128)
    c_p.add_argument(
        "--partition-by", default="",
        help="Comma-separated hive partition columns to preserve",
    )
    c_p.add_argument(
        "--sort-within-by", default="",
        help="Comma-separated columns to cluster within files",
    )
    x_p = sub.add_parser(
        "export-shards",
        help="Write a table as deterministic md5-mod training shards",
    )
    x_p.add_argument("table_path", help="Parquet table to shard")
    x_p.add_argument("out_dir", help="Destination directory")
    x_p.add_argument("--id-col", default="doc_id")
    x_p.add_argument("--n-shards", type=int, default=32)
    s_p = sub.add_parser(
        "export-splits",
        help="Write a corpus as leakage-safe train/val/test partitions",
    )
    s_p.add_argument("table_path", help="Parquet corpus to split")
    s_p.add_argument("out_dir", help="Destination directory")
    s_p.add_argument("--text-col", default="text")
    s_p.add_argument(
        "--train-pct", type=int, default=80,
        help="Train percentage (default 80)",
    )
    s_p.add_argument(
        "--val-pct", type=int, default=10,
        help="Val percentage (default 10; test gets the remainder)",
    )
    sn_p = sub.add_parser(
        "snapshot",
        help="Snapshot-table maintenance: history, compact, vacuum, "
        "merge, repack (sources/snapshot_table.py)",
    )
    sn_p.add_argument(
        "action",
        choices=(
            "history", "compact", "vacuum", "merge", "read", "repack",
            "maintain",
        ),
    )
    sn_p.add_argument("root", help="Snapshot table root directory")
    sn_p.add_argument(
        "--source", default=None,
        help="Parquet path of the merge source batch (merge only)",
    )
    sn_p.add_argument(
        "--keys", default="",
        help="Comma-separated merge key columns (merge only)",
    )
    sn_p.add_argument(
        "--delete-predicate", default=None,
        help="SQL predicate over source columns; matching rows never "
        "survive the merge (merge only)",
    )
    sn_p.add_argument("--keep-last", type=int, default=2,
                      help="Versions to retain (vacuum/maintain)")
    sn_p.add_argument(
        "--retention", type=float, default=600.0,
        help="Orphan-file grace window in seconds (vacuum/maintain)")
    sn_p.add_argument(
        "--min-age", type=float, default=0.0, dest="min_age",
        help="Never expire a manifest younger than this many seconds, "
        "even beyond --keep-last (vacuum/maintain; time-travel safety)")
    sn_p.add_argument("--target-mb", type=int, default=128,
                      help="Target data-file size (compact only)")
    sn_p.add_argument("--version", type=int, default=None,
                      help="Snapshot version to read (read only)")
    sn_p.add_argument("--as-of", type=float, default=None, dest="as_of",
                      help="Epoch-seconds timestamp time travel (read only)")
    sn_p.add_argument("--prune", default=None, metavar="COL,LO,HI",
                      help="Zone-map pruned range read (read only)")
    sn_p.add_argument("--limit", type=int, default=20,
                      help="Rows to print (read only)")
    args = parser.parse_args(argv)

    if args.command == "run":
        try:
            config = load_config(env_path=args.env_file)
        except ConfigError as e:
            logger.error("Configuration error: %s", e)
            return 1
        if args.truncate:
            config = config.with_truncate()
        spark = get_spark("traffic-etl")
        counts = run_etl(spark, config)
        logger.info(
            "loaded=%d quarantined=%d", counts["loaded"], counts["quarantined"]
        )
        return 0

    if args.command == "list-queries":
        from .plans.registry import REGISTRY

        for name in sorted(REGISTRY):
            entry = REGISTRY[name]
            oracle = "oracle" if entry.oracle else "rows-only"
            print(f"{name:32s} [{oracle}] {entry.doc.split('.')[0]}.")
        return 0

    if args.command == "query":
        from .plans.registry import REGISTRY

        if args.name not in REGISTRY:
            logger.error(
                "Unknown query %r. Run list-queries for the inventory.",
                args.name,
            )
            return 1
        spark = get_spark(f"query-{args.name}")
        df = REGISTRY[args.name].builder(spark, args.sf_dir)
        if args.limit > 0:
            df.show(args.limit, truncate=False)
        print(f"rows: {df.count()}")
        return 0

    if args.command == "explain":
        from .plans.registry import REGISTRY

        if args.name not in REGISTRY:
            logger.error(
                "Unknown query %r. Run list-queries for the inventory.",
                args.name,
            )
            return 1
        spark = get_spark(f"explain-{args.name}")
        REGISTRY[args.name].builder(spark, args.sf_dir).explain(args.mode)
        return 0

    if args.command == "dq":
        from .plans.registry import REGISTRY

        spark = get_spark("dq-gate")
        report = REGISTRY["dq_events_expectations"].builder(
            spark, args.sf_dir
        ).collect()
        failed = [r for r in report if not r["passed"]]
        for r in report:
            status = "PASS" if r["passed"] else "FAIL"
            print(
                f"{status}  {r['rule']:24s} "
                f"violations={r['n_violations']}/{r['n_rows']}"
            )
        if failed:
            logger.error("%d rule(s) failed", len(failed))
            return 1
        return 0

    if args.command == "compact":
        from pathlib import Path

        from .sources.writers import compact_table

        if not Path(args.table_path).is_dir():
            logger.error("Not a table directory: %s", args.table_path)
            return 1
        spark = get_spark("compact")
        stats = compact_table(
            spark,
            args.table_path,
            target_file_bytes=args.target_mb * 1024 * 1024,
            partition_by=tuple(p for p in args.partition_by.split(",") if p),
            sort_within_by=tuple(
                s for s in args.sort_within_by.split(",") if s
            ),
        )
        print(
            f"files: {stats['files_before']} -> {stats['files_after']} "
            f"({stats['bytes_total']} bytes)"
        )
        return 0

    if args.command == "export-shards":
        from pathlib import Path

        from .sources.writers import write_training_shards

        if not Path(args.table_path).exists():
            logger.error("Not a table path: %s", args.table_path)
            return 1
        spark = get_spark("export-shards")
        df = spark.read.parquet(args.table_path)
        if args.id_col not in df.columns:
            logger.error(
                "id column %r not in table (columns: %s)",
                args.id_col, ", ".join(df.columns),
            )
            return 1
        back = write_training_shards(
            df, args.out_dir, id_col=args.id_col, n_shards=args.n_shards
        )
        n_dirs = sum(
            1 for p in Path(args.out_dir).iterdir()
            if p.name.startswith("shard_id=")
        )
        print(f"rows: {back.count()}  shards: {n_dirs}/{args.n_shards}")
        return 0

    if args.command == "export-splits":
        from pathlib import Path

        from .sources.writers import write_split_datasets

        if not Path(args.table_path).exists():
            logger.error("Not a table path: %s", args.table_path)
            return 1
        if not (
            0 < args.train_pct
            and 0 <= args.val_pct
            and args.train_pct + args.val_pct < 100
        ):
            logger.error(
                "percentages must satisfy 0 < train, 0 <= val, "
                "train + val < 100 (test gets the remainder); got "
                "train=%d val=%d", args.train_pct, args.val_pct,
            )
            return 1
        spark = get_spark("export-splits")
        df = spark.read.parquet(args.table_path)
        if args.text_col not in df.columns:
            logger.error(
                "text column %r not in table (columns: %s)",
                args.text_col, ", ".join(df.columns),
            )
            return 1
        back = write_split_datasets(
            df,
            args.out_dir,
            text_col=args.text_col,
            fractions=(args.train_pct, args.val_pct),
        )
        for row in (
            back.groupBy("split").count().orderBy("split").collect()
        ):
            print(f"{row['split']}: {row['count']} rows")
        return 0

    if args.command == "snapshot":
        from .sources import snapshot_table as st

        if args.action == "history":
            versions = st.snapshot_versions(args.root)
            if not versions:
                logger.error("No snapshots at %s", args.root)
                return 1
            for v in versions:
                m = st.read_manifest(args.root, v)
                print(
                    f"v{v}  mode={m['mode']:9s} "
                    f"files={st.manifest_n_files(m)} "
                    f"parent={m['parent']}"
                )
            return 0
        if args.action == "vacuum":
            try:
                out = st.vacuum(
                    args.root, keep_last=args.keep_last,
                    retention_seconds=args.retention,
                    min_age_seconds=args.min_age,
                )
            except ValueError as e:
                logger.error("%s", e)
                return 1
            print(
                f"dropped versions {out['dropped_versions']}, kept "
                f"{out['kept_versions']}, removed {out['removed_files']} files"
            )
            return 0
        if args.action == "maintain":
            try:
                out = st.maintain_snapshot(
                    args.root, keep_last=args.keep_last,
                    retention_seconds=args.retention,
                    min_age_seconds=args.min_age,
                )
            except ValueError as e:
                logger.error("%s", e)
                return 1
            rp = out["repacked"]
            rp_msg = (
                f"repacked -> v{rp['version']} "
                f"({rp['chunks_before']} -> {rp['chunks_after']} chunks)"
                if rp
                else f"no repack ({out['chunks_current']} chunks, "
                f"optimal {out['chunks_optimal']})"
            )
            vac = out["vacuum"]
            print(
                f"{rp_msg}; vacuum dropped {vac['dropped_versions']}, "
                f"kept {vac['kept_versions']}, removed "
                f"{vac['removed_files']} files"
            )
            return 0
        if args.action == "repack":
            out = st.repack_manifests(args.root)
            print(
                f"v{out['version']}: {out['n_files']} files, chunk "
                f"descriptors {out['chunks_before']} -> "
                f"{out['chunks_after']} (metadata only)"
            )
            return 0
        spark = get_spark(f"snapshot-{args.action}")
        if args.action == "read":
            version = args.version
            if args.as_of is not None:
                version = st.version_as_of(args.root, args.as_of)
            if args.prune:
                col, lo, hi = args.prune.split(",")

                def _num(s: str):
                    try:
                        return int(s)
                    except ValueError:
                        try:
                            return float(s)
                        except ValueError:
                            return s  # string-typed zone maps prune too

                df, info = st.read_snapshot_pruned(
                    spark, args.root, col, _num(lo), _num(hi),
                    version=version,
                )
                print(
                    f"zone maps: read {info['files_read']}/"
                    f"{info['files_total']} files "
                    f"({info['files_pruned']} pruned)"
                )
            else:
                df = st.read_snapshot(spark, args.root, version)
            df.show(args.limit, truncate=False)
            return 0
        if args.action == "compact":
            out = st.compact_snapshot(
                spark, args.root,
                target_file_bytes=args.target_mb * 1024 * 1024,
            )
            print(
                f"v{out['version']}: files {out['files_before']} -> "
                f"{out['files_after']} ({out['bytes_total']} bytes)"
            )
            return 0
        # merge
        keys = [k for k in args.keys.split(",") if k]
        if not args.source or not keys:
            logger.error("merge needs --source and --keys")
            return 1
        out = st.merge_snapshot(
            spark, args.root, spark.read.parquet(args.source), keys,
            delete_predicate=args.delete_predicate,
        )
        print(
            f"v{out['version']}: kept {out['files_kept']} files, "
            f"rewrote {out['files_rewritten']}, wrote "
            f"{out['n_files_new']} new"
        )
        return 0

    parser.print_help()
    return 0


if __name__ == "__main__":
    sys.exit(main())
