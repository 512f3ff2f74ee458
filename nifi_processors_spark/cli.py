"""spark-submit entry point for the CDC apply loop.

On a real cluster (the north rule's deployment shape)::

    zip -r nifi_processors_spark.zip nifi_processors_spark
    spark-submit --py-files nifi_processors_spark.zip \\
        -m nifi_processors_spark.cli \\
        apply --table hdfs:///lake/repo_files --changelog s3a://bucket/changelog \\
              --state hdfs:///lake/_state --buckets 4096

URI paths (hdfs://, s3a://, file:) are supported end-to-end: data files
go through Spark's readers/writers, and the engine's metadata layer
(snapshots, markers, metrics) goes through Hadoop's FileSystem
via plans/fsio.py (exercised in tests/test_fsio.py with file: URIs).
Replaced pointer files (VERSION, REFS, view pointers) use numbered generation files
on remote stores — readers never observe a missing pointer mid-swap; on
raw S3 the only remaining caveat is write-once visibility of the data
files themselves (front them with a catalog for multi-writer setups).

Locally (this sandbox) the same module runs under ``python -m``. The
SparkSession comes from spark-submit's conf when present; local settings
are only applied as fallbacks (session.get_spark).
"""

from __future__ import annotations

import argparse
import json
import sys

from .operators.apply import ChangeApplier
from .session import get_spark
from .sources.genlog import GenLogConfig, write_change_log


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nifi_processors_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ap_cmd = sub.add_parser("apply", help="apply all pending changelog epochs")
    ap_cmd.add_argument("--table", required=True)
    ap_cmd.add_argument("--changelog", required=True)
    ap_cmd.add_argument("--state", required=True)
    ap_cmd.add_argument("--buckets", type=int, default=32)
    ap_cmd.add_argument("--rename-hint", action="append", default=[],
                        help="new=old payload column rename hint (repeatable)")
    ap_cmd.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    ap_cmd.add_argument("--compact-every", type=int, default=None)
    ap_cmd.add_argument("--expire-snapshots-every", type=int, default=None,
                        help="expire old snapshots every N applied epochs")
    ap_cmd.add_argument("--keep-snapshots", type=int, default=2)
    ap_cmd.add_argument("--expire-tombstones-every", type=int, default=None,
                        help="expire old delete tombstones every N applied epochs")
    ap_cmd.add_argument("--tombstone-lateness", type=int, default=1000,
                        help="commit_seq slack kept above the expiry watermark; "
                        "must exceed the stream's real commit disorder")
    ap_cmd.add_argument("--view", action="append", default=[],
                        help="maintained rollup: name=grp1,grp2[:val1,val2] "
                        "(repeatable); refreshed from the change feed after "
                        "every applied epoch")
    ap_cmd.add_argument("--outbox", action="store_true",
                        help="publish each applied epoch's row-level change "
                        "feed to <state>/outbox (CDC output segments)")

    mt_cmd = sub.add_parser("maintain", help="one ad-hoc maintenance pass "
                            "(expire tombstones + snapshots)")
    mt_cmd.add_argument("--table", required=True)
    mt_cmd.add_argument("--changelog", required=True)
    mt_cmd.add_argument("--state", required=True)
    mt_cmd.add_argument("--keep-snapshots", type=int, default=2)
    mt_cmd.add_argument("--tombstone-watermark", type=int, default=None,
                        help="drop delete tombstones below this commit_seq "
                        "(omit to only expire snapshots)")

    rb_cmd = sub.add_parser("rebucket", help="change the table's bucket count "
                            "(one clustered rewrite; apply loop picks it up)")
    rb_cmd.add_argument("--table", required=True)
    rb_cmd.add_argument("--buckets", type=int, required=True)

    cl_cmd = sub.add_parser("cluster", help="sort-clustered rewrite: tight "
                            "per-file ranges on the sort columns for scan pruning")
    cl_cmd.add_argument("--table", required=True)
    cl_cmd.add_argument("--by", required=True, action="append",
                        help="sort column (repeatable, order matters)")
    cl_cmd.add_argument("--max-rows-per-file", type=int, default=None,
                        dest="max_rows_per_file")
    cl_cmd.add_argument("--zorder", action="store_true",
                        help="Morton-interleave the sort columns (tight "
                        "per-file ranges on EVERY column, not just the first)")

    ch_cmd = sub.add_parser("changes", help="Delta-CDF-style change feed "
                            "between two snapshots (manifest-pruned)")
    ch_cmd.add_argument("--table", required=True)
    ch_cmd.add_argument("--from-snapshot", type=int, required=True, dest="from_snapshot")
    ch_cmd.add_argument("--to-snapshot", type=int, default=None, dest="to_snapshot",
                        help="defaults to the current snapshot")
    ch_cmd.add_argument("--out", default=None,
                        help="write the feed as parquet here; omit to print a summary")

    ro_cmd = sub.add_parser("rollback", help="roll back to a previous snapshot "
                            "as a new commit (no data rewritten; history kept)")
    ro_cmd.add_argument("--table", required=True)
    ro_cmd.add_argument("--to-snapshot", type=int, required=True, dest="to_snapshot")

    tg_cmd = sub.add_parser("tag", help="set / list / drop named snapshot refs")
    tg_cmd.add_argument("--table", required=True)
    tg_cmd.add_argument("--name", default=None,
                        help="ref name to set (omit to just list refs)")
    tg_cmd.add_argument("--snapshot", type=int, default=None,
                        help="snapshot id (defaults to current)")
    tg_cmd.add_argument("--drop", action="store_true",
                        help="drop --name instead of setting it")

    pb_cmd = sub.add_parser("publish", help="fast-forward VERSION to a snapshot "
                            "staged with publish=False (write-audit-publish)")
    pb_cmd.add_argument("--table", required=True)
    pb_cmd.add_argument("--snapshot", type=int, required=True)
    pb_cmd.add_argument("--abort", action="store_true",
                        help="discard the staged snapshot instead of publishing")

    gen_cmd = sub.add_parser("generate", help="write a deterministic synthetic changelog")
    gen_cmd.add_argument("--out", required=True)
    gen_cmd.add_argument("--events", type=int, default=100_000)
    gen_cmd.add_argument("--epochs", type=int, default=8)
    gen_cmd.add_argument("--seed", type=int, default=42)
    gen_cmd.add_argument("--evolve-at", type=int, default=None)

    st_cmd = sub.add_parser("state", help="print table state row count + schema")
    st_cmd.add_argument("--table", required=True)
    st_cmd.add_argument("--changelog", required=True)
    st_cmd.add_argument("--state", required=True)

    args = p.parse_args(argv)
    spark = get_spark("nifi_processors_spark.cli")

    if args.cmd == "rebucket":
        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        before = t.snapshot()["n_buckets"]
        sid = t.rebucket(args.buckets)
        print(json.dumps({"snapshot_id": sid, "from": before, "to": args.buckets}))
        return 0

    if args.cmd == "cluster":
        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        sid = t.cluster(args.by, max_rows_per_file=args.max_rows_per_file,
                        zorder=args.zorder)
        print(json.dumps({"snapshot_id": sid, "clustered_by": args.by,
                          "zorder": args.zorder}))
        return 0

    if args.cmd == "changes":
        from pyspark.sql import functions as F

        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        to_sid = (t.current_snapshot_id() if args.to_snapshot is None
                  else args.to_snapshot)
        feed = t.changes(args.from_snapshot, to_sid)
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
            summary = spark.read.parquet(args.out)
        else:
            summary = feed
        counts = {r["_change_type"]: r["n"] for r in
                  summary.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
        print(json.dumps({"from_snapshot": args.from_snapshot, "to_snapshot": to_sid,
                          "written": args.out, "change_counts": counts}))
        return 0

    if args.cmd == "rollback":
        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        sid = t.rollback(args.to_snapshot)
        print(json.dumps({"snapshot_id": sid, "restored": args.to_snapshot}))
        return 0

    if args.cmd == "tag":
        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        if args.name and args.drop:
            t.drop_ref(args.name)
        elif args.name:
            t.set_ref(args.name, args.snapshot)
        print(json.dumps({"refs": t.refs()}))
        return 0

    if args.cmd == "publish":
        from .plans.table import IceliteTable

        t = IceliteTable(spark, args.table)
        if args.abort:
            t.abort_staged(args.snapshot)
            print(json.dumps({"aborted": args.snapshot}))
        else:
            t.publish_snapshot(args.snapshot)
            print(json.dumps({"published": args.snapshot}))
        return 0

    if args.cmd == "generate":
        cfg = GenLogConfig(n_events=args.events, n_epochs=args.epochs,
                           seed=args.seed, evolve_at_epoch=args.evolve_at)
        write_change_log(spark, cfg, args.out)
        print(json.dumps({"written": args.out, "events": args.events, "epochs": args.epochs}))
        return 0

    hints = dict(h.split("=", 1) for h in getattr(args, "rename_hint", []))
    views: dict[str, tuple[list[str], list[str]]] = {}
    for spec in getattr(args, "view", []):
        name, _, cols = spec.partition("=")
        if not name or not cols:
            raise SystemExit(f"--view needs name=grp1,grp2[:val1,val2], got {spec!r}")
        grp, _, vals = cols.partition(":")
        views[name] = ([c for c in grp.split(",") if c],
                       [c for c in vals.split(",") if c])
    applier = ChangeApplier(
        spark, args.table, args.changelog, args.state,
        n_buckets=getattr(args, "buckets", 32),
        rename_hints=hints or None,
        merge_mode=getattr(args, "merge_mode", "cow"),
        compact_every=getattr(args, "compact_every", None),
        expire_snapshots_every=getattr(args, "expire_snapshots_every", None),
        keep_snapshots=getattr(args, "keep_snapshots", 2),
        expire_tombstones_every=getattr(args, "expire_tombstones_every", None),
        tombstone_lateness=getattr(args, "tombstone_lateness", 1000),
        views=views or None,
        outbox=getattr(args, "outbox", False),
    )
    if args.cmd == "apply":
        for rec in applier.run():
            print(json.dumps(rec))
        return 0
    if args.cmd == "state":
        df = applier.state()
        print(json.dumps({"rows": df.count(), "schema": df.schema.simpleString()}))
        return 0
    if args.cmd == "maintain":
        from .plans.table import IceliteTable

        out: dict = {}
        t = IceliteTable(spark, args.table)
        if args.tombstone_watermark is not None:
            out["tombstone_snapshot"] = t.expire_tombstones(args.tombstone_watermark)
        out["expired_snapshots"] = t.expire_snapshots(args.keep_snapshots)
        print(json.dumps(out))
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
