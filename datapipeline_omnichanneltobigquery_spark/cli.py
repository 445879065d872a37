"""Headless command-line face of the engine — what the reference exposes as
a Tkinter form (omnichannel_to_bq.py:203-313), re-expressed as the batch CLI a
cluster deployment actually runs (`spark-submit` / cron friendly):

    python -m datapipeline_omnichanneltobigquery_spark.cli query q1_pricing_summary \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/q1 --show 5
    python -m datapipeline_omnichanneltobigquery_spark.cli prepare \\
        --sf-dir /root/testdata/sf0.01 --out /tmp/corpus --min-quality 0.7
    python -m datapipeline_omnichanneltobigquery_spark.cli profile orders \\
        --sf-dir /root/testdata/sf0.01
    python -m datapipeline_omnichanneltobigquery_spark.cli list

Each subcommand builds ONE lazy plan and ends in a single action (parquet
write or a bounded show) — no driver-side loops.
"""

from __future__ import annotations

import argparse
import sys

import pyspark.sql.functions as F

from datapipeline_omnichanneltobigquery_spark.sources.tables import TABLES, read_table


def _spark(args):
    from datapipeline_omnichanneltobigquery_spark.session import get_spark

    return get_spark(app_name=f"cli-{args.cmd}", master=args.master)


def _emit(df, out: str | None, show: int) -> None:
    if out:
        df.write.mode("overwrite").parquet(out)
        print(f"wrote {out}")
    if show:
        for row in df.limit(show).collect():
            print(dict(row.asDict()))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datapipeline_omnichanneltobigquery_spark")
    p.add_argument("--master", default="local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--out", default=None)
    q.add_argument("--show", type=int, default=0)

    pr = sub.add_parser("prepare", help="one-call corpus prep (dedup→decontam→quality→split)")
    pr.add_argument("--sf-dir", required=True)
    pr.add_argument("--out", default=None)
    pr.add_argument("--show", type=int, default=0)
    pr.add_argument("--min-quality", type=float, default=0.5)
    pr.add_argument("--bench-mod", type=int, default=29,
                    help="doc_id %% MOD == bench-rem selects the eval slice")
    pr.add_argument("--bench-rem", type=int, default=7)

    pf = sub.add_parser("profile", help="single-pass column profile of a table")
    pf.add_argument("table", choices=TABLES)
    pf.add_argument("--sf-dir", required=True)
    pf.add_argument("--approx", action="store_true")
    pf.add_argument("--out", default=None)
    pf.add_argument("--show", type=int, default=100)

    sub.add_parser("list", help="list registered queries (gated + extras)")

    args = p.parse_args(argv)

    from datapipeline_omnichanneltobigquery_spark.plans import queries as qmod  # noqa: F401
    from datapipeline_omnichanneltobigquery_spark.plans.queries import (
        EXTRA_QUERIES,
        QUERIES,
    )
    import datapipeline_omnichanneltobigquery_spark.plans.llm_ops  # noqa: F401
    import datapipeline_omnichanneltobigquery_spark.plans.persistence  # noqa: F401
    import datapipeline_omnichanneltobigquery_spark.plans.relational  # noqa: F401
    import datapipeline_omnichanneltobigquery_spark.plans.relational2  # noqa: F401
    import datapipeline_omnichanneltobigquery_spark.plans.tpch_shapes  # noqa: F401

    if args.cmd == "list":
        for name in sorted(QUERIES):
            print(f"{name}  [gated]")
        for name in sorted(EXTRA_QUERIES):
            print(name)
        return 0

    spark = _spark(args)
    if args.cmd == "query":
        registry = {**QUERIES, **EXTRA_QUERIES}
        if args.name not in registry:
            print(f"unknown query {args.name!r}; try the 'list' subcommand", file=sys.stderr)
            return 2
        _emit(registry[args.name](spark, args.sf_dir), args.out, args.show)
        return 0

    if args.cmd == "prepare":
        from datapipeline_omnichanneltobigquery_spark.operators.corpus_prep import prepare_corpus

        docs = read_table(spark, args.sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") % args.bench_mod == args.bench_rem)
        train = docs.filter(F.col("doc_id") % args.bench_mod != args.bench_rem)
        out = prepare_corpus(train, bench, "doc_id", "text", min_quality=args.min_quality)
        _emit(out, args.out, args.show)
        return 0

    if args.cmd == "profile":
        from datapipeline_omnichanneltobigquery_spark.operators.profile import profile_columns

        df = read_table(spark, args.sf_dir, args.table)
        _emit(profile_columns(df, approx=args.approx), args.out, args.show)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
