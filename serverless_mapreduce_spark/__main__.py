"""Command-line entry point: ``python -m serverless_mapreduce_spark``.

The reference drives jobs from a CLI / HTTP surface (``driver/driver.py``
invoked per job; register/invoke/schedule endpoints in
``web_ui/app.py:196,370,417``). This module is the library's equivalent
out-of-process entry: list the registered queries, run one (with the
engine's resource report), print its optimized plan or its DuckDB oracle,
or run it on a fixed-rate schedule — all against any fixture directory.

Usage:
    python -m serverless_mapreduce_spark list
    python -m serverless_mapreduce_spark run tpch_q1 [--sf-dir D] [--show 5]
    python -m serverless_mapreduce_spark explain tpch_q1
    python -m serverless_mapreduce_spark oracle tpch_q1
    python -m serverless_mapreduce_spark schedule tpch_q1 --every 60 --times 3

On a real deployment the same commands run unchanged under spark-submit
(the session factory only sets confs that make sense everywhere), or
against a remote cluster via Spark Connect by exporting a remote URL the
builder picks up before ``getOrCreate``.
"""

from __future__ import annotations

import argparse
import json
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m serverless_mapreduce_spark",
        description="Run registered analytics queries from the command line.",
    )
    p.add_argument(
        "--sf-dir",
        default=DEFAULT_SF_DIR,
        help=f"fixture directory of parquet tables (default {DEFAULT_SF_DIR})",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="print registered query names")
    run = sub.add_parser("run", help="execute one query, print rows + report")
    run.add_argument("name")
    run.add_argument("--show", type=int, default=20, help="rows to print")
    exp = sub.add_parser("explain", help="print the optimized physical plan")
    exp.add_argument("name")
    orc = sub.add_parser("oracle", help="print the query's DuckDB oracle SQL")
    orc.add_argument("name")
    sch = sub.add_parser("schedule", help="run a query on a fixed-rate schedule")
    sch.add_argument("name")
    sch.add_argument("--every", type=float, required=True, help="seconds")
    sch.add_argument("--times", type=int, default=None, help="max runs")
    srv = sub.add_parser(
        "serve",
        help="serve the engine over HTTP (/jobs /run /status /report "
        "/explain /schedule /cancel — the reference web_ui analog)",
    )
    srv.add_argument("--host", default="127.0.0.1")
    srv.add_argument("--port", type=int, default=8950)
    return p


def main(argv: list[str] | None = None, spark=None, out=None) -> int:
    """CLI body; ``spark``/``out`` injectable so tests reuse a session and
    capture output without a subprocess JVM spin-up."""
    out = out if out is not None else sys.stdout
    args = build_parser().parse_args(argv)

    from serverless_mapreduce_spark import registry

    if args.cmd == "list":
        for name in registry.all_queries():
            print(name, file=out)
        return 0

    if args.cmd == "oracle":
        oracles = registry.all_oracles()
        if args.name not in oracles:
            print(f"no oracle registered for {args.name!r}", file=out)
            return 1
        print(oracles[args.name].strip(), file=out)
        return 0

    if args.cmd != "serve" and args.name not in registry.all_queries():
        print(f"unknown query {args.name!r} (see: list)", file=out)
        return 1

    if spark is None:
        from serverless_mapreduce_spark.session import get_spark

        spark = get_spark(app_name=f"smr-cli-{args.cmd}")

    from serverless_mapreduce_spark.engine import Engine
    from serverless_mapreduce_spark.session import jvm_archive_state

    eng = Engine(spark=spark, sf_dir=args.sf_dir)

    if args.cmd == "serve":
        from serverless_mapreduce_spark.webui import StatusServer

        server = StatusServer(eng, host=args.host, port=args.port)
        host, port = server.start()
        print(f"serving on http://{host}:{port}", file=out)
        try:
            assert server._thread is not None
            server._thread.join()
        except KeyboardInterrupt:
            server.stop()
        return 0

    if args.cmd == "explain":
        print(eng.explain(args.name), file=out)
        return 0

    if args.cmd == "run":
        df = eng.run(args.name)
        print(df.limit(args.show).toPandas().to_string(index=False), file=out)
        # how the driver JVM started: from the class-data archive or not
        print(f"jvm archive: {jvm_archive_state()}", file=out)
        print(json.dumps(eng.report(args.name), indent=2), file=out)
        return 0

    if args.cmd == "schedule":
        job = eng.schedule(args.name, every_s=args.every, max_runs=args.times)
        try:
            job.join()
        except KeyboardInterrupt:
            job.cancel()
        print(json.dumps(eng.report(args.name), indent=2), file=out)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
