"""CLI batch ingest + query entry point.

Reproduces the reference's argparse pipeline (reference
week_1/data_ingest/data_ingest.py:193-210 and §3.1 of SURVEY.md): fetch a
CSV/Parquet source (URL or local path), land it as a named table with a
write mode, run a SQL query over it, print/persist the result. Environment
variables back every flag the way the reference's Docker entrypoint injected
them (reference week_1/data_ingest/Dockerfile:15-23).

Usage:
    python -m data_engineering_zoomcamp_my_test_spark.cli \
        --source /data/trips.parquet --table ny_taxi \
        --if-exists replace --sql "SELECT COUNT(*) AS n FROM ny_taxi"
"""

from __future__ import annotations

import argparse
import os
import sys

from .plans.sql import preview
from .session import EngineConfig, get_spark
from .sinks.writers import save_table, write_parquet
from .sources.readers import read_source


def default_sql_query(table: str) -> str:
    """The reference's default query (data_ingest.py:18-19)."""
    return f"SELECT COUNT(*) AS n_rows FROM {table}"


def build_parser() -> argparse.ArgumentParser:
    env = os.environ.get
    p = argparse.ArgumentParser(
        prog="spark-engine-ingest",
        description="Ingest a CSV/Parquet source into a table and query it.",
    )
    p.add_argument("--source", default=env("ENGINE_SOURCE"), required=env("ENGINE_SOURCE") is None, help="URL or local path (.csv/.parquet)")
    p.add_argument("--table", default=env("ENGINE_TABLE", "ingested"), help="target table name")
    p.add_argument("--if-exists", default=env("ENGINE_IF_EXISTS", "replace"), choices=["replace", "append", "fail"])
    p.add_argument("--sql", default=env("ENGINE_SQL"), help="SQL to run after ingest (default: COUNT(*))")
    p.add_argument("--out", default=env("ENGINE_OUT"), help="optional parquet output path for the query result")
    p.add_argument("--show", type=int, default=20, help="rows to print")
    p.add_argument("--master", default=env("ENGINE_MASTER"), help="Spark master (default: the engine's local session)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    config = EngineConfig(app_name="cli-ingest")
    if args.master:
        config.master = args.master
    spark = get_spark(config)
    try:
        df = read_source(spark, args.source)
        written = save_table(df, args.table, if_exists=args.if_exists)
        print(
            f"table {args.table}: "
            + ("written" if written else "exists, skipped (if-exists=fail)")
        )
        sql = args.sql or default_sql_query(args.table)
        result = spark.sql(sql)
        print(preview(result, args.show))
        if args.out:
            write_parquet(result, args.out)
            print(f"result written to {args.out}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
