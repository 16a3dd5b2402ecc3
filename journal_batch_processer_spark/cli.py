"""Command-line pipeline driver — the reference's CLI surface
(``BatchUpdate.py <file> {-f|-s|-u}``, :114-136) on the Spark engine.

Differences by design:
- the interactive "update without reviewing?" gate (:127-132) becomes
  an explicit ``--yes`` flag;
- ``--strict-reference-mode`` reproduces the reference's latent bugs
  bit-for-bit (SURVEY.md §7.4).

Usage:
    python -m journal_batch_processer_spark.cli input.csv -f -s \
        [--out-dir DIR] [--strict-reference-mode] [--single-file]
    python -m journal_batch_processer_spark.cli s_input.csv -u \
        --items-remote remote.parquet --yes
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from journal_batch_processer_spark.pipeline import (
    format_stage,
    split_stage,
    update_stage,
)
from journal_batch_processer_spark.session import get_spark
from journal_batch_processer_spark.sinks.csv_sink import write_stage_csv
from journal_batch_processer_spark.sources.csv_source import read_items_csv


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="journal-batch-processer-spark",
        description="format/split/update item-record pipeline on Spark",
    )
    ap.add_argument("input_csv")
    ap.add_argument("-f", "--format", action="store_true", dest="do_format")
    ap.add_argument("-s", "--split", action="store_true", dest="do_split")
    ap.add_argument("-u", "--update", action="store_true", dest="do_update")
    ap.add_argument("--out-dir", default=".")
    ap.add_argument("--items-remote", help="parquet path of the remote item store")
    ap.add_argument("--yes", action="store_true", help="skip the update confirmation")
    ap.add_argument("--strict-reference-mode", action="store_true")
    ap.add_argument("--single-file", action="store_true")
    ap.add_argument("--window-impute", action="store_true",
                    help="use the window fast path for year imputation")
    ap.add_argument("--corpus", action="store_true",
                    help="pretraining-corpus mode: input is a documents "
                         "parquet; runs gate→scrub→dedup→split and writes "
                         "a split-partitioned lake layout to --out-dir")
    args = ap.parse_args(argv)

    if args.corpus:
        from journal_batch_processer_spark.corpus import write_corpus_lake

        spark = get_spark("jbp-corpus")
        t0 = time.time()
        docs = spark.read.parquet(args.input_csv)
        write_corpus_lake(docs, args.out_dir)
        print(f"Corpus lake written to {args.out_dir}")
        print(f"Time to complete: {round(time.time() - t0, 2)} seconds")
        return 0

    if not (args.do_format or args.do_split or args.do_update):
        ap.error("choose at least one of -f / -s / -u")
    if args.do_update and (args.do_format or args.do_split) and not args.yes:
        print("Refusing to update without review; pass --yes to confirm.")
        return 1
    if args.do_update and not args.items_remote:
        ap.error("-u requires --items-remote (or use the HTTP path in code)")

    spark = get_spark("jbp-cli")
    t0 = time.time()
    df = read_items_csv(spark, args.input_csv, args.strict_reference_mode)
    name = os.path.basename(args.input_csv)

    if args.do_format:
        df = format_stage(df)
        out = write_stage_csv(df, args.out_dir, "f_", name,
                              args.single_file, args.strict_reference_mode)
        print(f"Formatted data written to {out}")
        name = os.path.basename(out)
        df = read_items_csv(spark, out, args.strict_reference_mode)
    if args.do_split:
        df = split_stage(
            df,
            strict_reference_mode=args.strict_reference_mode,
            exact_year_impute=not args.window_impute,
        )
        out = write_stage_csv(df, args.out_dir, "s_", name,
                              args.single_file, args.strict_reference_mode)
        print(f"Pattern-matched data written to {out}")
        name = os.path.basename(out)
        df = read_items_csv(spark, out, args.strict_reference_mode)
    if args.do_update:
        remote = spark.read.parquet(args.items_remote)
        res = update_stage(df, remote)
        suc = write_stage_csv(res.success, args.out_dir, "suc_", name,
                              args.single_file, args.strict_reference_mode)
        err = write_stage_csv(res.error, args.out_dir, "err_", name,
                              args.single_file, args.strict_reference_mode)
        print(f"File written at {suc}")
        print(f"File written at {err}")

    print(f"Time to complete: {round(time.time() - t0, 2)} seconds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
