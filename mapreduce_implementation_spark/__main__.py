"""CLI — drop-in equivalent of the reference binary's interface.

Reference (mapreduce.c:547-566):
    ./mapreduce --input DIR/ --output DIR/ --nworkers W --nreduce R [--sort]

Here:
    python -m mapreduce_implementation_spark \
        --input DIR --output DIR [--nworkers W] [--nreduce R] [--sort] [--single-file]

Job A (default): word count, `word,count` lines ordered count desc then
word desc (golden-compatible with outputdir/output.txt).
Job B (--sort): global integer sort, one int per line
(golden-compatible with sort_outputdir/output.txt).

Mapping of the reference's knobs: --nworkers (mapper fork count) has no
Spark equivalent — input parallelism comes from file splits — so it is
accepted and sets local core count; --nreduce R becomes the shuffle /
output partition count.  Unlike the reference, trailing slashes are
optional and output is a directory of parts unless --single-file.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="mapreduce_implementation_spark",
        description="Word count / distributed sort over a directory of text files.",
    )
    ap.add_argument("--input", required=True, help="input directory of text files")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--nworkers", type=int, default=0,
                    help="reference compat: local parallelism (0 = all cores)")
    ap.add_argument("--nreduce", type=int, default=0,
                    help="number of reduce/output partitions (0 = auto)")
    ap.add_argument("--sort", action="store_true", help="run Job B (integer sort)")
    ap.add_argument("--single-file", action="store_true",
                    help="merge to one part (reference parity; avoid at scale)")
    args = ap.parse_args(argv)

    if args.nworkers > 0:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.nworkers)

    from pyspark.sql import functions as F

    from .operators.sort import distributed_sort
    from .operators.text import word_count
    from .session import get_spark
    from .sources.sinks import write_text
    from .sources.tables import read_int_lines, read_text_dir

    spark = get_spark("mapreduce_cli",
                      shuffle_partitions=args.nreduce if args.nreduce > 0 else None)

    if args.sort:
        df = read_int_lines(spark, args.input)
        out = distributed_sort(
            df, "n", num_partitions=args.nreduce if args.nreduce > 0 else None
        ).select(F.col("n").cast("string").alias("value"))
    else:
        counts = word_count(read_text_dir(spark, args.input))
        out = counts.select(F.concat_ws(",", "word", "cnt").alias("value"))

    write_text(out, args.output, single_file=args.single_file)
    print(f"wrote {args.output}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
