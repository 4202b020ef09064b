"""Partitioned text sink: the reference's 26 per-letter output files (S3).

Reference contract (``src/functions.cpp:146-164`` + golden fixtures):
one file per letter a..z, lines ``term:[id1 id2 …]`` ordered (df DESC,
term ASC), ids ascending, and **empty letters still produce an empty
file** (golden ``test_out_small/x.txt`` is 0 bytes).

Spark mapping:

- ``repartition('letter')`` + ``sortWithinPartitions(df DESC, term ASC)``
  then ``write.partitionBy('letter').text()``. Each task holds whole
  letters, so every ``letter=<c>/part-*.txt`` file is internally ordered;
  if hashing co-locates two letters in one task, each letter's file still
  receives its rows in sorted relative order.
- Spark (correctly, at scale) refuses to create output for empty
  partitions, so the a..z completeness guarantee is restored driver-side
  with 26 cheap metadata touches — not a data-path operation.

For exact one-file-per-letter parity (what the golden test checks) the
26-partition repartition is fine: 26 tasks is the contract's inherent
parallelism ceiling, exactly as the reference's 26 output files are.
"""

from __future__ import annotations

import os
import string

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduceindexer_spark.operators.index import index_lines


def write_index(postings: DataFrame, out_dir: str) -> None:
    """Write postings as per-letter sorted ``term:[ids]`` text files."""
    lines = index_lines(postings)
    (
        # Sort key leads with the partition column: FileFormatWriter demands
        # rows grouped by partition value and would otherwise inject its own
        # letter-only sort, destroying the (df, term) order.
        lines.repartition("letter")
        .sortWithinPartitions(F.asc("letter"), F.desc("df"), F.asc("term"))
        .select("letter", "line")
        .write.partitionBy("letter")
        .mode("overwrite")
        .text(out_dir)
    )
    # Restore the reference's "empty letters still exist" contract.
    for c in string.ascii_lowercase:
        d = os.path.join(out_dir, f"letter={c}")
        os.makedirs(d, exist_ok=True)


def read_index_letter(out_dir: str, letter: str) -> list[str]:
    """Read back one letter's lines in file order (test/inspection helper)."""
    d = os.path.join(out_dir, f"letter={letter}")
    lines: list[str] = []
    for name in sorted(os.listdir(d)):
        if name.startswith(("part-", "part_")) and not name.endswith(".crc"):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    return lines
