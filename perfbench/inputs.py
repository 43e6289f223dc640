"""Seeded benchmark inputs.

The table contents are fixed: the committed base fixture (`fixture/`), or a
`GrowFixture` cut of it. The seed only permutes the row order inside each
parquet file, keeping the file count, the row count of every file, the
schema and the physical column types. So the same seed gives byte-identical
files, and every seed gives the same oracle answers.
"""
import os
import shutil
import zlib

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def table_files(path):
    """The parquet files of one table: the file itself, or the part files
    of a Spark-written directory in name order (`part-NNNNN-...`)."""
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _permute_file(src, dst, seed, key):
    meta = pq.ParquetFile(src).metadata
    int96 = any(meta.schema.column(i).physical_type == "INT96"
                for i in range(meta.num_columns))
    table = pq.read_table(src)
    rng = np.random.default_rng([seed, zlib.crc32(key.encode())])
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, dst, compression="snappy",
                   use_deprecated_int96_timestamps=int96,
                   row_group_size=max(1, meta.row_group(0).num_rows)
                   if meta.num_row_groups else None)


def permute(base, out, seed):
    """Write `base`'s tables to `out` with each file's rows permuted by
    `seed`. A single-file table stays one file; a directory table keeps
    its part files, renamed `part-NNNNN.parquet` in order."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in TABLES:
        src = os.path.join(base, f"{t}.parquet")
        files = table_files(src)
        if os.path.isfile(src):
            _permute_file(src, os.path.join(tmp, f"{t}.parquet"), seed, t)
            continue
        os.makedirs(os.path.join(tmp, f"{t}.parquet"))
        for i, f in enumerate(files):
            _permute_file(f, os.path.join(tmp, f"{t}.parquet", f"part-{i:05d}.parquet"),
                          seed, f"{t}/{i}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def describe(inputs):
    """Rows and bytes per table of an input directory."""
    out = {}
    for t in TABLES:
        files = table_files(os.path.join(inputs, f"{t}.parquet"))
        out[t] = {"files": len(files),
                  "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                  "bytes": sum(os.path.getsize(f) for f in files)}
    return out
