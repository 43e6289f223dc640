"""Oracle check of the program's outputs.

Each query's output (one parquet directory per query, written by the
harness outside the timed window) is compared with the DuckDB result of
the query's `SparkEntry.oracleSql` entry over the workload's tables. The
compare itself is the repository's dtype-strict one
(`scripts/check_oracle.py`): column names, dtypes and a row hash.
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
import check_oracle  # noqa: E402

from inputs import TABLES, table_files  # noqa: E402


def connect(inputs):
    """A DuckDB connection with one view per input table."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        files = table_files(os.path.join(inputs, f"{t}.parquet"))
        if files:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    return con


def oracle_answers(inputs, oracle_sql):
    """Each query's oracle result over `inputs`, normalized (columns
    sorted by name), or the error its SQL raised."""
    con = connect(inputs)
    answers = {}
    for q, sql in oracle_sql.items():
        try:
            answers[q] = check_oracle.normalize(con.execute(sql).fetchdf())
        except Exception as e:  # a broken oracle fails the query's check
            answers[q] = f"oracle SQL error: {type(e).__name__}: {e}"
    return answers


def check(answers, out_dir, queries):
    """{query: (ok, message)}: each query's output under `out_dir/outputs`
    against its oracle answer."""
    results = {}
    for q in queries:
        ref = answers[q]
        mine = check_oracle.load_spark(os.path.join(out_dir, "outputs", q))
        if isinstance(ref, str):
            results[q] = (False, ref)
        elif mine is None:
            results[q] = (False, "no output")
        else:
            try:
                results[q] = check_oracle.compare(q, check_oracle.normalize(mine), ref)
            except Exception as e:  # a crashing compare is a failed check
                results[q] = (False, f"{type(e).__name__}: {e}")
    return results
