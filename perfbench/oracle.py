"""DuckDB oracle: runs the engine's own `SparkEntry.oracleSql` over the same
generated files and digests the rows with `digest.digest`."""

import json
import os

import duckdb

from digest import digest
from gen import TABLES


def connect(data_dir):
    con = duckdb.connect(config={"threads": max(1, min(4, os.cpu_count() or 1))})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_digests(data_dir, sqls):
    """{key: digest} of each oracle query; a query DuckDB cannot run maps to
    an error string, which never equals a digest."""
    con = connect(data_dir)
    out = {}
    for key, sql in sqls.items():
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[key] = digest(cols, cur.fetchall())
        except duckdb.Error as e:
            out[key] = f"duckdb error: {e}"
    con.close()
    return out


def load_expected(path, content, problems):
    """Expected curate digests for one corpus content digest. Digests are
    valid only for the content they were computed on, so unknown content is
    reported as a problem rather than checked against stale values."""
    saved = {}
    if os.path.exists(path):
        with open(path) as f:
            saved = json.load(f)
    if content not in saved:
        problems.append(f"no expected digests for corpus content {content[:12]} in "
                        f"{os.path.basename(path)}: compute them with --write-expected")
        return {}
    return saved[content]


def save_expected(path, content, digests):
    saved = {}
    if os.path.exists(path):
        with open(path) as f:
            saved = json.load(f)
    saved[content] = dict(sorted(digests.items()))
    with open(path, "w") as f:
        json.dump(saved, f, indent=1, sort_keys=True)
        f.write("\n")
