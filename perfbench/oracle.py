"""Expected outputs: a digest of each query's canonical output under
the DuckDB oracle (``oracle_sql()``), with the canonical form of
``tools/check_oracle.py`` (columns by name, floats to 6 dp, rows
sorted)."""

from __future__ import annotations

import hashlib
import json
import os


def digest(canon, cols, rows) -> str:
    body = json.dumps([sorted(cols), canon([tuple(r) for r in rows], list(cols))])
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digests(data_dir: str, names: list[str], tmp_dir: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry
    from check_oracle import canon
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    sql = entry.oracle_sql()
    out = {}
    for name in names:
        res = con.execute(sql[name])
        out[name] = digest(canon, [d[0] for d in res.description], res.fetchall())
    con.close()
    return out
