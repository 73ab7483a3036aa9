"""Output checks: order-insensitive result digests against DuckDB.

Each batch query's result is reduced to a digest of its sorted,
canonicalised rows and compared with the digest of the query's DuckDB
oracle run over the same parquet files. Oracle digests depend only on
the tables, so they are computed once per data directory and cached
beside the tables.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from pathlib import Path

import numpy as np
import pandas as pd

from flink_framework_spark.io import TABLES


def _cell(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, float):
        # 12 significant digits: summation order differs between the
        # engines in the last bits, never in what a query rounds to
        return "null" if math.isnan(v) else f"f{v + 0.0:.12g}"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (dt.datetime, dt.date)):
        return f"t{v.isoformat()}"
    return f"s{v}"


def digest(df: pd.DataFrame) -> dict:
    """Row count and sha256 of the sorted canonical rows."""
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def oracle_digests(data_dir: Path, oracles: dict[str, str]) -> dict[str, dict]:
    """Digest of each oracle's result on ``data_dir``; computes and
    caches the ones not yet in ``oracle_digests.json``."""
    import duckdb

    path = data_dir / "oracle_digests.json"
    cache = json.loads(path.read_text()) if path.exists() else {}
    missing = [n for n in oracles if n not in cache]
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')"
                )
            for name in missing:
                cache[name] = digest(con.execute(oracles[name]).fetchdf())
        finally:
            con.close()
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
        os.replace(tmp, path)
    return {n: cache[n] for n in oracles}
