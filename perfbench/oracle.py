"""Replay of the catalog's DuckDB oracles against the outputs the engine
wrote during the untimed warm-up: same columns, same row count, and the same
sorted-row hash (floats compared at 9 significant digits)."""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _lines(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)


def _digest(lines):
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def replay(data_dir, out_dir, oracle_file, perturb=False):
    """Returns (checked, failures): one entry per oracled query."""
    with open(oracle_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for i, name in enumerate(sorted(oracles)):
        path = os.path.join(out_dir, name)
        try:
            r = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            scols, srows = [d[0] for d in r.description], r.fetchall()
            r = con.execute(oracles[name])
            ocols, orows = [d[0] for d in r.description], r.fetchall()
        except Exception as e:  # a missing output or a failing oracle both fail the check
            failures.append(f"{name}: {str(e).splitlines()[0]}")
            continue
        if perturb and i == 0:
            srows = srows[1:] if srows else [tuple(None for _ in scols)]
        if sorted(scols) != sorted(ocols):
            failures.append(f"{name}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
        elif len(srows) != len(orows):
            failures.append(f"{name}: {len(srows)} rows vs oracle {len(orows)}")
        elif _digest(_lines(scols, srows)) != _digest(_lines(ocols, orows)):
            failures.append(f"{name}: row hash differs from the oracle")
    return len(oracles), failures
