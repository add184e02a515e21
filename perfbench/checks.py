"""Output check for `corpus_curation`: each gate's output against its
DuckDB oracle SQL over the same input directory, canonicalized the way
the engine's correctness gate compares them (columns sorted by name, rows
sorted by every column, floats rounded to 9 places, one SHA-256 over the
cells)."""
import hashlib
import json
import os

import duckdb

from gen import TABLES

def canon_hash(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            h.update((repr(round(v, 9)) if isinstance(v, float) else str(v)).encode())
            h.update(b"|")
        h.update(b"\n")
    return h.hexdigest()


def check_gates(data_dir, out_dir):
    """Returns {gate: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for gate in sorted(d for d in os.listdir(out_dir) if not d.endswith(".json")):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{gate}/*.parquet')").df()
            if gate not in oracle:
                result[gate] = "no oracle SQL"
                continue
            want = con.execute(oracle[gate]).df()
            if sorted(got.columns) != sorted(want.columns):
                result[gate] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                result[gate] = f"rows {len(got)} != {len(want)}"
            elif canon_hash(got) != canon_hash(want):
                result[gate] = "hash mismatch"
            else:
                result[gate] = None
        except Exception as e:  # an unreadable output is a failed check
            result[gate] = f"error: {e}"
    return result
