"""Output checks for the gate workloads.

Each gate's warm-up output is dumped as parquet. A gate whose oracle SQL
reads the data tables is compared to DuckDB the way tools/check_oracle.py
compares a Verify dump: columns sorted by name, rows in order, floats equal
as floats. A gate without such an oracle (its oracle is a fixture recorded at
another scale, or it has none) is compared to a content hash recorded from a
known-good commit in expected/hashes.json.
"""
import glob
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
HASHES = os.path.join(HERE, "expected", "hashes.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def read_dump(path):
    """The dumped frame as pandas, part files in partition order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def oracle_applies(sql):
    """Fixture oracles hold only at the scale the fixture was recorded at."""
    return "read_parquet(" not in sql


def compare_oracle(spark_df, duck_df):
    """None when equal, else the first difference (check_oracle.py's rules)."""
    import numpy as np
    import pandas as pd
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        return f"schema spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]) or pd.api.types.is_float_dtype(d[c]):
            a, b = s[c].astype(float).values, d[c].astype(float).values
            eq = (np.isnan(a) & np.isnan(b)) | (a == b)
        else:
            a, b = s[c].astype(str).values, d[c].astype(str).values
            eq = a == b
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}[row {i}] spark={a[i]!r} duck={b[i]!r}"
    return None


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else "%.9g" % (v + 0.0)
    if isinstance(v, (bytes, bytearray)):
        return "b:" + hashlib.sha1(v).hexdigest()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def content_hash(df):
    """Order-insensitive digest of a frame: columns by name, rows sorted,
    floats to 9 significant digits (exchange order may move a last bit)."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(v) for v in row)
                  for row in df[cols].astype(object).itertuples(index=False))
    h = hashlib.sha256(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def check_gates(workload, out_dir, data_dir, oracle_sql, warmup_errors,
                record=False):
    """Returns {gate: (ok, how, detail)}; with record=True, writes the
    content hashes of the hash-checked gates instead of comparing them."""
    expected = {}
    if os.path.exists(HASHES):
        with open(HASHES) as f:
            expected = json.load(f)
    mine = expected.setdefault(workload, {})
    con = None
    verdicts = {}
    gates = sorted(set(warmup_errors) | set(
        os.listdir(out_dir) if os.path.isdir(out_dir) else []))
    for gate in gates:
        if warmup_errors.get(gate):
            verdicts[gate] = (False, "error", warmup_errors[gate])
            continue
        df = read_dump(os.path.join(out_dir, gate))
        if df is None:
            verdicts[gate] = (False, "missing", "no output dumped")
            continue
        sql = oracle_sql.get(gate)
        if sql and oracle_applies(sql):
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet')")
            try:
                diff = compare_oracle(df, con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run is a failure
                diff = f"oracle error {e}"
            verdicts[gate] = (diff is None, "oracle", diff or "")
            continue
        got = content_hash(df)
        if record:
            mine[gate] = got
            verdicts[gate] = (True, "recorded", got)
        elif gate not in mine:
            verdicts[gate] = (False, "hash", "no recorded hash")
        else:
            verdicts[gate] = (got == mine[gate], "hash",
                              "" if got == mine[gate] else f"{got} != {mine[gate]}")
    if record:
        os.makedirs(os.path.dirname(HASHES), exist_ok=True)
        with open(HASHES, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    return verdicts
