"""Order-insensitive fingerprints of query outputs.

Values are canonicalized the way tools/compare.py does before its DuckDB
diff: columns sorted by name, floats rounded to 6 decimal places with -0.0
folded into 0.0 and rendered with repr, timestamps as ISO strings, arrays
as JSON lists of strings, everything else as an int64 where it converts.
Each canonical row is hashed and the row hashes are summed modulo 2**64, so
neither row order nor column order changes the fingerprint.
"""
import hashlib
import json

import pandas as pd


def _cell(v):
    if isinstance(v, (list, tuple)):
        return json.dumps([str(x) for x in v])
    if hasattr(v, "tolist") and not isinstance(v, str):
        return json.dumps([str(x) for x in v.tolist()])
    if isinstance(v, dict):
        return json.dumps({str(k): str(x) for k, x in v.items()}, sort_keys=True)
    return v


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype in ("float64", "float32"):
            df[c] = (df[c].astype("float64").round(6) + 0.0).map(repr)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif df[c].dtype == "object":
            df[c] = df[c].apply(_cell)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                pass
    return df.reset_index(drop=True)


def fingerprint(df):
    """{"rows", "cols", "hash"} of a DataFrame, independent of row order."""
    df = canon(df)
    total = 0
    for row in df.itertuples(index=False, name=None):
        line = "\x1f".join(str(v) for v in row).encode("utf-8")
        total += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")
    return {"rows": len(df), "cols": list(df.columns), "hash": f"{total % 2**64:016x}"}


def fingerprint_dir(path):
    return fingerprint(pd.read_parquet(path))
