"""Correctness check: each op's output against its DuckDB oracle.

Outputs are compared in the canonical form `tools/check.py` uses:
columns sorted by name, floats as `%.6g`, bytes as hex, rows as a
multiset. Each side is reduced to a fingerprint (row count and a digest
of the sorted canonical rows). Expected fingerprints are cached per
input content and oracle text, so they are computed once.
"""
import glob
import hashlib
import json
import os

import duckdb


def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif isinstance(v, (bytes, bytearray)):
                vals.append(v.hex())
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    return rows


def fingerprint(df):
    h = hashlib.sha256()
    rows = sorted(canon(df))
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def corrupted(fp):
    """The fingerprint with one digest character changed: the negative
    self-check feeds it to `matches`, which must reject it."""
    d = fp["digest"]
    return {"rows": fp["rows"], "digest": ("0" if d[0] != "0" else "1") + d[1:]}


def matches(expected, actual):
    return expected["rows"] == actual["rows"] and expected["digest"] == actual["digest"]


class Oracle:
    def __init__(self, input_dir, cache_dir, content_key):
        self.cache_dir = cache_dir
        self.content_key = content_key
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect()
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(input_dir, f)
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def expected(self, op, sql):
        key = hashlib.sha256(f"{self.content_key}\n{sql}".encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{op}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        fp = fingerprint(self.con.execute(sql).fetchdf())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(fp, f)
        os.replace(tmp, path)
        return fp

    def actual(self, out_dir, op):
        files = sorted(glob.glob(os.path.join(out_dir, op, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"{op}: no output written")
        listed = ", ".join(f"'{p}'" for p in files)
        return fingerprint(self.con.execute(f"SELECT * FROM read_parquet([{listed}])").fetchdf())

    def close(self):
        self.con.close()
