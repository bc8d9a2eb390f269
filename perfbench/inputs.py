"""Seeded benchmark inputs.

Each run rewrites the source tables into its own input directory: the
same rows, in a seeded order, cut into parquet row groups at seeded
points. Every table stays one file named `<table>.parquet`, because
some ops select their input by that file name.
"""
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

ROW_GROUPS = 8
JITTER = 0.3


def tables(source):
    names = sorted(f[:-len(".parquet")] for f in os.listdir(source)
                   if f.endswith(".parquet"))
    if not names:
        raise ValueError(f"no parquet tables in {source}")
    return names


def split(rows, rng):
    """Seeded cut points for ROW_GROUPS row groups: even spacing moved by
    up to JITTER of a group, so each seed cuts differently while the
    read parallelism stays the same."""
    groups = min(ROW_GROUPS, rows)
    step = rows / groups
    cuts = [int(round(step * (i + rng.uniform(-JITTER, JITTER)))) for i in range(1, groups)]
    return sorted({c for c in cuts if 0 < c < rows})


def rewrite(source, dest, seed):
    """Writes every table of `source` into `dest`, shuffled and split
    by `seed`. The same seed gives the same row order and cuts."""
    os.makedirs(dest, exist_ok=True)
    for i, name in enumerate(tables(source)):
        t = pq.read_table(os.path.join(source, f"{name}.parquet"))
        rng = np.random.default_rng([seed, i])
        t = t.take(rng.permutation(t.num_rows))
        cuts = split(t.num_rows, rng)
        path = os.path.join(dest, f"{name}.parquet")
        tmp = path + ".tmp"
        with pq.ParquetWriter(tmp, t.schema) as w:
            for a, b in zip([0] + cuts, cuts + [t.num_rows]):
                w.write_table(t.slice(a, b - a), row_group_size=b - a)
        os.replace(tmp, path)


def digest(con, path):
    """Order-insensitive content digest of one parquet table:
    (row count, sum of row hashes)."""
    n, h = con.execute(
        f"SELECT count(*), sum(hash(t)::HUGEINT) FROM '{path}' t").fetchone()
    return n, str(h)


def check_same_rows(source, dest):
    """Asserts that `dest` holds the same tables, schemas, row counts and
    row multisets as `source`. Returns the combined content digest."""
    con = duckdb.connect()
    parts = []
    for name in tables(source):
        src = os.path.join(source, f"{name}.parquet")
        dst = os.path.join(dest, f"{name}.parquet")
        s_schema, d_schema = pq.read_schema(src), pq.read_schema(dst)
        if not s_schema.equals(d_schema, check_metadata=False):
            raise AssertionError(f"{name}: schema {d_schema} != {s_schema}")
        s_rows = pq.ParquetFile(src).metadata.num_rows
        d_rows = pq.ParquetFile(dst).metadata.num_rows
        if s_rows != d_rows:
            raise AssertionError(f"{name}: {d_rows} rows, source has {s_rows}")
        s_dig, d_dig = digest(con, src), digest(con, dst)
        if s_dig != d_dig:
            raise AssertionError(f"{name}: row multiset differs from the source")
        parts.append(f"{name}:{d_dig[0]}:{d_dig[1]}")
    con.close()
    return "|".join(parts)
