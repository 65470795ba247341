"""Output checks: DuckDB oracle references, output digests, the LSH
pair check and store snapshots.

Row comparison follows the engine's oracle harness: columns sorted by
name, cells normalized (NaN, dates, nested values), rows sorted, then
exact equality. A Spark result is checked by digest: ``count(*)`` and
the sum of a row hash over its columns, observed inside the job that
materializes it (``DataFrame.observe``), compared with the same digest
of the oracle's rows loaded into Spark with the result's schema. A
digest mismatch is confirmed by collecting the result and comparing
rows, so a reported failure always names a differing row.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_connection(data_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


# -- row comparison -----------------------------------------------------

def normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    if hasattr(v, "asDict"):
        return normalize_cell(tuple(v))
    return v


def canonical_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows normalized and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple((x is None, str(type(x)), str(x))
                                   for x in row))
    return [cols[i] for i in order], out


def compare_rows(a_cols, a_rows, b_cols, b_rows) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    ac, ar = canonical_rows(list(a_cols), a_rows)
    bc, br = canonical_rows(list(b_cols), b_rows)
    if ac != bc:
        return f"columns differ: {ac} vs {bc}"
    if len(ar) != len(br):
        return f"row counts differ: {len(ar)} vs {len(br)}"
    for i, (x, y) in enumerate(zip(ar, br)):
        if x != y:
            return f"row {i}: {x!r} vs {y!r}"
    return None


def rows_digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a row set (Python side; the
    dashboard's JSON responses are checked with it)."""
    c, r = canonical_rows(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return f"{len(r)}:{h.hexdigest()[:24]}"


# -- Spark digests ------------------------------------------------------

def digest_exprs(df):
    """count + sum of a 32-bit row hash (summed as long, so it cannot
    overflow); floats get +0.0 so -0.0 and 0.0 hash alike."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType
    cols = [F.col(f"`{f.name}`") + F.lit(0.0)
            if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    return (F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.hash(*cols).cast("long")),
                       F.lit(0).cast("long")).alias("h"))


def frame_digest(df) -> tuple[int, int]:
    row = df.agg(*digest_exprs(df)).collect()[0]
    return int(row["n"]), int(row["h"])


def _coerce(v, dtype):
    from pyspark.sql import types as T
    if v is None:
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType,
                          T.ByteType)):
        return int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(str(v))
    if isinstance(dtype, T.StringType):
        return v if isinstance(v, str) else str(v)
    if isinstance(dtype, T.TimestampType) and isinstance(v, dt.datetime):
        return v
    return v


def rows_frame(spark, schema, cols: list[str], rows):
    """The rows as a Spark frame with ``schema`` (matched by column
    name), so its digest is comparable with the result's."""
    idx = [cols.index(f.name) for f in schema.fields]
    data = [tuple(_coerce(r[i], f.dataType)
                  for i, f in zip(idx, schema.fields)) for r in rows]
    return spark.createDataFrame(data, schema)


# -- mllib_lsh_similar_pairs --------------------------------------------

# the engine's LSH join (bucket length 0.25, two tables) found 75-83% of
# the exact pairs on bench-size inputs for seeds 1-12 (71-84% at the
# self-test size); an output that loses pairs below this share fails
LSH_MIN_RECALL = 0.70


def check_lsh_pairs(rows, data_dir: str, threshold: float = 1.2
                    ) -> str | None:
    """Every emitted pair: ids ordered (no self or mirrored pair), no
    duplicate, distance under the threshold and equal to the NumPy
    euclidean distance rounded to 6 places; and the emitted pairs are
    at least LSH_MIN_RECALL of the exact pairs under the threshold."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    pos = {int(v): i for i, v in enumerate(ids)}
    seen = set()
    for r in rows:
        a, b, d = int(r["vec_a"]), int(r["vec_b"]), r["euclidean_dist"]
        if a >= b:
            return f"pair ({a}, {b}) is a self or mirrored pair"
        if (a, b) in seen:
            return f"pair ({a}, {b}) emitted twice"
        seen.add((a, b))
        want = float(np.sqrt(np.sum((vecs[pos[a]] - vecs[pos[b]]) ** 2)))
        if abs(round(want, 6) - d) > 2e-6 or want >= threshold:
            return f"pair ({a}, {b}): distance {d} vs NumPy {want:.6f}"
    sq = (vecs * vecs).sum(1)
    dist = np.sqrt(np.maximum(sq[:, None] + sq[None, :] - 2 * vecs @ vecs.T,
                              0.0))
    exact = int(np.triu(dist < threshold, 1).sum())
    if len(seen) < LSH_MIN_RECALL * exact:
        return (f"{len(seen)} of {exact} pairs under {threshold} emitted, "
                f"below recall {LSH_MIN_RECALL}")
    return None


# -- store snapshots ----------------------------------------------------

def store_snapshot(root: str) -> dict[str, str]:
    """Logical content digest of every store directory under ``root``
    (driver-side pyarrow reads, no Spark job): store -> digest of all
    its committed rows, partition columns and every version included.
    File names and write times do not enter the digest, so a replay
    that rewrites a partition with the same rows leaves it unchanged.
    A store with no rows is left out, as one not yet created: the
    engine's readers treat both as empty (a replay of the first batch
    writes an empty tombstone marker where no store was)."""
    import pyarrow.dataset as pads
    out = {}
    for store in sorted(os.listdir(root)):
        path = os.path.join(root, store)
        if not os.path.isdir(path):
            continue
        t = pads.dataset(path, format="parquet",
                         partitioning="hive").to_table()
        if t.num_rows == 0:
            continue
        rows = list(zip(*(t[c].to_pylist() for c in t.column_names)))
        out[store] = rows_digest(list(t.column_names), rows)
    return out


def store_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of everything under ``root``."""
    n, size = 0, 0
    for dirpath, _, filenames in os.walk(root):
        for f in filenames:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
