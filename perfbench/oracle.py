"""Output checks of the benchmark, run after the JVM has exited and
outside every timed region.

- Oracled keys: the warm-up dump is compared with `SparkEntry.oracleSql`
  run in DuckDB on the same generated parquet, after tools/check.py's
  normalisation (columns sorted by name, floats rounded to 9 dp, rows
  sorted), with its 1e-9 float tolerance.
- Rows-only keys: the dump must be non-empty.
- Ground truth for the recall metrics: brute-force cosine top-10 of
  vec_id 0 (the ann_brute oracle) and every document pair whose word
  3-gram Jaccard is at least 0.7 (for dedup_incremental, only the pairs
  across its history/batch split).
"""
import glob
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import norm  # noqa: E402

TABLES = ["events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        src = f"read_parquet('{p}/*.parquet')"
        cols = [f'CAST("{name}" AS TIMESTAMP) AS "{name}"'
                if typ == "TIMESTAMP WITH TIME ZONE" else f'"{name}"'
                for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        con.execute(f"CREATE VIEW {t} AS SELECT {', '.join(cols)} FROM {src}")
    return con


HASH_COL = "__h"  # per-row hash the JVM adds to every dump


def read_dump(dump_dir, key):
    """The key's warm-up output without the hash column, or None."""
    files = glob.glob(os.path.join(dump_dir, key, "*.parquet"))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return df.drop(columns=[HASH_COL])


def dump_fingerprint(dump_dir, key):
    """Row count and hash sum of the dump, as the timed action reports them."""
    files = glob.glob(os.path.join(dump_dir, key, "*.parquet"))
    h = pd.concat([pd.read_parquet(f, columns=[HASH_COL]) for f in files])[HASH_COL]
    return f"{len(h)}:{int(h.astype('int64').sum())}"


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"schema spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"row count spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce")
            bv = pd.to_numeric(bv, errors="coerce")
            ok = np.isclose(av.fillna(0), bv.fillna(0), rtol=0, atol=1e-9) | (av.isna() & bv.isna())
        else:
            ok = (av == bv) | (av.isna() & bv.isna())
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} of {len(a)} rows differ"
    return None


def check_key(con, dump_dir, key, sql):
    """None when the key's warm-up output is right, else the reason."""
    got = read_dump(dump_dir, key)
    if got is None:
        return "no output dumped"
    if sql is None:
        return None if len(got) else "rows-only key returned no rows"
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:  # the oracle itself failing is a check failure
        return f"oracle SQL failed: {str(e).splitlines()[0]}"
    return compare(got, want)


def ann_truth(con, ann_brute_sql):
    return set(con.execute(ann_brute_sql).fetchdf()["vec_id"].tolist())


def ann_recall(dump_dir, key, truth):
    got = read_dump(dump_dir, key)
    if got is None or not truth:
        return 0.0
    return len(set(got["vec_id"].tolist()) & truth) / len(truth)


DEDUP_TRUTH_SQL = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, greatest(len(ws) - 2, 1) + 1),
      i -> array_to_string(ws[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL)),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b FROM iv
JOIN sz sa ON sa.doc_id = iv.doc_a JOIN sz sb ON sb.doc_id = iv.doc_b
WHERE CAST(iv.i AS DOUBLE) / (sa.n + sb.n - iv.i) >= 0.7
"""


def dedup_truth(con, key):
    """The pairs `key` should report. dedup_incremental checks the odd
    doc ids (the batch) against the even ones (its index), so its truth
    is the pairs across that split."""
    df = con.execute(DEDUP_TRUTH_SQL).fetchdf()
    pairs = set(zip(df["doc_a"].tolist(), df["doc_b"].tolist()))
    if key == "dedup_incremental":
        pairs = {(a, b) for a, b in pairs if (a + b) % 2 == 1}
    return pairs


def dedup_recall(dump_dir, key, truth):
    got = read_dump(dump_dir, key)
    if got is None:
        return 0.0
    if not truth:
        return 1.0
    found = {(min(a, b), max(a, b)) for a, b in zip(got["doc_a"], got["doc_b"])}
    return len(found & truth) / len(truth)
