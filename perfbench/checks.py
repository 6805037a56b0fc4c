"""Output checks made outside the benchmark JVM, with DuckDB.

`scan_oracle`: each `scan_analytics` gate's reference result (dumped as Parquet by the benchmark JVM, the
way `graft.Verify` dumps it) is compared with the gate's oracle SQL run in
DuckDB over the same input tables, with the comparison rules of the
repo's `tools/check.py`: columns sorted by name, rows sorted, each column
equal as strings. One deviation: a signed zero equals zero (`-0.0` and
`0.0` are the same value; `check.py` would flag the differing strings).
"""
import json
import os

import duckdb
import pandas as pd

from datagen import BATCH_BASE, TABLES


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _zero(s: pd.Series) -> pd.Series:
    """Map -0.0 to 0.0 in a float column."""
    return s + 0.0 if pd.api.types.is_float_dtype(s) else s


def _mismatch(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal under the rules, else a one-line reason."""
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        strict = (a.isna() & b.isna()) | (_zero(a).astype(str) == _zero(b).astype(str))
        if strict.all():
            continue
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            am, bm = a.astype(float), b.astype(float)
            bad = ~((am.isna() & bm.isna()) | ((am - bm).abs() <= 1e-9))
        else:
            bad = ~strict
        i = bad.idxmax() if bad.any() else (~strict).idxmax()
        return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def scan_oracle(data_dir: str, ref_dir: str) -> dict:
    """Gate name -> mismatch reason, for every gate that fails its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(ref_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            why = _mismatch(pd.read_parquet(os.path.join(ref_dir, name)), con.sql(sql).df())
        except Exception as e:  # an unreadable dump or a failing oracle is a mismatch
            why = f"error: {e}"
        if why:
            bad[name] = why
    return bad


# Survivors of the landed batches, recomputed from scratch: passing batch
# docs with no exact word-5-gram Jaccard >= 0.5 partner of lower id among
# the corpus and the passing batch docs (tokenized as the engine does:
# lower, trim, split on whitespace).
_RECOMPUTE = """
WITH batch AS (SELECT doc_id, text FROM read_parquet($files) WHERE text IS NOT NULL),
allc AS (SELECT doc_id, text FROM read_parquet($corpus) UNION ALL SELECT * FROM batch),
words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM allc),
grams AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
            || w[i+4] || ' ' || w[i+5] AS g
          FROM words, UNNEST(range(greatest(len(w) - 4, 0))) AS t(i)),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
pairs AS (SELECT b.doc_id AS x, a.doc_id AS y, count(*) AS inter
          FROM grams b JOIN grams a ON a.g = b.g AND a.doc_id < b.doc_id
          WHERE b.doc_id >= $base GROUP BY 1, 2),
losers AS (SELECT DISTINCT x FROM pairs
           JOIN sizes sx ON sx.doc_id = x JOIN sizes sy ON sy.doc_id = y
           WHERE inter::DOUBLE / (sx.sz + sy.sz - inter) >= 0.5)
SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT x FROM losers)
"""


def stream(data_dir: str, n_ops: int, outputs: dict):
    """(ops whose survivors or counts are wrong, survivors == recompute).

    Op i landed batch i; the manifest lists each batch's expected
    survivors (its novel, passing docs)."""
    with open(os.path.join(data_dir, "stream", "manifest.json")) as f:
        manifest = json.load(f)[:n_ops]
    got = {}
    for doc_id in outputs["survivors"]:
        got.setdefault((doc_id - BATCH_BASE) // 1000, set()).add(doc_id)
    body = {b["op"]: (b["quarantined"], b["losers"]) for b in outputs["batches"]}
    failed = set()
    for i, b in enumerate(manifest):
        want = set(b["survivors"])
        counts = (b["bad"], b["docs"] - b["bad"] - len(want))
        if got.get(i, set()) != want or body.get(i) != counts:
            failed.add(i)
    files = [os.path.join(data_dir, "stream", b["file"]) for b in manifest]
    recomputed = set() if not files else {r[0] for r in duckdb.execute(_RECOMPUTE, {
        "files": files, "corpus": os.path.join(data_dir, "documents.parquet"),
        "base": BATCH_BASE}).fetchall()}
    return failed, recomputed == set(outputs["survivors"])
