"""Output checks. Each returns {op name or day: reason} for every failure.

Query ops with an oracle are compared with `SparkEntry.oracleSql` run
through DuckDB over the same generated tables, under the comparison rules
of the repository's local verifier: same column set, same row count, rows
equal in written order after a type-tagged full-precision rendering (no
rounding). Query ops without an oracle are checked against the
generator's ground truth. daily_etl is checked against its generator's
ground truth.
"""
import datetime
import decimal
import glob
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """Full-precision, type-tagged rendering (float and int are the
    families both engines agree on; anything else keeps its type name).
    """
    import pandas as pd
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return f"date:{v.date().isoformat()}"
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"date:{v.isoformat()}"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return f"{type(v).__name__}:{v}"


def _spark_out(dump, name):
    import pandas as pd
    files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def queries(data, dump, names, errors):
    """Check every dumped query output. `errors` maps names whose dump
    failed to the error text.
    """
    import duckdb
    bad = {n: f"dump failed: {e}" for n, e in errors.items()}
    oracles = json.load(open(f"{dump}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    truth = json.load(open(f"{data}/truth.json"))
    for name in names:
        if name in bad:
            continue
        t0 = time.time()
        try:
            out = _spark_out(dump, name)
            if out is None:
                why = "no output"
            elif name in oracles:
                why = _compare(out, con.execute(oracles[name]).fetchdf())
            elif name in NO_ORACLE:
                why = NO_ORACLE[name](out, truth)
            else:
                why = "no oracle and no ground-truth check"
        except Exception as e:  # an unreadable output or oracle error fails the op
            why = f"check error: {e}"
        if why:
            bad[name] = why
        if time.time() - t0 > 1.0:
            print(f"[bench] slow check {name}: {time.time() - t0:.1f}s", file=sys.stderr)
    return bad


def _compare(spark_df, oracle_df):
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return f"columns {sc} vs {oc}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} vs {len(oracle_df)}"
    srows = [tuple(_norm(v) for v in r) for r in spark_df[sc].itertuples(index=False)]
    orows = [tuple(_norm(v) for v in r) for r in oracle_df[oc].itertuples(index=False)]
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"row {i}: spark {a} vs oracle {b}"
    return None


def _components(out, id_col, pairs, n_rows, keep=lambda a, b: True):
    """Ground truth for a dedup clustering: one row per input id; the
    component id is the smallest member and canonical rows are exactly
    those; every planted near-duplicate pair shares a component.
    """
    if len(out) != n_rows:
        return f"rows {len(out)} vs {n_rows}"
    comp = dict(zip(out[id_col].tolist(), out["component_id"].tolist()))
    if any(c > i for i, c in comp.items()):
        return "component id above a member id"
    if any(bool(k) != (i == c) for i, c, k in
           zip(out[id_col], out["component_id"], out["is_canonical"])):
        return "is_canonical disagrees with component id"
    split = [(a, b) for a, b in pairs if keep(a, b) and comp.get(a) != comp.get(b)]
    return f"{len(split)} planted pairs split, e.g. {split[:3]}" if split else None


def _doc_components(out, truth):
    # minhash estimates need enough shingles to clear the 0.8 cut reliably
    words = truth["doc_words"]
    return _components(out, "doc_id", truth["doc_pairs"], len(words),
                       keep=lambda a, b: words[a] >= 40)


def _nonempty(out, truth):
    return None if len(out) > 0 else "empty output"


NO_ORACLE = {
    "q_doc_dedup_components": _doc_components,
    "q_doc_dedup_embed": lambda out, t: _components(out, "vec_id", t["emb_pairs"], t["n_emb"]),
    "q_approx_sketches": _nonempty,
}


def _live(base):
    """Data directory of the newest committed snapshot under `base`."""
    commits = sorted(glob.glob(f"{base}/_commits/v*.json"))
    return os.path.join(base, json.load(open(commits[-1]))["data"])


def daily_etl(data, store, done):
    """Ground-truth checks of the write path after `done` days (warm days
    included). Returns {day name: reason}; a run-wide failure is keyed "*".
    """
    truth = json.load(open(f"{data}/truth.json"))
    bad = {}
    if done == 0:
        return {"*": "no day ran"}
    last = truth["days"][done - 1]
    fact = pq.read_table(_live(f"{store}/fact")).to_pandas()
    dim = pq.read_table(_live(f"{store}/dim")).to_pandas()
    if len(fact) != last["fact_rows"]:
        bad["*"] = f"fact rows {len(fact)} vs {last['fact_rows']}"
    elif fact.duplicated(["city_id", "date"]).any():
        bad["*"] = "more than one fact row per (city, date)"
    elif dim["city_id"].duplicated().any() or dim["city_name"].duplicated().any():
        bad["*"] = "dim city_id or city_name not unique"
    elif len(dim) != last["dim_rows"]:
        bad["*"] = f"dim rows {len(dim)} vs {last['dim_rows']}"
    if bad:
        return bad
    ids = dict(zip(dim["city_name"], dim["city_id"]))
    fact["date"] = fact["date"].astype(str)
    fact = fact.set_index(["city_id", "date"])
    null_max, null_min = fact["temp_max"].isna(), fact["temp_min"].isna()
    expected_null = set()
    stg_versions = sorted(glob.glob(f"{store}/stg/_commits/v*.json"))
    for d in range(done):
        t = truth["days"][d]
        name = f"day_{d:04d}"
        for city, day, col, imputable in t["nulls"]:
            key = (ids[city], day)
            is_null = (null_max if col == 0 else null_min).get(key, True)
            if imputable and is_null:
                bad[name] = f"NULL temp left at {city} {day} though its city-month has data"
            if not imputable:
                expected_null.add(key)
        ch = glob.glob(f"{store}/cdc/changes/v{d + 1:05d}/*.parquet")
        n_ch = sum(pq.read_metadata(f).num_rows for f in ch)
        want = t["new_keys"] + 2 * t["corrections"]
        if n_ch != want:
            bad.setdefault(name, f"CDC rows {n_ch} vs {want}")
        stg = pq.read_table(_live_version(f"{store}/stg", stg_versions[d + 1])).to_pandas()
        if len(stg) != t["rows"] - t["dups"] or not stg["is_processed"].all():
            bad.setdefault(name, f"staging {len(stg)} rows (want {t['rows'] - t['dups']}), "
                                 f"all processed={bool(stg['is_processed'].all())}")
    stray = {k for k in fact.index[null_max | null_min]} - expected_null
    if stray:
        # history rows are always imputable (their city-month holds data)
        bad["*"] = f"{len(stray)} fact rows hold NULL temps, e.g. {sorted(stray)[:2]}"
    return bad


def _live_version(base, manifest):
    return os.path.join(base, json.load(open(manifest))["data"])
