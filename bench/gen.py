"""Seeded input generators for the benchmark workloads.

`star(dir, seed, scale)` writes the ten registry tables (FIXTURES.md §A
schemas; value domains follow the committed-testdata conventions: 1995-2001
order/ship dates, January-2024 events, a 30-word document vocabulary with
planted " dup" near-duplicates, unit-norm 64-d embeddings). `scale` is the
TPC-H-style scale factor: 0.1 gives 600k lineitem rows.

`weather(dir, seed, ...)` writes the daily_etl inputs (FIXTURES.md §B
schemas): the initial `dim_city`, a multi-year staging `history`, and one
staging batch per day, plus `truth.json`, the ground truth the check uses.

Same seed, same files: every value comes from one numpy Generator.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast the row "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold red small green".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star(out, seed, scale, text_scale=None):
    """Registry tables at `scale`; documents/embeddings at `text_scale`
    (defaults to `scale`). Returns the planted near-duplicate pairs.
    """
    text_scale = scale if text_scale is None else text_scale
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), max(10, int(10000 * scale)), int(200000 * scale)
    n_ord, n_line, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = int(50000 * text_scale), int(20000 * text_scale)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64), "c_name": _ids("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64), "s_name": _ids("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    ts = pa.timestamp("us")
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord).astype("datetime64[us]"), ts),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line).astype("datetime64[us]"), ts)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: 5% are an earlier document plus the token "dup"
    lens = rng.integers(10, 101, n_doc)
    texts, doc_pairs = [], []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            doc_pairs.append((j, i))
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit-norm 64-d; 2% are a jittered copy of an earlier vector
    m = rng.standard_normal((n_emb, 64))
    emb_pairs = []
    for i in range(10, n_emb):
        if rng.random() < 0.02:
            j = int(rng.integers(0, i))
            m[i] = m[j] / np.linalg.norm(m[j]) + rng.standard_normal(64) * 1e-3
            emb_pairs.append((j, i))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    truth = {"doc_pairs": doc_pairs, "emb_pairs": emb_pairs, "n_emb": n_emb,
             "doc_words": [int(x) for x in lens]}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


def _dec(vals):
    """Floats (NaN for NULL) → decimal(5,2), rounded half-away at 2 places."""
    v = np.asarray(vals, dtype=np.float64)
    txt = pa.array(np.char.mod("%.2f", np.nan_to_num(v)), pa.string())
    return pa.compute.if_else(pa.array(np.isnan(v)), pa.scalar(None, pa.decimal128(5, 2)),
                              txt.cast(pa.decimal128(5, 2)))


def _stg_table(city, date, tmax, tmin, precip):
    return {
        "city_name": pa.array(city, pa.string()),
        "date": pa.array(np.asarray(date, dtype="datetime64[D]"), pa.date32()),
        "temp_max": _dec(tmax), "temp_min": _dec(tmin), "precipitation": _dec(precip),
        "is_processed": pa.array(np.zeros(len(city), dtype=bool))}


def weather(out, seed, cities=300, years=3, days=60):
    """daily_etl inputs. Each day's batch holds every known city's new day
    plus seeded shares of within-batch duplicates, NULL temps, >3σ
    outliers, late corrections to past days and brand-new city names.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    names = [f"City_{i:04d}" for i in range(cities)]
    base = rng.uniform(-5.0, 25.0, cities)
    _write(f"{out}/dim_city.parquet", {
        "city_id": pa.array(range(1, cities + 1), pa.int32()),
        "city_name": names,
        "country": [f"C{i % 40:02d}" for i in range(cities)],
        "latitude": pa.array([None] * cities, pa.decimal128(9, 6)),
        "longitude": pa.array([None] * cities, pa.decimal128(9, 6)),
        "timezone": ["UTC"] * cities,
        "valid_from": pa.array([dt.datetime(2020, 1, 1)] * cities, pa.timestamp("us")),
        "valid_to": pa.array([None] * cities, pa.timestamp("us"))})
    city_base = dict(zip(names, base))

    def readings(cb, doy):
        """Vectorized: seasonal max temp, min 5-12 below, precipitation."""
        n = len(cb)
        tmax = np.round(cb + 12.0 * np.sin(2 * np.pi * (doy - 100) / 365.0)
                        + rng.uniform(-3.0, 3.0, n), 2)
        return (tmax, np.round(tmax - rng.uniform(5.0, 12.0, n), 2),
                np.round(rng.uniform(0.0, 49.99, n), 2))

    def reading(city, day):
        t = readings(np.array([city_base.get(city, 10.0)]),
                     np.array([day.timetuple().tm_yday]))
        return [city, day, t[0][0], t[1][0], t[2][0]]

    # history: years × 365 days per city, 0.5% NULL temps, 0.2% outliers,
    # 0.2% duplicated rows; loaded in set-up as one staging batch
    nd = 365 * years
    h0 = np.datetime64("2024-01-01", "D") - nd
    ci = np.tile(np.arange(cities), nd)
    dates = h0 + np.repeat(np.arange(nd), cities)
    doy = (dates - dates.astype("datetime64[Y]")).astype(int) + 1
    tmax, tmin, prec = readings(base[ci], doy)
    u = rng.random(len(ci))
    null = u < 0.005
    which = rng.integers(0, 2, len(ci))
    tmax[null & (which == 0)] = np.nan
    tmin[null & (which == 1)] = np.nan
    tmax[(u >= 0.005) & (u < 0.007)] += 40.0
    dup = rng.random(len(ci)) < 0.002
    d_tmax, d_tmin, d_prec = readings(base[ci[dup]], doy[dup])
    hc = np.concatenate([np.array(names)[ci], np.array(names)[ci[dup]]])
    _write(f"{out}/history.parquet", _stg_table(
        hc, np.concatenate([dates, dates[dup]]), np.concatenate([tmax, d_tmax]),
        np.concatenate([tmin, d_tmin]), np.concatenate([prec, d_prec])))
    ok = ~(u < 0.007) & ~dup
    clean = [(names[c], d.item()) for c, d in zip(ci[ok], dates[ok])]
    fact_rows = cities * nd

    known, corrected = list(names), set()
    truth_days = []
    for d in range(days):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=d)
        new_cities = [f"NewCity_{d:03d}_{i}" for i in range(int(rng.integers(0, 3)))]
        known += new_cities
        rows, nulls, dups = [], [], 0
        nan = float("nan")
        for c in known:
            r = reading(c, day)
            u = rng.random()
            if u < 0.02:
                col = 2 + int(rng.integers(0, 2))
                r[col] = nan
                nulls.append((c, col))
            elif u < 0.03:
                r[2] = round(r[2] + 40.0, 2)
            elif u < 0.06:
                rows.append(reading(c, day))
                dups += 1
            rows.append(r)
        # late corrections: distinct never-corrected clean keys; precipitation
        # 60-99 never occurs in an original reading, so every correction
        # changes the stored image
        n_corr = max(1, len(known) // 50)
        corr = []
        while len(corr) < n_corr:
            k = clean[int(rng.integers(0, len(clean)))]
            if k not in corrected:
                corrected.add(k)
                corr.append(k)
        for c, cday in corr:
            r = reading(c, cday)
            r[4] = round(rng.uniform(60.0, 99.0), 2)
            rows.append(r)
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        _write(f"{out}/day_{d:04d}.parquet", _stg_table(*map(list, zip(*rows))))
        # a NULL reading is imputed iff another row of the batch has the same
        # city and calendar month (WeatherEtl.imputeMissing windows on
        # month(date), year-agnostic) with that column set
        imputable = []
        for c, col in nulls:
            has = any(r[0] == c and r[1].month == day.month and not np.isnan(r[col])
                      for r in rows)
            imputable.append([c, day.isoformat(), col - 2, has])
        fact_rows += len(known)
        truth_days.append({
            "day": day.isoformat(), "rows": len(rows), "dups": dups,
            "new_keys": len(known), "corrections": len(corr),
            "new_cities": new_cities, "nulls": imputable,
            "fact_rows": fact_rows, "dim_rows": len(known),
            "bytes": os.path.getsize(f"{out}/day_{d:04d}.parquet")})
    truth = {"history_rows": len(hc), "history_keys": cities * nd, "days": truth_days}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth
