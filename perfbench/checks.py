"""Output checks for the warm-up pass of a run.

Every op's warm-up output is checked here against an independent
reference; every later execution of the op must then reproduce the
warm-up output's digest (checked inside the JVM). References:

- star_mix ops: the digest pinned in expected.json after the op's output
  on the same fixed tables matched its DuckDB oracle (pin.py), compared
  with the normalization of tools/check_oracle.py;
- ANN ops also: recall against exact cosine top-k, above the op's floor;
- airline pipeline steps: row counts and aggregates recomputed by
  DuckDB from the generated rows, plus feature and quality bands.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

# op -> (k, recall floor) for approximate nearest-neighbour ops; floors
# are the engine's own declared ones.
ANN_FLOORS = {"s6_knn_lsh": (3, 0.85)}
ANN_QUERIES = 20  # ANN ops search for vec_id < 20

# Band for the tuned logistic regression's test AUC on generated flights.
# The generator's delay model puts the separable signal at about 0.76.
LR_AUC_BAND = (0.70, 0.85)


def canon(df):
    """Columns by lower-cased name, floats rounded to 1e-6, rows sorted."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype in (np.float64, np.float32):
            df[c] = df[c].astype(np.float64).round(6)
    df = df.sort_values(by=list(df.columns), na_position="first")
    return df.reset_index(drop=True)


def compare(got, want):
    """None when `got` matches `want` after canon(), else the reason."""
    g, w = canon(got), canon(want)
    clash = [c for c in g.columns if c in w.columns
             and pd.api.types.is_integer_dtype(g[c].dtype)
             and pd.api.types.is_float_dtype(w[c].dtype)]
    if clash:
        return f"integer result where the oracle has floats: {clash}"
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=False, atol=2e-6, rtol=0)
    except AssertionError as e:
        return "values differ: " + str(e).split("\n")[0]
    return None


def read_dump(out_dir, op):
    files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def duck(data_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def brute_topk(data_dir, k):
    """Exact cosine top-k neighbours (self excluded) of each query vector."""
    e = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"))
    ids = e["vec_id"].to_numpy()
    x = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    truth = {}
    for qi in np.flatnonzero(ids < ANN_QUERIES):
        sim = x @ x[qi]
        sim[qi] = -np.inf
        truth[int(ids[qi])] = set(int(i) for i in ids[np.argsort(-sim)[:k]])
    return truth


def ann_recall(got, truth):
    """(hits, attempts): returned pairs in the exact top-k, pairs returned."""
    pairs = got.iloc[:, :2].astype("int64").itertuples(index=False)
    hits = attempts = 0
    for q, n in pairs:
        attempts += 1
        hits += n in truth.get(q, ())
    return hits, attempts


def rows_frame(entry):
    """The op's output rows carried in the run result, as a DataFrame."""
    if entry.get("rows") is None:
        return None
    return pd.DataFrame(entry["rows"], columns=entry["columns"])


def check_oracles(data_dir, out_dir, warm, oracle):
    """op -> failure reason, comparing dumped warm-up outputs with DuckDB.
    Slow (some oracles run for minutes); used when pinning digests."""
    con = duck(data_dir)
    verdict = {}
    for op, entry in warm.items():
        if "error" in entry:
            verdict[op] = "warm-up failed: " + entry["error"]
        elif op in oracle:
            verdict[op] = compare(read_dump(out_dir, op), con.execute(oracle[op]).df())
        else:
            got = read_dump(out_dir, op)
            verdict[op] = None if got is not None and len(got) else "empty output"
    return verdict


def check_queries(data_dir, warm, pinned):
    """op -> failure reason (None if the warm-up output is correct), and
    the ANN (hits, attempts) totals. Each output must carry the digest
    pinned after a DuckDB check of the same op on the same inputs; ANN
    outputs must also clear their recall floor."""
    verdict, hits, attempts, truths = {}, 0, 0, {}
    for op, entry in warm.items():
        if "error" in entry:
            verdict[op] = "warm-up failed: " + entry["error"]
            continue
        reason = None
        if entry["digest"] != pinned.get(op):
            reason = "output digest differs from the pinned, DuckDB-checked one"
        if op in ANN_FLOORS:
            k, floor = ANN_FLOORS[op]
            truth = truths.setdefault(k, brute_topk(data_dir, k))
            h, a = ann_recall(rows_frame(entry), truth)
            hits, attempts = hits + h, attempts + a
            if reason is None and (a == 0 or h / a < floor):
                reason = f"recall@{k} {h}/{a} below floor {floor}"
        verdict[op] = reason
    return verdict, (hits, attempts)


VIZ_ROWS = """
  SELECT *, CAST(least(greatest(floor(DepDelay / 15), -2), 12) AS INTEGER)
    AS DelayGroup
  FROM flights
  WHERE Cancelled OR (DepTime IS NOT NULL AND ArrTime IS NOT NULL
    AND AirTime IS NOT NULL AND Distance IS NOT NULL)"""
VIZ_ORACLES = {
    "flights_per_month":
        'SELECT Month, count(*) AS "Number of Flights" FROM viz GROUP BY 1',
    "flights_per_weekday":
        'SELECT DayOfWeek AS Week, count(*) AS "Number of Flights" FROM viz GROUP BY 1',
    "flights_per_delay_group":
        'SELECT DelayGroup, count(*) AS "Number of Flights" FROM viz GROUP BY 1',
    "distance_per_year":
        "SELECT Year, sum(Distance) AS Distance FROM viz GROUP BY 1",
    "airline_delay_group_count":
        'SELECT Airline, DelayGroup, count(*) AS "Number of Flights" '
        "FROM viz GROUP BY 1, 2",
}


def airline_pivot(con):
    long = con.execute("SELECT Airline, DelayGroup, count(*) AS n FROM viz "
                       "GROUP BY 1, 2").df()
    wide = long.pivot(index="Airline", columns="DelayGroup", values="n")
    wide = wide.fillna(0).astype("int64")
    wide.columns = [str(c) for c in wide.columns]
    wide["Total"] = wide.sum(axis=1)
    return wide.reset_index()


def _lines(entry):
    got = rows_frame(entry)
    return set() if got is None else set(got["line"])


def check_airline(rows_file, warm):
    """op -> failure reason (None if the warm-up output is correct)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW flights AS SELECT * FROM read_parquet('{rows_file}')")
    con.execute(f"CREATE VIEW viz AS {VIZ_ROWS}")
    n_viz = con.execute("SELECT count(*) FROM viz").fetchone()[0]
    n_clean = con.execute("SELECT count(*) FROM viz WHERE NOT Cancelled").fetchone()[0]
    verdict = {}
    for op, entry in warm.items():
        if "error" in entry:
            verdict[op] = "warm-up failed: " + entry["error"]
            continue
        d = entry["detail"]
        reason = None
        if op == "read_raw_csv":
            want = {"Year:IntegerType", "DepTime:DoubleType",
                    "Cancelled:BooleanType", "Airline:StringType"}
            missing = want - _lines(entry)
            reason = f"inferred schema lacks {sorted(missing)}" if missing else None
        elif op == "clean":
            got = (int(d["viz_rows"]), int(d["cleaned_rows"]))
            reason = None if got == (n_viz, n_clean) else \
                f"(viz, cleaned) rows {got} != {(n_viz, n_clean)}"
        elif op == "read_clean_csv":
            missing = {"DepTimeHour:IntegerType", "Delay_Status:IntegerType"} \
                - _lines(entry)
            reason = f"inferred schema lacks {sorted(missing)}" if missing else None
        elif op == "analyze":
            cat, num = d["uniCat"].split(","), d["uniNum"].split(",")
            if (len(cat), len(num), len(d["varNum"].split(","))) != (3, 7, 6):
                reason = "selected feature lists are not 3/7/6 long"
            elif "Airline" not in cat or "DepTimeHour" not in num:
                reason = f"signal features not selected: {cat} {num}"
            elif not 0 <= float(d["chi_p_min"]) <= float(d["chi_p_max"]) <= 1:
                reason = "chi-square p-values outside [0, 1]"
        elif op == "tvs_logistic_regression":
            auc = float(d["auc"])
            lo, hi = LR_AUC_BAND
            reason = None if lo <= auc <= hi else f"AUC {auc:.4f} outside [{lo}, {hi}]"
        elif op in VIZ_ORACLES:
            reason = compare(rows_frame(entry), con.execute(VIZ_ORACLES[op]).df())
        elif op == "airline_delay_group_pivot":
            reason = compare(rows_frame(entry), airline_pivot(con))
        verdict[op] = reason
    return verdict
