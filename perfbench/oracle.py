"""Correctness gate: DuckDB evaluates each key's oracle SQL on the
generated tables and the engine's output must match it, with the
normalization of the engine's self-check (columns by name, rows sorted,
floats rounded to 6 places, integer/float kinds kept apart).

Serve responses are checked the same way, against the oracle of the
batch key that serves the same operator with the request's parameters
substituted in: `q_ann_ivf` (query vector), `q_search` (terms) and
`q_reach_by_type` (event type and week range).
"""
import glob
import os
import re

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'")
    return con


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        elif df[c].dtype == "object" and len(df) > 0 and \
                type(df[c].iloc[0]).__name__ in ("date", "datetime", "Timestamp"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"schema {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    kinds = [c for c in a.columns if {a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"}]
    if kinds:
        return f"int/float kind mismatch in {kinds}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        return "values: " + " ".join(str(e).split())[:200]
    return None


def check_dumps(con, dump_dir, oracles):
    """{key: None | reason} for every key with an oracle."""
    out = {}
    for key, sql in oracles.items():
        files = glob.glob(os.path.join(dump_dir, key, "*.parquet"))
        if not files:
            out[key] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            out[key] = compare(got, con.sql(sql).df())
        except Exception as e:  # an oracle that fails to run is a failure
            out[key] = f"oracle error: {e}"[:200]
    return out


def _substitute(sql, pattern, repl):
    new, n = re.subn(pattern, repl, sql)
    if n != 1:
        raise ValueError(f"oracle template: {pattern!r} matched {n} times")
    return new


def serve_sql(oracles, kind, args):
    if kind == "ann":
        return _substitute(oracles["q_ann_ivf"], r"WHERE\s+vec_id < 10\b",
                           f"WHERE vec_id = {int(args[0])}")
    if kind == "search":
        terms = ", ".join(f"'{t}'" for t in args)
        return _substitute(oracles["q_search"],
                           r"'spark', 'window', 'stream'", terms)
    etype, lo, hi = args
    where = (f"WHERE event_type = '{etype}' AND CAST(date_trunc('week', ts) "
             f"AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'")
    return _substitute(oracles["q_reach_by_type"], r"FROM events\)",
                       f"FROM events {where})")


def check_samples(con, samples, oracles):
    """One None | reason per sampled serve response."""
    out = []
    for s in samples:
        try:
            want = con.sql(serve_sql(oracles, s["kind"], s["args"])).df()
            got = pd.DataFrame(s["rows"], columns=list(want.columns))
            for c in got.columns:  # JSON integers arrive as int64 already
                if want[c].dtype.kind == "f":
                    got[c] = got[c].astype("float64")
            out.append(compare(got, want))
        except Exception as e:
            out.append(f"check error: {e}"[:200])
    return out
