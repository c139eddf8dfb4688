"""Checks of the engine's outputs that do not depend on the engine.

* Query results are compared with DuckDB running the query's oracle SQL
  over the same input files, the way the engine's `tools/check.py` does:
  columns sorted by name, rows sorted, values equal (as strings where the
  two sides' dtypes differ). The DuckDB answers depend only on the inputs
  and the SQL, so they are cached per input directory and SQL text.
* `ingest_stream` recomputes, from the generated batches alone: the latest
  delivery of every message (the tracks table), the connected components
  of all merge-rule edges with a union-find (the identity mappings), and
  every flattened leaf value of every delivery (each must land as a typed
  cell or as a rudder_discards row, never both, never neither).
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FLATTEN_DEPTH = 3  # JsonFlatten.flatten's default depth cap


# ---- query results -----------------------------------------------------------

def _duck(data):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def oracle_answers(data, sql, cache_root):
    """DuckDB's answer to each query's oracle SQL over `data`, cached as
    pickles under `cache_root/<generator version>-<input dir name>/`."""
    cache = os.path.join(cache_root, "-".join(os.path.normpath(data).split(os.sep)[-2:]))
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name, text in sql.items():
        path = os.path.join(cache, f"{name}-{hashlib.sha1(text.encode()).hexdigest()[:16]}.pkl")
        if not os.path.exists(path):
            con = con or _duck(data)
            con.execute(text).df().to_pickle(path + ".tmp")
            os.rename(path + ".tmp", path)
        out[name] = path
    return out


def compare_frames(a, b):
    """None if the two results hold the same rows, else what differs."""
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if len(a.columns) == 0:
        return None
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype) != str(bv.dtype):
            av, bv = av.astype(str), bv.astype(str)
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"col {c} row {i}: engine={a[c][i]!r} oracle={b[c][i]!r} ({int((~eq).sum())} diffs)"
    return None


def read_result(results, name):
    files = sorted(glob.glob(f"{results}/{name}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files])


def compare_queries(results, answers, names):
    """Every query's cold-pass result against its oracle answer; a query
    without oracle SQL must at least return rows."""
    errors = []
    for name in names:
        got = read_result(results, name)
        if got is None:
            errors.append(f"{name}: no result")
        elif name in answers:
            diff = compare_frames(got, pd.read_pickle(answers[name]))
            if diff:
                errors.append(f"{name}: {diff}")
        elif len(got) == 0:
            errors.append(f"{name}: no oracle SQL and no rows")
    return errors


def input_rows(data, tables):
    return sum(pq.read_metadata(f"{data}/{t}.parquet").num_rows for t in tables)


# ---- the ingest stream -------------------------------------------------------

def stream_sizes(stream):
    files = sorted(glob.glob(f"{stream}/batch_*.parquet"))
    rows = [pq.read_metadata(f).num_rows for f in files]
    return rows, {i: os.path.getsize(f) for i, f in enumerate(files)}


def read_batches(stream, n):
    return pd.concat([pd.read_parquet(f"{stream}/batch_{i:05d}.parquet") for i in range(n)],
                     ignore_index=True)


def expected_tracks(batches):
    """The latest delivery (by received_at) of every message id."""
    last = batches.sort_values("received_at").groupby("message_id", sort=False).tail(1)
    return pd.DataFrame({
        "id": last["message_id"], "user_id": last["user_id"],
        "anonymous_id": last["anonymous_id"], "event": last["event_type"],
        "timestamp": last["ts"], "received_at": last["received_at"], "value": last["value"],
    })


def _utc(df):
    """Timestamps as naive UTC, whichever way a reader typed them."""
    df = df.copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def check_tracks(batches, tracks):
    cols = ["id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value"]
    if tracks["id"].duplicated().any():
        return [f"tracks: {int(tracks['id'].duplicated().sum())} message ids have more than one row"]
    diff = compare_frames(_utc(tracks[cols]), _utc(expected_tracks(batches)[cols]))
    return [f"tracks: {diff}"] if diff else []


def expected_components(batches):
    """node -> smallest node of its component, by union-find over all edges."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = batches.dropna(subset=["src"])
    for s, d in zip(edges["src"].astype("int64"), edges["dst"].astype("int64")):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {n: find(n) for n in list(parent)}


def check_mappings(batches, mappings):
    if mappings["node"].duplicated().any():
        return ["mappings: a node has more than one row"]
    got = dict(zip(mappings["node"].astype("int64"), mappings["comp"].astype("int64")))
    want = expected_components(batches)
    if got == want:
        return []
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    wrong = [n for n in set(want) & set(got) if want[n] != got[n]]
    return [f"mappings: {len(missing)} nodes missing, {len(extra)} unexpected, "
            f"{len(wrong)} with the wrong component"]


def leaves(js):
    """Flattened leaf paths of a properties object, as JsonFlatten.flatten
    produces them: nested objects join with `_` up to the depth cap,
    nulls and empty keys are skipped, arrays and deeper objects are one
    leaf."""
    out = []

    def walk(obj, prefix, depth):
        for k, v in obj.items():
            if not k:
                continue
            path = k if not prefix else f"{prefix}_{k}"
            if isinstance(v, dict) and depth < FLATTEN_DEPTH:
                walk(v, path, depth + 1)
            elif v is not None:
                out.append(path)

    walk(json.loads(js), "", 1)
    return out


def check_schema(batches, typed, discards):
    errors = []
    if typed["id"].duplicated().any() or len(typed) != len(batches):
        errors.append(f"typed: {len(typed)} rows for {len(batches)} deliveries, "
                      f"{int(typed['id'].duplicated().sum())} duplicated ids")
    typed = typed.drop_duplicates("id").set_index("id")
    dropped = set(zip(discards["row_id"].astype("int64"), discards["column_name"]))
    lost, both, n = 0, 0, 0
    for rid, js in zip(batches["row_id"].astype("int64"), batches["props"]):
        for key in leaves(js):
            n += 1
            cell = typed.at[rid, key] if key in typed.columns and rid in typed.index else None
            landed = cell is not None and not pd.isna(cell)
            discarded = (rid, key) in dropped
            lost += not landed and not discarded
            both += landed and discarded
    if lost or both:
        errors.append(f"schema: of {n} leaf values {lost} landed nowhere and {both} "
                      f"landed both typed and discarded")
    return errors


def check_stream(stream, n, results):
    batches = read_batches(stream, n)
    out = {s: read_result(results, s) for s in ("tracks", "mappings", "typed", "discards")}
    missing = [s for s, df in out.items() if df is None]
    if missing:
        return [f"no final read of {', '.join(missing)}"]
    return (check_tracks(batches, out["tracks"]) + check_mappings(batches, out["mappings"])
            + check_schema(batches, out["typed"], out["discards"]))
