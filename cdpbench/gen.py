"""Seeded input generators for the benchmark's workloads.

The engine only ever sees the parquet files written here.

* `tables(out, sf, seed)`: the ten star-schema and corpus tables the query
  registry reads (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), with the column names, types
  and value shapes of the engine's reference test data at scale factor `sf`.
* `stream(out, seed, batches, size)`: Segment-style deliveries cut into
  batches, with re-deliveries, nested properties whose schema evolves, and
  merge-rule edges linking anonymous ids to user ids.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 3  # bump when a generator's output changes; the input cache keys on it
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
RARE_WORD = "dup"
EMBED_DIM = 64
LABELS = 10
DAY_US = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us, tz=None):
    return pa.array(us, type=pa.timestamp("us", tz=tz))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return _ts(rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n):
    """Documents of 10-100 words; ~0.2% are exact copies and ~3% are
    near-copies (one or two words changed) of an earlier document."""
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    for i in range(1, n):
        u = rng.random()
        if u < 0.002:
            texts[i] = texts[rng.integers(0, i)]
        elif u < 0.032:
            toks = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 3)):
                toks[rng.integers(0, len(toks))] = RARE_WORD
            texts[i] = " ".join(toks)
    langs = rng.choice(["en", "es", "fr", "zh", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return texts, langs


def _documents(rng, n):
    texts, langs = _docs(rng, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, centres):
    labels = rng.integers(0, LABELS, n).astype(np.int32)
    v = centres[labels] + rng.normal(0, 0.12, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def _centres(seed):
    c = np.random.default_rng([seed, 7]).normal(0, 1, (LABELS, EMBED_DIM))
    return 0.25 * c / np.linalg.norm(c, axis=1, keepdims=True)


def _events(rng, n, users):
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tables(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }), f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }), f"{out}/lineitem.parquet")
    _write(_events(rng, int(1_000_000 * sf), int(15_000 * sf)), f"{out}/events.parquet")
    _write(_documents(rng, int(50_000 * sf)), f"{out}/documents.parquet")
    _write(_embeddings(rng, int(20_000 * sf), _centres(seed)), f"{out}/embeddings.parquet")


# ---- the ingest stream -------------------------------------------------------

# The stream's make-up, in one place. BATCH_SIZE is rudder-server's
# processor sub-job size (`Processor.subJobSize` default, BASELINE.md).
# The reference publishes no traffic mix, so every share below is an
# assumption of this benchmark; README.md says what each one drives.
BATCH_SIZE = 2000
MIX = {
    "redelivered": 0.05,     # deliveries that repeat a recent message (at-least-once)
    "redeliver_window": 3,   # ... drawn from the last 3 batches' first deliveries
    "anonymous": 0.40,       # anonymous tracks: no identity edge
    "identify": 0.10,        # identify calls: edge anonymous id -> user id
    "alias": 0.01,           # alias calls: edge user id -> user id; the rest are
                             # identified tracks (edge anonymous id -> user id)
    "anon_per_user": 2,      # anonymous ids a user's devices carry
    "stray_anon": 0.01,      # an anonymous id that belongs to another user
    "user_pool": 4,          # distinct users: 4 per delivery of a batch
    "optional_key": 0.30,    # each grown key f<j> is present in 30% of events
    "bad_qty": 0.02,         # `qty` as a string: lands in rudder_discards
    "bad_flag": 0.02,        # `flag` as a string: lands in rudder_discards
    "int_price": 0.02,       # an int in the float column: widens, stays typed
    "null_note": 0.05,       # a null value: not a leaf
}
ANON_BASE = 10_000_000  # identity node id of anonymous id n is ANON_BASE + n


def _props(rng, b, n):
    """Nested properties whose schema grows: key `f<j>` first appears in
    batch 2j, and a few values arrive with a type their column does not
    take (they must land in rudder_discards)."""
    out = []
    for _ in range(n):
        p = {
            "plan": str(rng.choice(["free", "pro", "team"])),
            "price": round(float(rng.integers(100, 10_000)) / 100 + 0.005, 3),
            "qty": int(rng.integers(1, 20)),
            "flag": bool(rng.random() < 0.5),
            "ctx": {"page": {"path": f"/p/{int(rng.integers(0, 50))}",
                             "meta": {"depth": int(rng.integers(0, 5))}},
                    "ip": f"10.0.{int(rng.integers(0, 255))}.{int(rng.integers(0, 255))}"},
            "when": f"2024-02-{int(rng.integers(1, 29)):02d}T{int(rng.integers(0, 24)):02d}:00:00Z",
        }
        for j in range(b // 2 + 1):
            if rng.random() < MIX["optional_key"]:
                p[f"f{j}"] = int(rng.integers(0, 1000)) if j % 3 == 0 else \
                    (f"s{int(rng.integers(0, 99))}" if j % 3 == 1 else round(float(rng.random()) + 0.5, 4))
        u = rng.random()
        if b > 0 and u < MIX["bad_qty"]:
            p["qty"] = "many"
        elif b > 0 and u < MIX["bad_qty"] + MIX["bad_flag"]:
            p["flag"] = "yes"
        elif u < MIX["bad_qty"] + MIX["bad_flag"] + MIX["int_price"]:
            p["price"] = int(rng.integers(1, 100))
        if rng.random() < MIX["null_note"]:
            p["note"] = None
        out.append(json.dumps(p))
    return out


def stream(out, seed, batches, size=BATCH_SIZE):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    users = MIX["user_pool"] * size
    per_user = MIX["anon_per_user"]
    delivered = []          # (message_id, row fields) of every first delivery so far
    row_id = 0
    received = np.datetime64("2024-03-01", "us").astype(np.int64)
    for b in range(batches):
        n_re = int(round(size * MIX["redelivered"]))
        n_new = size - n_re
        rows = {k: [] for k in ["row_id", "message_id", "anonymous_id", "user_id", "event_type",
                                "ts", "received_at", "value", "props", "src", "dst"]}
        props = _props(rng, b, size)

        def emit(msg, anon, user, event, ts, value, src, dst, i):
            nonlocal row_id, received
            received += int(rng.integers(1, 1000))
            rows["row_id"].append(row_id)
            rows["message_id"].append(msg)
            rows["anonymous_id"].append(anon)
            rows["user_id"].append(user)
            rows["event_type"].append(event)
            rows["ts"].append(ts)
            rows["received_at"].append(received)
            rows["value"].append(value)
            rows["props"].append(props[i])
            rows["src"].append(src)
            rows["dst"].append(dst)
            row_id += 1

        for i in range(n_new):
            u = int(rng.integers(0, users))
            a = int(rng.integers(0, users * per_user)) if rng.random() < MIX["stray_anon"] \
                else u * per_user + int(rng.integers(0, per_user))
            kind = rng.random()
            msg = f"m{seed}-{b}-{i}"
            ts = received - int(rng.integers(0, 600_000_000))
            value = round(float(rng.exponential(40.0)), 2)
            if kind < MIX["anonymous"]:
                fields = (f"a{a}", None, "track", ts, value, None, None)
            elif kind < MIX["anonymous"] + MIX["alias"]:
                v = int(rng.integers(0, users))
                fields = (None, f"u{u}", "alias", ts, value, v, u)
            else:
                event = "identify" if kind < MIX["anonymous"] + MIX["alias"] + MIX["identify"] else "track"
                fields = (f"a{a}", f"u{u}", event, ts, value, ANON_BASE + a, u)
            delivered.append((msg, fields))
            emit(msg, *fields, i)
        window = min(len(delivered), MIX["redeliver_window"] * size)
        for j in range(n_re):   # re-delivery of a recent message, with a new value
            msg, (anon, user, event, ts, value, src, dst) = \
                delivered[len(delivered) - 1 - int(rng.integers(0, window))]
            emit(msg, anon, user, event, ts, round(value + 1.0 + j, 2), src, dst, n_new + j)
        _write(pa.table({
            "row_id": pa.array(rows["row_id"], pa.int64()),
            "message_id": rows["message_id"],
            "anonymous_id": pa.array(rows["anonymous_id"], pa.string()),
            "user_id": pa.array(rows["user_id"], pa.string()),
            "event_type": rows["event_type"],
            "ts": _ts(np.array(rows["ts"], dtype=np.int64), "UTC"),
            "received_at": _ts(np.array(rows["received_at"], dtype=np.int64), "UTC"),
            "value": pa.array(rows["value"], pa.float64()),
            "props": rows["props"],
            "src": pa.array(rows["src"], pa.int64()),
            "dst": pa.array(rows["dst"], pa.int64()),
        }), f"{out}/batch_{b:05d}.parquet")
