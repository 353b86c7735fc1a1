"""Seeded input generator for the benchmark workloads.

Every table has the schema of the engine's parquet catalog (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), so the
engine reads generated inputs exactly like its own test data. The same
seed always yields byte-identical files.

Replicas are drawn afresh from the seed and *salted*: replica ``r``
offsets every key by ``r * KEY_STRIDE`` and tags every document text
with a per-replica token, so keys and texts of different replicas never
collide and replica-level dedup cannot fold them together. Copies of an
existing file (the replayed corpus drops) are salted the way
``tools/scaling_probe.py`` salts its sf0.1 copies: every token gets the
copy's tag as a prefix.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000
REPLAY_STRIDE = 100 * KEY_STRIDE  # above every generated key range

VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark group query row data slow filter customer line value "
    "agg column vector big index shuffle ledger account balance report"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL")
ADJ = ("cold", "small", "large", "blue", "red", "green", "fast", "slow")
NOUN = ("widget", "bolt", "rod", "gear", "nut", "pipe", "valve", "spring")
EVENT_TYPES = ("signup", "view", "click", "purchase", "error")
EPOCH_1995 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - EPOCH_1995).days
EVENTS_T0 = dt.datetime(2024, 1, 1)
EMB_DIM = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"))
    return pa.array(micros, pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def star_tables(rng: np.random.Generator, n_orders: int, n_cust: int, n_part: int,
                n_supp: int, n_events: int, n_users: int, replica: int = 0) -> dict:
    """Columns of every ledger-side table, keys offset by the replica."""
    off = replica * KEY_STRIDE
    cust = np.arange(n_cust, dtype=np.int64) + off
    part = np.arange(n_part, dtype=np.int64) + off
    supp = np.arange(n_supp, dtype=np.int64)
    okey = np.arange(n_orders, dtype=np.int64) + off
    odays = rng.integers(0, ORDER_DAYS, n_orders)
    lines_per = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okey, lines_per)
    l_odays = np.repeat(odays, lines_per)
    starts = np.cumsum(lines_per) - lines_per
    l_num = (np.arange(lines_per.sum()) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    n_lines = len(l_okey)
    price = np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2)
    l_part = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ext = np.round(qty * price[l_part] * rng.uniform(0.9, 1.1, n_lines), 2)
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": cust,
            "c_name": [f"Customer#{k:09d}" for k in cust],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": supp,
            "s_name": [f"Supplier#{k:09d}" for k in supp],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": part,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": price,
        },
        "orders": {
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64) + off,
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _ts(EPOCH_1995, odays * 86400.0),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        },
        "lineitem": {
            "l_orderkey": l_okey,
            "l_partkey": l_part.astype(np.int64) + off,
            "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
            "l_linenumber": pa.array(l_num),
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_lines)],
            "l_shipdate": _ts(EPOCH_1995, (l_odays + rng.integers(1, 121, n_lines)) * 86400.0),
        },
        "events": events_columns(rng, n_events, n_users, replica),
    }


def events_columns(rng: np.random.Generator, n: int, n_users: int, replica: int = 0) -> dict:
    off = replica * KEY_STRIDE
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    return {
        "event_id": np.arange(n, dtype=np.int64) + off,
        "ts": _ts(EVENTS_T0, secs),
        "user_id": rng.integers(0, n_users, n).astype(np.int64) + off,
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 330.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _text(rng: np.random.Generator, n_words: int, salt: str) -> str:
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)]
    words.insert(int(rng.integers(0, n_words + 1)), salt)
    return " ".join(words)


def document_columns(rng: np.random.Generator, n: int, first_id: int, salt: str) -> dict:
    """Documents with seeded exact duplicates (5%), near duplicates
    (one word changed, 5%) and Gopher-repetitive texts (3%)."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if texts and roll < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and roll < 0.10:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif roll < 0.13:
            texts.append(" ".join(["spark data line"] * int(rng.integers(8, 20))))
        else:
            texts.append(_text(rng, int(rng.integers(12, 90)), f"{salt}{i}"))
    return {
        "doc_id": np.arange(n, dtype=np.int64) + first_id,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embedding_columns(rng: np.random.Generator, ids: np.ndarray) -> dict:
    vecs = rng.normal(0.0, 1.0, (len(ids), EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": ids.astype(np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)).astype(np.int32)),
    }


def write_catalog(out_dir: str, seed: int, n_orders: int, n_docs: int = 200) -> dict:
    """Write one full table catalog (every table ``tables.TABLES`` names)
    and return {table: row count}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(rng, n_orders, n_cust=max(n_orders // 10, 50),
                         n_part=max(n_orders // 8, 100), n_supp=30,
                         n_events=max(n_orders // 2, 500), n_users=60)
    docs = document_columns(rng, n_docs, 0, "s")
    tables["documents"] = docs
    tables["embeddings"] = embedding_columns(rng, docs["doc_id"][: n_docs // 2])
    return {name: _write(os.path.join(out_dir, f"{name}.parquet"), cols)
            for name, cols in tables.items()}


# -- nightly increments ---------------------------------------------------

LINEITEM_CSV = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")
ORDERS_CSV = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
CUSTOMER_CSV = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


def _csv_rows(cols: dict, names: tuple[str, ...]) -> list[list]:
    out = []
    series = [cols[n].to_pylist() if isinstance(cols[n], pa.Array) else list(cols[n])
              for n in names]
    for row in zip(*series):
        out.append([v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, dt.datetime) else v
                    for v in row])
    return out


def _write_csv(path: str, names: tuple[str, ...], rows: list[list]) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(names)
        w.writerows(rows)
    return len(rows)


def write_night(out_dir: str, seed: int, night: int, n_orders: int, master_parts: int,
                master_custs: int, bad_frac: float = 0.01, unknown_frac: float = 0.02) -> dict:
    """One nightly increment: a salted replica (replica = night + 1) of
    orders, lineitem, customer and events as CSV/parquet drops, with a
    seeded share of malformed CSV rows and of rows whose master key
    (part for lineitem, customer for orders) is unknown. Returns the
    exact counts the close must conserve."""
    rng = np.random.default_rng([seed, night])
    replica = night + 1
    t = star_tables(rng, n_orders, n_cust=max(n_orders // 10, 20), n_part=master_parts,
                    n_supp=30, n_events=n_orders, n_users=40, replica=replica)
    off = replica * KEY_STRIDE
    # lineitems reference the STANDING part master (keys 0..master_parts)
    li = t["lineitem"]
    n_li = len(li["l_orderkey"])
    li["l_partkey"] = li["l_partkey"] - off
    unknown_li = rng.random(n_li) < unknown_frac
    li["l_partkey"] = np.where(unknown_li, li["l_partkey"] + 5 * KEY_STRIDE, li["l_partkey"])
    orders = t["orders"]
    n_o = len(orders["o_orderkey"])
    # orders reference known customers: the standing master or tonight's new ones
    known = np.where(rng.random(n_o) < 0.5, rng.integers(0, master_custs, n_o),
                     orders["o_custkey"])
    unknown_o = rng.random(n_o) < unknown_frac
    orders["o_custkey"] = np.where(unknown_o, known + 7 * KEY_STRIDE, known)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, names, cols, unknown in (
        ("lineitem", LINEITEM_CSV, li, int(unknown_li.sum())),
        ("orders", ORDERS_CSV, orders, int(unknown_o.sum())),
        ("customer", CUSTOMER_CSV, t["customer"], 0),
    ):
        rows = _csv_rows(cols, names)
        bad = 0
        if name != "customer":
            for i in np.flatnonzero(rng.random(len(rows)) < bad_frac):
                rows[i] = list(rows[i])
                rows[i][0] = f"corrupt{i}"  # non-numeric key: PERMISSIVE channel
                bad += 1
                if name == "lineitem" and unknown_li[i]:
                    unknown -= 1
                if name == "orders" and unknown_o[i]:
                    unknown -= 1
        counts[name] = {"rows": _write_csv(os.path.join(out_dir, f"{name}.csv"), names, rows),
                        "corrupt": bad, "unknown": unknown}
    ev = t["events"]
    counts["events"] = {"rows": _write(os.path.join(out_dir, "events.parquet"), ev)}
    counts["bytes"] = sum(os.path.getsize(os.path.join(out_dir, f))
                          for f in os.listdir(out_dir))
    return counts


# -- corpus ----------------------------------------------------------------

def write_corpus(out_dir: str, seed: int, n_docs: int, n_drops: int, drop_docs: int) -> dict:
    """The phase-1 corpus (``corpus.parquet``), a benchmark set for
    decontamination (``bench.parquet``) and ``n_drops`` held-back drop
    files with disjoint doc_id ranges (``drops/drop_K.parquet``)."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(os.path.join(out_dir, "drops"), exist_ok=True)
    corpus = document_columns(rng, n_docs, 0, "c")
    bench_ids = np.arange(50, dtype=np.int64) + 90 * KEY_STRIDE
    # benchmark docs: copies of a few corpus texts (contamination) plus fresh texts
    bench_text = [corpus["text"][int(i)] for i in rng.integers(0, n_docs, 10)]
    bench_text += [_text(rng, 40, f"b{i}") for i in range(40)]
    bench = {"doc_id": bench_ids, "text": bench_text}
    counts = {
        "corpus": _write(os.path.join(out_dir, "corpus.parquet"), corpus),
        "bench": _write(os.path.join(out_dir, "bench.parquet"), bench),
    }
    counts["drops"] = []
    for k in range(n_drops):
        d = document_columns(rng, drop_docs, (k + 1) * KEY_STRIDE, f"d{k}_")
        counts["drops"].append(_write(os.path.join(out_dir, "drops", f"drop_{k}.parquet"),
                                      {"doc_id": d["doc_id"], "text": d["text"]}))
    return counts


def salt_drop(src: str, dst: str, replay: int) -> int:
    """Write a salted copy of the drop file ``src``: doc ids offset by
    ``replay * REPLAY_STRIDE`` and every text token prefixed with
    ``r<replay>``, so the copy shares no id, token or shingle with any
    generated drop or earlier copy."""
    table = pq.read_table(src)
    tag = f"r{replay}"
    ids = np.asarray(table.column("doc_id").to_numpy(), dtype=np.int64) + replay * REPLAY_STRIDE
    texts = [" ".join(tag + t for t in text.split(" "))
             for text in table.column("text").to_pylist()]
    return _write(dst, {"doc_id": ids, "text": texts})
