"""Seeded input generators.

Every input the benchmark hands the program is made here from the
``--seed`` argument: the same seed gives byte-identical inputs, another
seed gives different ones. Nothing is read from outside the checkout.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np

# Independent random streams per input family, so adding draws to one
# family never shifts another.
_STREAMS = {
    "cities": 1,
    "elt_ops": 3,  # op order of ingest_merge
    "corpus": 4,
    "analytics_ops": 5,
    "lake_ops": 6,
    "events": 7,
}


def rng(seed: int, stream: str, *extra: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, _STREAMS[stream], *extra]))


# --- hourly ELT --------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ren", "tos", "va", "dun", "el", "bra", "sen", "qui", "mar", "ot", "ly", "zed", "por"]


def cities(seed: int, n: int = 200) -> list[str]:
    """``n`` distinct two-word city names (distinct after the pipeline's
    lower/underscore key normalization too)."""
    r = rng(seed, "cities")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        words = [
            "".join(r.choice(_SYL, size=int(r.integers(2, 4)))).capitalize()
            for _ in range(2)
        ]
        name = " ".join(words)
        key = name.lower().replace(" ", "_")
        if key not in seen:
            seen.add(key)
            out.append(name)
    return out


def run_hr(hour_index: int) -> int:
    """Run-hour key (yyyyMMddHH00) of the ``hour_index``-th hour after
    2024-01-15 00:00."""
    t = datetime(2024, 1, 15) + timedelta(hours=hour_index)
    return int(t.strftime("%Y%m%d%H00"))


def weather_doc(seed: int, city: str, hr: int) -> str:
    """One API document in the reference's landing form: the Python
    ``str()`` of the JSON dict (single quotes, ``None``). The fixture
    document only renders valid timestamps for offsets 0-23, so the
    offset is drawn from that range; measured fields get seeded values."""
    from sandbox_data_pipeline_spark import fixtures

    r = random.Random(f"{seed}|{city}|{hr}")
    doc = fixtures._weather_doc(city, r.randrange(24))
    cur = doc["current"]
    cur["temp_c"] = round(r.uniform(-20.0, 40.0), 1)
    cur["temp_f"] = round(cur["temp_c"] * 1.8 + 32.0, 1)
    cur["humidity"] = r.randrange(5, 100)
    cur["wind_kph"] = round(r.uniform(0.0, 60.0), 1)
    cur["wind_mph"] = round(cur["wind_kph"] / 1.609, 1)
    return str(doc)


# --- analytics corpus ----------------------------------------------------------

_WORDS = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join customer the a"
).split()


def corpus(seed: int, sf: float = 0.1) -> dict:
    """The TPC-H-shaped star schema plus events/documents/embeddings,
    as pyarrow tables keyed by the names ``catalog.table`` scans."""
    import pyarrow as pa

    r = rng(seed, "corpus")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    day0 = np.datetime64("1995-01-01", "us")
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "cap"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "), noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    tables["orders"] = orders_table(seed, n_ord, n_cust)
    tables["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": day0 + r.integers(1, 2500, n_li) * np.timedelta64(86_400_000_000, "us"),
    })
    n_ev, n_users = int(1_000_000 * sf), 1500
    ev_types = np.array(["signup", "view", "click", "purchase", "error"])
    ts0 = np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(ts0 + r.integers(0, 30 * 86_400_000_000, n_ev) * np.timedelta64(1, "us")),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": ev_types[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    n_doc = int(50_000 * sf)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = str(r.choice(_WORDS))
        else:
            words = list(r.choice(_WORDS, size=int(r.integers(8, 80))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "zh", "es", "fr", "de"])[r.integers(0, 6, n_doc)],
        "source": [f"src{k}" for k in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec, dim = int(20_000 * sf), 64
    vec = r.standard_normal((n_vec, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype(np.int32),
    })
    return tables


def write_tables(tables: dict, out_dir: str) -> int:
    """One parquet file per table; returns bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total


def orders_table(seed: int, n: int = 150_000, n_cust: int = 15_000):
    import pyarrow as pa

    r = rng(seed, "corpus", 1)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": np.datetime64("1995-01-01", "us")
        + r.integers(0, 2400, n) * np.timedelta64(86_400_000_000, "us"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n)],
    })


def analytics_passes(seed: int, names: list[str], n_passes: int, first_pass: int = 0) -> list[str]:
    """Shuffled passes: each pass runs every query once, in a seeded order."""
    out: list[str] = []
    for p in range(first_pass, first_pass + n_passes):
        order = list(names)
        rng(seed, "analytics_ops", p).shuffle(order)
        out += order
    return out


# --- lakehouse -----------------------------------------------------------

def merge_rows(r: np.random.Generator, max_key: int, n_update: int = 1500, n_new: int = 500) -> list[tuple]:
    """Upsert source: ``n_update`` distinct keys from the newest 10 % of
    the key space (recent keys favoured) plus ``n_new`` keys past the
    current maximum. Rows follow the ``orders`` schema."""
    span = max(n_update, (max_key + 1) // 10)
    w = np.exp(-np.arange(span) / (span / 3.0))
    back = r.choice(span, size=n_update, replace=False, p=w / w.sum())
    keys = np.concatenate([max_key - back, np.arange(max_key + 1, max_key + 1 + n_new)])
    n = len(keys)
    cust = r.integers(0, 15_000, n)
    status = np.array(["P", "O", "F"])[r.integers(0, 3, n)]
    price = np.round(r.uniform(1000.0, 500000.0, n), 2)
    days = r.integers(0, 2400, n)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n)]
    d0 = datetime(1995, 1, 1)
    return [
        (int(k), int(c), str(s), float(p), d0 + timedelta(days=int(d)), str(pr))
        for k, c, s, p, d, pr in zip(keys, cust, status, price, days, prio)
    ]


# --- stream micro-batches -----------------------------------------------------------

EVENT_TYPES = ("signup", "view", "click", "purchase", "error")
STREAM_T0 = datetime(2024, 1, 15)


def event_batch(seed: int, batch: int, n: int = 20_000, window_min: int = 20,
                late_min: int = 30, late_frac: float = 0.05, dup_frac: float = 0.02) -> list[dict]:
    """One landed file's events: ``n`` rows covering ``window_min``
    minutes of event time starting ``batch * window_min`` minutes after
    the stream epoch; ``late_frac`` of them are up to ``late_min``
    minutes late, and ``dup_frac`` are exact copies of another row
    (same ``event_id``). Event ids are unique across batches."""
    r = rng(seed, "events", batch)
    n_dup = int(n * dup_frac)
    n_uniq = n - n_dup
    start = STREAM_T0 + timedelta(minutes=batch * window_min)
    off_us = r.integers(0, window_min * 60_000_000, n_uniq)
    late = r.random(n_uniq) < late_frac
    off_us = off_us - late * r.integers(0, late_min * 60_000_000, n_uniq)
    users = r.integers(0, 5_000, n_uniq)
    types = r.integers(0, len(EVENT_TYPES), n_uniq)
    values = np.round(r.exponential(40.0, n_uniq), 2)
    base_id = batch * n
    rows = [
        {
            "event_id": base_id + i,
            "ts": (start + timedelta(microseconds=int(off_us[i]))).isoformat(timespec="microseconds"),
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[types[i]],
            "value": float(values[i]),
            "props": json.dumps({"k": int(users[i] % 100)}),
        }
        for i in range(n_uniq)
    ]
    dups = r.integers(0, n_uniq, n_dup)
    rows += [dict(rows[int(j)]) for j in dups]
    order = r.permutation(len(rows))
    return [rows[int(j)] for j in order]
