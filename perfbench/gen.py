"""Seeded input corpora for the benchmark, with independently computed truth.

Every corpus is a pure function of ``(seed, rows)``: the same seed writes the
same bytes. Ground truth is computed here with the standard library alone
(``json`` / ``csv``) by reading the written file back, so it never depends on
the program under test. Corpora are cached under the checkout's
``.perfbench_cache/`` directory, keyed by kind, seed and size, and a cache
entry counts only once its ``truth.json`` exists.
"""

from __future__ import annotations

import csv
import json
import os
import random

# wide corpus: 40 top-level fields, one deep nested object
WIDE_CATS = [f"k{i:02d}" for i in range(50)]
WIDE_FILTER_CAT = "k03"
WIDE_COLUMNS_CAT = "k11"
WIDE_INT_THRESHOLD = 900_000  # i05 > threshold keeps ~10% of rows
# CSV corpus: ten string columns
CSV_CATS = [f"c{i:02d}" for i in range(50)]

_WORDS = (
    "spark scan table value part hash key agg row slow fast merge batch "
    "window order data column join small line customer query big filter "
    "sort group stream vector the a of and to in is that el la de que der "
    "die und le les et"
).split()
_CITIES = ["Lagos", "Lima", "Oslo", "Pune", "Quito", "Riga", "Sofia", "Tunis"]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _wide_row(rng: random.Random, i: int) -> dict:
    row: dict = {"id": i, "cat": rng.choice(WIDE_CATS)}
    for k in range(1, 16):
        row[f"i{k:02d}"] = rng.randint(0, 1_000_000)
    for k in range(1, 11):
        row[f"f{k:02d}"] = round(rng.uniform(0.0, 1e6), 2)
    for k in range(1, 11):
        row[f"s{k:02d}"] = _words(rng, 1, 5)
    row["meta"] = {
        "a": {
            "b": {
                "c": {
                    "leaf": rng.randint(0, 1000),
                    "s": _words(rng, 1, 3),
                    "x": round(rng.random(), 5),
                },
                "n": [rng.randint(0, 9) for _ in range(3)],
            },
            "w": _words(rng, 2, 6),
        },
        "z": {"q": rng.random() < 0.5, "r": _words(rng, 1, 2)},
    }
    row["flag"] = rng.random() < 0.3
    row["note"] = _words(rng, 3, 10)
    return row


def _csv_row(rng: random.Random, i: int) -> list[str]:
    note = _words(rng, 1, 6)
    if rng.random() < 0.05:
        note = f'{note}, "quoted"'  # exercises CSV quoting and escapes
    return [
        str(i),
        rng.choice(CSV_CATS),
        _words(rng, 1, 2),
        rng.choice(_CITIES),
        str(rng.randint(1, 50)),
        f"{rng.uniform(1, 10_000):.2f}",
        rng.choice(["true", "false"]),
        note,
        f"X{rng.randint(0, 99_999):05d}",
        f"199{rng.randint(5, 9)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
    ]


CSV_HEADER = ["id", "cat", "name", "city", "qty", "price", "flag", "note", "code", "day"]


def _wide_truth(path: str) -> dict:
    n = 0
    p_n = p_s = 0
    l_n = l_s = 0
    c_n = c_s = c_len = 0
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            r = json.loads(line)
            n += 1
            if r["i05"] > WIDE_INT_THRESHOLD:
                p_n += 1
                p_s += r["i05"]
            if r["cat"] == WIDE_FILTER_CAT:
                l_n += 1
                l_s += r["meta"]["a"]["b"]["c"]["leaf"]
            if r["cat"] == WIDE_COLUMNS_CAT:
                c_n += 1
                c_s += r["i07"]
                c_len += len(r["s03"])
    return {
        "rows": n,
        "project": [p_n, p_s],
        "leaf": [l_n, l_s],
        "columns": [c_n, c_s, c_len],
    }


def _csv_truth(path: str) -> dict:
    with open(path, encoding="utf-8", newline="") as fh:
        n = sum(1 for _ in csv.reader(fh)) - 1  # header
    return {"rows": n}


def _write_ndjson(path: str, seed: int, rows: int, make) -> None:
    rng = random.Random(seed)
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(rows):
            fh.write(json.dumps(make(rng, i), separators=(",", ":")))
            fh.write("\n")


def _write_csv(path: str, seed: int, rows: int) -> None:
    rng = random.Random(seed)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, lineterminator="\r\n")
        w.writerow(CSV_HEADER)
        for i in range(rows):
            w.writerow(_csv_row(rng, i))


def _cached(cache: str, kind: str, seed: int, rows: int, write, truth) -> dict:
    """Write (once) and return ``{"dir", "file", "truth"}`` for a corpus."""
    d = os.path.join(cache, f"{kind}-s{seed}-n{rows}")
    ext = "csv" if kind == "csv" else "json"
    f = os.path.join(d, f"data.{ext}")
    tpath = os.path.join(d, "truth.json")
    if not os.path.exists(tpath):
        os.makedirs(d, exist_ok=True)
        write(f)
        t = truth(f)
        t["bytes"] = os.path.getsize(f)
        with open(tpath + ".tmp", "w") as fh:
            json.dump(t, fh)
        os.replace(tpath + ".tmp", tpath)
    with open(tpath) as fh:
        return {"dir": d, "file": f, "truth": json.load(fh)}


def wide_corpus(cache: str, seed: int, rows: int) -> dict:
    return _cached(
        cache, "wide", seed, rows,
        lambda f: _write_ndjson(f, seed + 1, rows, _wide_row), _wide_truth,
    )


def csv_corpus(cache: str, seed: int, rows: int) -> dict:
    return _cached(
        cache, "csv", seed, rows, lambda f: _write_csv(f, seed + 2, rows), _csv_truth
    )


# ----------------------------------------------------------- query_mix tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]


def _tables(seed: int, n_orders: int) -> dict:
    """TPC-H-shaped star schema plus ``documents``, as pyarrow tables.

    Value domains follow the registered queries' predicates (segment
    'BUILDING', region 'ASIA', ship dates around 1995-03-15); money columns
    carry two decimals so the queries' DECIMAL sums stay exact.
    """
    import numpy as np
    import pyarrow as pa

    g = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders // 8, 50)
    n_docs = max(n_orders // 30, 50)
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    one_day = np.timedelta64(86_400_000_000, "us")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i % 97}" for i in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "SMALL", "LARGE", "PROMO"][i] for i in g.integers(0, 4, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(900, 2000, n_part),
    })
    o_date = day0 + g.integers(0, 2400, n_orders) * one_day
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_orders),
        "o_orderstatus": [["F", "O"][i] for i in g.integers(0, 2, n_orders)],
        "o_totalprice": money(1000, 400_000, n_orders),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in g.integers(0, 5, n_orders)],
    })
    per_order = g.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    l_ship = np.repeat(o_date, per_order) + g.integers(1, 120, n_li) * one_day
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in g.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in g.integers(0, 2, n_li)],
        "l_shipdate": pa.array(l_ship, pa.timestamp("us")),
    })
    rng = random.Random(seed)
    texts = [_words(rng, 20, 90) for _ in range(n_docs)]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "documents": documents,
    }


def mix_tables(cache: str, seed: int, n_orders: int) -> dict:
    """Parquet tables for ``query_mix``; ``dir`` is the queries' ``sf_dir``."""
    import pyarrow.parquet as pq

    d = os.path.join(cache, f"mix-s{seed}-n{n_orders}")
    done = os.path.join(d, "truth.json")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        sizes = {}
        for name, t in _tables(seed, n_orders).items():
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(t, p)
            sizes[name] = [t.num_rows, os.path.getsize(p)]
        with open(done + ".tmp", "w") as fh:
            json.dump({"tables": sizes}, fh)
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        return {"dir": d, "truth": json.load(fh)}
