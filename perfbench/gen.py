"""Seeded input generator for the benchmark workloads.

Everything here is NumPy + PyArrow on the driver, never Spark, so input
generation is cheap, deterministic for a seed and excluded from every
timed region.  The tables follow the schema and value domains of the
engine's test fixtures (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), so the frozen golden HiveQL corpus and
the query registry run over them unchanged.

Scales are in TPC-H-style scale-factor units: ``sf=0.001`` gives 6,000
lineitem rows, ``sf=0.1`` gives 600,000.  ``fact_files`` writes lineitem
and orders as several parquet files, so their scans have several splits.

Run as a script it writes one dataset and its ``manifest.json``:

    python3 perfbench/gen.py --out DIR --seed 1 --sizes '{"sf": 0.001}'

"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a the big small fast slow data table row column key value join merge "
    "sort hash scan filter group agg window query spark stream batch order "
    "line part customer vector dup"
).split()
EMB_DIM = 64

_DAY = np.timedelta64(1, "D")
ORDER_LO = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_LO = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # through 2001-11-04


def _ts(days: np.ndarray, lo: np.datetime64) -> pa.Array:
    return pa.array((lo + days * _DAY).astype("datetime64[us]"))


def _write(table: pa.Table, out_dir: str, name: str, files: int = 1) -> None:
    """Write ``name.parquet`` as one file, or as a directory of ``files``
    row-contiguous parts (Spark and DuckDB both read either form)."""
    path = os.path.join(out_dir, f"{name}.parquet")
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(rng.choice(VOCAB, size=n))


def warehouse_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-like star schema plus ``events`` at scale ``sf``."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(25, dtype=np.int32)
    nation = pa.table(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": (nk % 5).astype(np.int32),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(rng.integers(0, ORDER_DAYS + 1, n_ord), ORDER_LO),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(rng.integers(0, SHIP_DAYS + 1, n_li), SHIP_LO),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def documents_table(
    rng: np.random.Generator, n_docs: int, near_dup_rate: float = 0.0, exact_dup_rate: float = 0.0
) -> tuple[pa.Table, list[tuple[int, int]], int]:
    """``n_docs`` synthetic documents.  A ``near_dup_rate`` share of them is
    replaced by a near-duplicate of an earlier original (two of at least
    80 words substituted, so the word-3-gram Jaccard similarity with the
    original stays at or above 0.85) and an ``exact_dup_rate`` share by a
    byte-identical copy.  Returns the
    table, the planted near-duplicate pairs (original id, copy id) and the
    number of planted exact copies."""
    lens = rng.integers(10, 101, n_docs)
    texts = [_words(rng, int(n)) for n in lens]
    ids = np.arange(n_docs, dtype=np.int64)
    n_near = int(round(n_docs * near_dup_rate))
    n_exact = int(round(n_docs * exact_dup_rate))
    planted: list[tuple[int, int]] = []
    if n_near or n_exact:
        # copies are drawn from the second half, originals from the first,
        # so no copy is ever itself an original
        half = n_docs // 2
        copies = rng.choice(np.arange(half, n_docs), size=n_near + n_exact, replace=False)
        originals = rng.choice(half, size=n_near + n_exact, replace=False)
        for i, (o, c) in enumerate(zip(originals.tolist(), copies.tolist())):
            words = texts[o].split(" ")
            if len(words) < 80:  # too short to stay near-identical after edits
                words = words + _words(rng, 80 - len(words)).split(" ")
                texts[o] = " ".join(words)
            if i < n_near:
                edited = list(words)
                for pos in rng.choice(len(edited), size=2, replace=False).tolist():
                    edited[pos] = VOCAB[(VOCAB.index(edited[pos]) + 1) % len(VOCAB)]
                texts[c] = " ".join(edited)
                planted.append((o, c))
            else:
                texts[c] = texts[o]
    docs = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, size=n_docs, p=LANG_P)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return docs, planted, n_exact


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, size=(n, EMB_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        }
    )


def write_dataset(
    out_dir: str,
    seed: int,
    sf: float,
    n_docs: int = 500,
    n_vecs: int = 500,
    fact_files: int = 1,
    near_dup_rate: float = 0.0,
    exact_dup_rate: float = 0.0,
) -> dict:
    """Write all ten tables under ``out_dir`` (replacing it) and return a
    description of what was generated, including the planted duplicates."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    tables = warehouse_tables(rng, sf)
    docs, planted, n_exact = documents_table(rng, n_docs, near_dup_rate, exact_dup_rate)
    tables["documents"] = docs
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    for name, table in tables.items():
        files = fact_files if name in ("lineitem", "orders") else 1
        _write(table, out_dir, name, files)
    return {
        "dir": out_dir,
        "seed": seed,
        "sf": sf,
        "rows": {name: table.num_rows for name, table in tables.items()},
        "near_dup_pairs": planted,
        "near_dup_rate": near_dup_rate,
        "exact_dup_copies": n_exact,
        "exact_dup_rate": exact_dup_rate,
    }


def main() -> None:
    import argparse
    import json

    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sizes", required=True, help="JSON keyword arguments of write_dataset")
    args = ap.parse_args()
    manifest = write_dataset(args.out, args.seed, **json.loads(args.sizes))
    with open(os.path.join(args.out, "manifest.json"), "w") as f:
        json.dump(manifest, f)


if __name__ == "__main__":
    main()
