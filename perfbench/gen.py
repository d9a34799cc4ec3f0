"""Seeded input generator for the benchmark.

Builds the ten fixture tables (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) with the same schemas, row counts and
value distributions as the repository's sf0.1 fixture.  Generation has
two stages:

1. A *base* copy from a fixed internal seed.  Its text and vectors never
   change, so MinHash/SimHash/RP-LSH buckets replay exactly from seed to
   seed and the DuckDB oracles keep holding (q20's LSH recall is only
   P > 0.999 per pair; re-rolling the text would re-roll collisions).
2. Per benchmark seed, every surrogate-key domain gets its own seeded
   permutation of its existing values, applied to every column that
   carries that key, and every table's rows are shuffled.

The program under test only ever sees the generated directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

BASE_SEED = 20240101
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# Row counts of the sf0.1 fixture, except ``documents`` and ``embeddings``:
# 1,000 each instead of 5,000 and 2,000.  The corpus oracles grow faster than linearly
# (q199's takes 19 s at 5,000 documents, 2.6 s at 1,000), and a run on a
# fresh seed must compute them.
FULL = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 1_000, "embeddings": 1_000,
}
# The warm-up set: the sf0.001 fixture's sizes.
TINY = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500,
}

# (table, column) pairs per surrogate-key domain.  doc_id and vec_id share
# one domain so an embedding stays aligned with its document; there is one
# embedding per document, so vec_id stays the dense id range queries pick
# their query and seed vectors from.
KEY_DOMAINS = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "doc_id": [("documents", "doc_id"), ("embeddings", "vec_id")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
}
# The column whose values define each domain (unique in its table).
DOMAIN_OWNER = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "doc_id": ("documents", "doc_id"),
    "event_id": ("events", "event_id"),
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n):
    base = np.datetime64(start, "D")
    span = (end - start).days
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def base_tables(sizes: dict[str, int]) -> dict[str, pa.Table]:
    """The fixed base copy: fixture-shaped tables from BASE_SEED."""
    rng = np.random.default_rng(BASE_SEED)
    n = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adj = np.array(["large", "hot", "blue", "small", "green", "shiny", "red", "cold"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, np_)], " "), noun[rng.integers(0, 8, np_)]
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    ne = n["events"]
    n_users = max(10, ne * 3 // 200)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)
        ],
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def _domain_permutation(rng, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted keys, the value each maps to): a seeded permutation of a
    domain's existing values."""
    keys = np.sort(values)
    return keys, rng.permutation(keys)


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Seeded key-domain permutation plus row shuffle of a base copy."""
    rng = np.random.default_rng([seed, 1])
    out = dict(tables)
    for dom, refs in KEY_DOMAINS.items():
        if dom in DOMAIN_OWNER:
            t, c = DOMAIN_OWNER[dom]
            values = tables[t].column(c).to_numpy()
        else:  # user_id has no dimension table: its domain is the values seen
            values = np.unique(tables["events"].column("user_id").to_numpy())
        keys, vals = _domain_permutation(rng, values)
        for t, c in refs:
            i = out[t].schema.get_field_index(c)
            old = out[t].column(c).to_numpy()
            new = pa.array(vals[np.searchsorted(keys, old)], out[t].schema.field(c).type)
            out[t] = out[t].set_column(i, out[t].schema.field(c), new)
    return {t: tab.take(pa.array(rng.permutation(tab.num_rows))) for t, tab in out.items()}


def write_dir(tables: dict[str, pa.Table], path: str, manifest: dict) -> None:
    """Write the tables atomically: a half-written directory is never
    mistaken for a cached one."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, path)


def validate(tables: dict[str, pa.Table], sizes: dict[str, int]) -> list[str]:
    """Generator checks; returns the list of problems (empty when valid)."""
    problems = []
    expected = {"region": 5, "nation": 25, **sizes}
    for t in TABLES:
        if tables[t].num_rows != expected[t]:
            problems.append(f"{t}: {tables[t].num_rows} rows, expected {expected[t]}")
    for dom, (t, c) in DOMAIN_OWNER.items():
        col = tables[t].column(c).to_numpy()
        if len(np.unique(col)) != len(col):
            problems.append(f"{dom}: {t}.{c} is not unique")
    for dom, refs in KEY_DOMAINS.items():
        if dom not in DOMAIN_OWNER:
            continue
        t, c = DOMAIN_OWNER[dom]
        domain = tables[t].column(c).to_numpy()
        for rt, rc in refs:
            if not np.isin(tables[rt].column(rc).to_numpy(), domain).all():
                problems.append(f"{dom}: {rt}.{rc} has values outside {t}.{c}")
    vec = tables["embeddings"].column("vec_id").to_numpy()
    if np.sort(vec).tolist() != list(range(len(vec))):
        problems.append("embeddings.vec_id is not the dense doc_id prefix")
    return problems


def ensure(root: str, seed: int | None) -> str:
    """Return the generated directory for ``seed`` (None: the seed-free
    warm-up set), generating and validating it on first use."""
    name = "warmup" if seed is None else f"seed-{seed}"
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "manifest.json")):
        return path
    sizes = TINY if seed is None else FULL
    tables = base_tables(sizes)
    if seed is not None:
        tables = permute(tables, seed)
    problems = validate(tables, sizes)
    if problems:
        raise ValueError(f"generated inputs for {name} are invalid: {problems}")
    counts = {t: tables[t].num_rows for t in TABLES}
    write_dir(tables, path, {"seed": seed, "rows": counts})
    return path


def source_rows(path: str) -> dict[str, int]:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)["rows"]
