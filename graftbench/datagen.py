"""Seeded input generation for the benchmark workloads.

Everything the program reads is produced here from ``--seed``: the
star schema plus ``events``/``documents``/``embeddings`` at the shape of
the engine's sf testdata (same table names, column names and types, value
domains), the reference-dialect ``.table.json`` tables, and the Zipf
corpus plus append batches of the ingest workload. The same seed gives
byte-identical files; nothing is read from outside the output directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (TPC-H shape; the side tables scale
# the way the engine's sf testdata does: sf0.1 = 5000 docs, 100k events).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_COLORS = ("red", "blue", "green", "small", "large", "shiny")
PART_NOUNS = ("widget", "bolt", "ring", "gear", "nut", "panel")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
# The testdata corpus vocabulary (30 words; "dup" marks planted
# near-duplicates, as in the engine's sf testdata).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z in seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table): adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(table: pa.Table, path: str) -> None:
    # No pandas metadata and a fixed writer config: identical bytes per seed.
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _days_ts(days: np.ndarray, base_s: int) -> pa.Array:
    return pa.array(base_s * 1_000_000 + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _texts(rng, n: int, mean_words: int) -> list[str]:
    lens = np.clip(rng.poisson(mean_words, n), 5, 4 * mean_words)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def documents_table(seed: int, n: int, first_id: int = 0, stream: str = "documents") -> pa.Table:
    """``documents`` rows with planted duplicates: ~5% of docs repeat an
    earlier doc's text plus a trailing ``dup`` token (near duplicates),
    and ~0.2% of docs repeat such a near duplicate verbatim (exact)."""
    rng = _rng(seed, stream)
    texts = _texts(rng, n, 55)
    near = rng.random(n) < 0.05
    for i in np.flatnonzero(near):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = np.flatnonzero(near)
    for i in exact[rng.random(len(exact)) < 0.04]:
        j = int(rng.integers(i + 1, n)) if i + 1 < n else None
        if j is not None:
            texts[j] = texts[i]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables at ``scale`` (fraction of TPC-H SF1)."""
    n = {k: max(1, round(v * scale)) for k, v in ROWS_AT_SF1.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _cents(r, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[k] for k in r.integers(0, 5, nc)],
        }
    )
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(r, -999.99, 9999.99, ns),
        }
    )
    r = _rng(seed, "part")
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": [
                f"{PART_COLORS[a]} {PART_NOUNS[b]}"
                for a, b in zip(r.integers(0, 6, np_), r.integers(0, 6, np_))
            ],
            "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, np_)],
            "p_type": [PART_TYPES[k] for k in r.integers(0, 6, np_)],
            "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
        }
    )
    r = _rng(seed, "orders")
    no = n["orders"]
    odays = r.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, nc, no)),
            "o_orderstatus": [("F", "O", "P")[k] for k in r.integers(0, 3, no)],
            "o_totalprice": _cents(r, 1000.0, 500000.0, no),
            "o_orderdate": _days_ts(odays, _EPOCH_1995),
            "o_orderpriority": [PRIORITIES[k] for k in r.integers(0, 5, no)],
        }
    )
    # lineitem: 1..7 lines per order (mean 4), shipped 1..120 days later.
    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, no)
    okeys = np.repeat(np.arange(no, dtype=np.int64), per)
    nl = len(okeys)
    starts = np.repeat(np.cumsum(per) - per, per)
    linenos = (np.arange(nl) - starts + 1).astype(np.int32)
    flags = r.integers(0, 3, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys),
            "l_partkey": pa.array(r.integers(0, np_, nl)),
            "l_suppkey": pa.array(r.integers(0, ns, nl)),
            "l_linenumber": pa.array(linenos),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(r, 900.0, 105000.0, nl),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in flags],
            "l_linestatus": [("F", "O")[k] for k in r.integers(0, 2, nl)],
            "l_shipdate": _days_ts(np.repeat(odays, per) + r.integers(1, 121, nl), _EPOCH_1995),
        }
    )
    r = _rng(seed, "events")
    ne = n["events"]
    users = max(10, round(15_000 * scale))
    ts = np.sort(r.integers(0, 30 * _DAY_US, ne)) + _EPOCH_2024 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, users, ne)),
            "event_type": [EVENT_TYPES[k] for k in r.integers(0, 5, ne)],
            "value": _cents(r, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        }
    )
    out["documents"] = documents_table(seed, n["documents"])
    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    vecs = r.normal(0.0, 0.12, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_star(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, scale).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """Only ``<out_dir>/documents.parquet``, as ``write_star`` writes it."""
    _write(documents_table(seed, n), os.path.join(out_dir, "documents.parquet"))


def write_table_json(out_dir: str, seed: int, n_cities: int = 1000) -> dict[str, int]:
    """Reference-dialect tables (``[[col, type], ...]`` header + rows):
    ``countries(name, continent)`` and ``cities(name, country,
    population)``."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "table_json")
    continents = ("Africa", "Asia", "Europe", "Oceania")
    countries = [[f"Country{i:03d}", continents[k]] for i, k in enumerate(r.integers(0, 4, 120))]
    cities = [
        [f"City{i:05d}", countries[int(c)][0], int(p)]
        for i, (c, p) in enumerate(zip(r.integers(0, 120, n_cities), r.integers(1_000, 20_000, n_cities)))
    ]
    tables = {
        "countries": [[["name", "str"], ["continent", "str"]], *countries],
        "cities": [[["name", "str"], ["country", "str"], ["population", "int"]], *cities],
    }
    for name, payload in tables.items():
        with open(os.path.join(out_dir, f"{name}.table.json"), "w") as fh:
            json.dump(payload, fh)
    return {name: len(payload) - 1 for name, payload in tables.items()}


def zipf_documents(seed: int, n: int, first_id: int, stream: str, vocab: int = 3000) -> pa.Table:
    """A ``documents`` slice whose tokens follow a Zipf law over
    ``vocab`` terms (``t0`` most frequent), plus the BM25 demo terms
    ``dup``/``hash``/``stream`` at fixed low rates so every generation
    moves the served top-20."""
    rng = _rng(seed, stream)
    lens = np.clip(rng.poisson(40, n), 5, 160)
    ranks = np.minimum(rng.zipf(1.2, int(lens.sum())), vocab) - 1
    extra = rng.choice(np.array(["dup", "hash", "stream", ""]), n, p=[0.02, 0.03, 0.05, 0.90])
    texts, pos = [], 0
    for k, e in zip(lens, extra):
        words = [f"t{w}" for w in ranks[pos : pos + k]]
        if e:
            words.insert(int(rng.integers(0, k)), str(e))
        texts.append(" ".join(words))
        pos += k
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def write_ingest(out_dir: str, seed: int, base_docs: int, batch_docs: int, generations: int) -> dict:
    """Base corpus ``<out_dir>/base/documents.parquet`` plus one batch
    file per generation under ``<out_dir>/batches/``."""
    os.makedirs(os.path.join(out_dir, "base"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    _write(zipf_documents(seed, base_docs, 0, "base"), os.path.join(out_dir, "base", "documents.parquet"))
    batches = []
    for g in range(generations):
        path = os.path.join(out_dir, "batches", f"gen{g:02d}.parquet")
        _write(zipf_documents(seed, batch_docs, base_docs + g * batch_docs, f"gen{g}"), path)
        batches.append(path)
    return {"base": os.path.join(out_dir, "base"), "batches": batches}
