"""Seeded input generation for the benchmark workloads.

Every table is synthesized here from the workload seed with NumPy and
written with PyArrow, so a run reads nothing outside its checkout and the
same seed always yields byte-identical inputs. The generators are fitted
to the package's fixture tables (``FIXTURES.md``; the measured figures are
in ``perfbench/README.md``, "Inputs"): the same schemas, row counts per
scale factor, key ranges, value ranges and distributions, the same
30-word document vocabulary, document lengths uniform over 10-100 words,
exactly 5% near-duplicates made by appending " dup" to another document,
and unit-norm 64-d Gaussian embeddings.

Two input sets are built per seed, each on first use, and cached under
``<cache>/seed-<n>-v<format>/<set>/``:

- ``corpus/``: the parquet fixture set at ``CORPUS_SF`` (documents,
  embeddings and events carry the LLM-pipeline queries);
- ``csv/``: headerless CSV part-file directories of the node tables at
  ``NODE_SF``, plus their ``MetaData``/``MetaDataType`` strings.

``replicate`` builds a key-shifted N-fold replica of the TPC-H tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Bumped whenever generated content changes, so stale caches are rebuilt.
FORMAT_VERSION = 3

CORPUS_SF = 0.01
NODE_SF = 0.05
#: Documents and embeddings of the fixture set at ``CORPUS_SF``.
CORPUS_DOCUMENTS = 500
CORPUS_EMBEDDINGS = 500

#: Tables of a TPC-H replica: the first group is shifted per copy, the
#: second is copied once, unchanged.
SHIFTED_TABLES = ("customer", "orders", "lineitem")
DIMENSION_TABLES = ("region", "nation", "supplier", "part")
#: Columns carrying the per-copy key shift, and the key space each lives in.
SHIFT_COLUMNS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order"},
}
NODE_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Clean two-decimal amounts (the package's exact-cents arithmetic
    relies on money columns having at most two decimals)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    span = (end - start).days
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The star-schema tables at scale factor ``sf`` (sf0.1 = 600k lineitem)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _choice(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)),
        }),
    }
    return tables


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Events in ``event_id`` order over 30 days, ``15000 * sf`` users and
    exponential values of mean 50."""
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n)),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents of 10-100 words drawn uniformly from ``VOCAB``. ``n // 20``
    of them, at random positions, are then replaced one by one with another
    document's current text plus " dup", so near-dedup has true pairs, and
    (as in the fixtures) a few copies are of a copy or share their source."""
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
        for _ in range(n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def replicate(base: dict[str, pa.Table], factor: int, offset: int) -> dict[str, pa.Table]:
    """``factor`` key-shifted copies of the shifted tables; dimensions once.

    Copy ``i`` adds ``offset + i * stride`` to every key in a key space,
    where ``stride`` exceeds the largest base key of that space. Keys of
    different copies therefore never collide, every join along a shifted
    key stays inside its copy, and each join's cardinality is exactly
    ``factor`` times the base one.
    """
    stride = {
        "cust": int(pc.max(base["customer"]["c_custkey"]).as_py()) + 1,
        "order": int(pc.max(base["orders"]["o_orderkey"]).as_py()) + 1,
    }
    out = {name: base[name] for name in DIMENSION_TABLES}
    for name in SHIFTED_TABLES:
        copies = []
        for i in range(factor):
            t = base[name]
            for col, space in SHIFT_COLUMNS[name].items():
                shift = offset + i * stride[space]
                idx = t.schema.get_field_index(col)
                t = t.set_column(idx, col, pc.add(t[col], pa.scalar(shift, pa.int64())))
            copies.append(t)
        out[name] = pa.concat_tables(copies)
    return out


# --- script-node CSV inputs -------------------------------------------------

_META_TYPE = {
    pa.int64(): "long",
    pa.int32(): "integer",
    pa.float64(): "double",
    pa.string(): "character",
    pa.timestamp("us"): "date",
}


def metadata_strings(table: pa.Table) -> tuple[str, str]:
    """The platform's (MetaData, MetaDataType) comma strings for a table."""
    names = ", ".join(table.schema.names)
    types = ", ".join(_META_TYPE[f.type] for f in table.schema)
    return names, types


def _csv_ready(table: pa.Table) -> pa.Table:
    """Timestamps at midnight are written as dates (the node schema types
    them ``date``)."""
    cols = [
        c.cast(pa.date32()) if c.type == pa.timestamp("us") else c for c in table.columns
    ]
    return pa.table(cols, names=table.schema.names)


def write_csv_parts(table: pa.Table, out_dir: Path, parts: int) -> None:
    """A headerless CSV part-file directory (``part-0000i.csv`` plus an
    empty ``_SUCCESS`` marker), as an upstream platform node leaves it."""
    out_dir.mkdir(parents=True)
    table = _csv_ready(table)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        chunk = table.slice(i * step, step)
        pacsv.write_csv(
            chunk,
            out_dir / f"part-{i:05d}.csv",
            pacsv.WriteOptions(include_header=False),
        )
    (out_dir / "_SUCCESS").touch()


# --- cache ------------------------------------------------------------------

def _write_parquet_dir(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True)
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet")


def build(seed: int, part: str, out: Path) -> None:
    """Write one input set of ``seed`` (``corpus`` or ``csv``)."""
    if part == "corpus":
        rng = np.random.default_rng([seed, 0])
        corpus = tpch_tables(rng, CORPUS_SF)
        corpus["events"] = events_table(rng, CORPUS_SF)
        corpus["documents"] = documents_table(rng, CORPUS_DOCUMENTS)
        corpus["embeddings"] = embeddings_table(rng, CORPUS_EMBEDDINGS)
        _write_parquet_dir(corpus, out)
    elif part == "csv":
        node = tpch_tables(np.random.default_rng([seed, 2]), NODE_SF)
        out.mkdir(parents=True)
        meta = {}
        for name in NODE_TABLES:
            t = node[name]
            write_csv_parts(t, out / name, parts=max(1, t.num_rows // 50_000))
            names, types = metadata_strings(t)
            meta[name] = {"MetaData": names, "MetaDataType": types, "rows": t.num_rows}
        (out / "metadata.json").write_text(json.dumps(meta, indent=1))
    else:
        raise ValueError(f"unknown input set {part!r}")


def ensure(seed: int, part: str, cache_root: Path) -> Path:
    """Return the directory of input set ``part`` for ``seed``, building it
    on first use.

    The build writes into a temporary sibling and renames it into place,
    so an interrupted build never leaves a half-written cache entry.
    """
    final = cache_root / f"seed-{seed}-v{FORMAT_VERSION}" / part
    if final.is_dir():
        return final
    tmp = final.parent / f".tmp-{part}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.parent.mkdir(parents=True, exist_ok=True)
    try:
        build(seed, part, tmp)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
