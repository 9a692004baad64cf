"""The benchmark's workloads: fixed operation lists, their seeded literals,
and how each operation runs and is checked.

An operation runs inside the timed region and returns what its check
needs; the check runs afterwards, outside it, against DuckDB on the same
generated inputs.

- ``corpus_pipeline`` operations build a registered query (``QUERIES[name]``) and collect it; the check compares the rows
  with ``ORACLES[name]`` under the repo oracle checker's normalization.
- ``script_node`` operations are whole platform node runs: load the CSV
  part-file tables into a catalog, apply one user transform, write the
  result back with ``compat.final_output``. The check reads the written
  CSV with the manifest's schema and compares it with a DuckDB SQL twin of
  the transform over the input CSVs.
"""

from __future__ import annotations

import importlib.util
import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

CORPUS_QUERIES = (
    "b32_near_dedup_e2e",
    "b34_bigram_lm",
    "b34_perplexity_rank",
    "b34_keyword_pagerank",
    "b33_matryoshka_recall",
    "b31_containment_dedup",
    "b34_full_pipeline",
    "b11_ks_test",
)
#: The share of ``--seconds`` one timed pass is given. After one untimed
#: warm-up pass a run makes ``max(round(seconds / share), m)`` timed passes,
#: where ``m`` is the fewest that give ``op_tail_s`` a percentile above the
#: median: a fixed amount of work per ``--seconds``, so that every commit
#: measures the same operations. At ``--seconds 40`` that is 6 timed passes
#: of ``script_node`` and 3 of ``corpus_pipeline``, 24 operations each.
SECONDS_PER_PASS = {"script_node": 6.5, "corpus_pipeline": 13.0}


def load_checker():
    """The repo's oracle checker module (``tools/check_oracles.py``), whose
    ``row_multiset``/``norm_cell`` normalization every check uses."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracles", ROOT / "tools" / "check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Op:
    """One operation. ``run(spark, rec)`` is timed; ``check(result, duck)``
    returns an error string, or ``None`` when the output matches."""

    name: str
    input_tables: tuple[str, ...]
    run: Callable
    check: Callable


# --- registered-query operations --------------------------------------------

def oracle_tables(sql: str) -> tuple[str, ...]:
    """The fixture tables an oracle reads: those named after FROM, JOIN or
    a comma."""
    from ddataframeoperation_spark.catalog import FIXTURE_TABLES

    return tuple(t for t in FIXTURE_TABLES if re.search(rf"(?:FROM|JOIN|,)\s+{t}\b", sql, re.I))


def query_ops(names, sf_dir: Path, checker) -> list[Op]:
    from ddataframeoperation_spark.queries import ORACLES, QUERIES

    def make(name: str) -> Op:
        def run(spark, rec):
            with rec.span("build"):
                df = QUERIES[name](spark, str(sf_dir))
            with rec.span("action"):
                rows = df.collect()
            return {"columns": df.columns, "rows": rows}

        expected: dict = {}

        def check(result, duck):
            if "rows" not in expected:
                rel = duck.execute(ORACLES[name])
                cols = [d[0] for d in rel.description]
                expected["cols"], expected["rows"] = cols, rel.fetchall()
                expected["multiset"] = checker.row_multiset(cols, expected["rows"])
            cols, rows = result["columns"], result["rows"]
            if sorted(cols) != sorted(expected["cols"]):
                return f"columns {cols} != {expected['cols']}"
            if len(rows) != len(expected["rows"]):
                return f"{len(rows)} rows != {len(expected['rows'])}"
            if checker.row_multiset(cols, [tuple(r) for r in rows]) != expected["multiset"]:
                return "value mismatch"
            return None

        tables = oracle_tables(ORACLES[name])
        return Op(name, tables, run, check)

    return [make(n) for n in names]


def duck_for_parquet(sf_dir: Path):
    import duckdb

    from ddataframeoperation_spark.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in FIXTURE_TABLES:
        if (sf_dir / f"{t}.parquet").is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# --- script-node operations -------------------------------------------------

_DUCK_TYPES = {
    "bigint": "BIGINT", "long": "BIGINT", "int": "INTEGER", "integer": "INTEGER",
    "double": "DOUBLE", "float": "FLOAT", "string": "VARCHAR", "character": "VARCHAR",
    "date": "DATE", "timestamp": "TIMESTAMP", "boolean": "BOOLEAN",
}


def duck_columns(metadata: str, metadata_type: str) -> str:
    """A DuckDB ``read_csv`` ``columns`` struct for (MetaData, MetaDataType)."""
    names = [n.strip() for n in metadata.split(",")]
    types = [t.strip() for t in metadata_type.split(",")]
    cols = ", ".join(f"'{n}': '{_DUCK_TYPES.get(t, t.upper())}'" for n, t in zip(names, types))
    return "{" + cols + "}"


def node_literals(seed: int) -> dict:
    """The seed's predicate literals for the node transforms."""
    rng = np.random.default_rng([seed, 4])
    return {
        "cutoff": f"{int(rng.integers(1997, 2001))}-{int(rng.integers(1, 13)):02d}-01",
        "min_qty": int(rng.integers(10, 21)),
        "min_disc": round(int(rng.integers(0, 4)) / 100, 2),
        "top_n": int(rng.integers(2, 4)),
        "year": int(rng.integers(1995, 2002)),
    }


def _node_transforms(lit: dict):
    """Name -> (user transform over the catalog, its DuckDB SQL twin, the
    tables it reads)."""
    from pyspark.sql import functions as F

    from ddataframeoperation_spark.operators import relational as R
    from ddataframeoperation_spark.operators import script as S
    from ddataframeoperation_spark.operators import windows as W

    def cents(c: str):
        return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")

    sql_cents = "CAST(floor({c} * 100 + 0.5) AS BIGINT)".format

    def star_join_agg(cat):
        orders = R.filter_rows(cat["orders"], F.col("o_orderdate") < F.lit(lit["cutoff"]).cast("date"))
        joined = R.join_star(
            cat["lineitem"],
            [
                (orders, F.col("l_orderkey") == F.col("o_orderkey"), False),
                (cat["customer"], F.col("o_custkey") == F.col("c_custkey"), False),
                (cat["nation"], F.col("c_nationkey") == F.col("n_nationkey"), True),
            ],
        )
        return R.group_agg(
            joined,
            ["n_name", "c_mktsegment"],
            [
                F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("revenue4"),
                F.count(F.lit(1)).alias("n_lines"),
            ],
        )

    star_sql = f"""
        SELECT n_name, c_mktsegment,
               CAST(sum({sql_cents(c='l_extendedprice')} * (100 - {sql_cents(c='l_discount')})) AS BIGINT) AS revenue4,
               count(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate < DATE '{lit['cutoff']}'
        GROUP BY n_name, c_mktsegment"""

    def filter_project(cat):
        li = R.filter_rows(
            cat["lineitem"],
            (F.col("l_quantity") > lit["min_qty"]) & (F.col("l_discount") >= lit["min_disc"]),
        )
        return R.project(
            li,
            "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate",
            (cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("net4"),
        )

    filter_sql = f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate,
               {sql_cents(c='l_extendedprice')} * (100 - {sql_cents(c='l_discount')}) AS net4
        FROM lineitem WHERE l_quantity > {lit['min_qty']} AND l_discount >= {lit['min_disc']}"""

    def window_rank(cat):
        top = W.top_n_per_group(
            cat["orders"], ["o_custkey"],
            [F.col("o_totalprice").desc(), F.col("o_orderkey")], lit["top_n"],
        )
        return R.project(top, "o_custkey", "o_orderkey", "o_totalprice", "rn")

    window_sql = f"""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
          FROM orders) WHERE rn <= {lit['top_n']}"""

    def script_zscore(cat):
        li = R.filter_rows(cat["lineitem"], F.year("l_shipdate") == lit["year"])
        z = S.zscore_per_group(li, ["l_suppkey"], "l_extendedprice")
        return R.project(
            z, "l_suppkey",
            F.round("l_extendedprice", 2).alias("price"),
            (F.round("zscore", 4) + 0.0).alias("zscore"),
        )

    zscore_sql = f"""
        SELECT l_suppkey, round(l_extendedprice, 2) AS price,
               round(coalesce((l_extendedprice - avg(l_extendedprice) OVER w)
                     / nullif(stddev_samp(l_extendedprice) OVER w, 0), 0.0), 4) + 0.0 AS zscore
        FROM lineitem WHERE year(l_shipdate) = {lit['year']}
        WINDOW w AS (PARTITION BY l_suppkey)"""

    return {
        "node_star_join_agg": (star_join_agg, star_sql, ("lineitem", "orders", "customer", "nation")),
        "node_filter_project": (filter_project, filter_sql, ("lineitem",)),
        "node_window_rank": (window_rank, window_sql, ("orders",)),
        "node_script_zscore": (script_zscore, zscore_sql, ("lineitem",)),
    }


def node_specs(csv_dir: Path) -> list[dict]:
    meta = json.loads((csv_dir / "metadata.json").read_text())
    return [
        {
            "TABLE_NAME": name,
            "DataLocation": str(csv_dir / name),
            "MetaData": m["MetaData"],
            "MetaDataType": m["MetaDataType"],
        }
        for name, m in meta.items()
    ]


def duck_for_csv(csv_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for spec in node_specs(csv_dir):
        cols = duck_columns(spec["MetaData"], spec["MetaDataType"])
        con.execute(
            f"CREATE VIEW {spec['TABLE_NAME']} AS SELECT * FROM read_csv("
            f"'{spec['DataLocation']}/part-*.csv', header = false, columns = {cols})"
        )
    return con


def written_rows(manifest: dict) -> str:
    """A DuckDB table expression over the CSV a node run wrote, read with
    the manifest's schema."""
    cols = duck_columns(manifest["MetaData"], manifest["MetaDataType"])
    return f"read_csv('{manifest['DataLocation']}/part-*', header = false, columns = {cols})"


def csv_lines(manifest: dict) -> list[str]:
    """The lines of the CSV a node run wrote, sorted: two outputs of these
    transforms, which write no quoted line breaks, hold the same rows as
    multisets when their sorted lines are equal."""
    parts = sorted(Path(manifest["DataLocation"]).glob("part-*"))
    return sorted(line for part in parts for line in part.read_text().splitlines())


def node_ops(seed: int, csv_dir: Path, out_root: Path, checker, reports: list[int]) -> list[Op]:
    """The node runs. Every status a node reports through its job reporter
    is appended to ``reports``, also when ``final_output`` then raises."""
    from ddataframeoperation_spark import compat

    specs = node_specs(csv_dir)

    def make(name: str, transform, sql: str, tables) -> Op:
        def run(spark, rec):
            first = len(reports)
            with rec.span("compat.perform_load_data"):
                cat = compat.perform_load_data(spark, specs, fmt="csv")
            with rec.span("build"):
                df = transform(cat)
            with rec.span("action"), rec.span("compat.final_output"):
                manifest = compat.final_output(
                    df,
                    str(out_root),
                    job_reporter=lambda _payload, status: reports.append(status),
                    write_pmml=True,
                    script=name,
                    fmt="csv",
                )
            return {"manifest": manifest, "statuses": reports[first:]}

        expected: dict = {}

        def check(result, duck):
            manifest, statuses = result["manifest"], result["statuses"]
            if statuses != [2]:
                return f"reported status {statuses}"
            pmml = Path(manifest["PMMLLocation"]) / "part-00000"
            if not pmml.is_file() or b"<PMML" not in pmml.read_bytes():
                return "missing PMML"
            cols = [c.strip() for c in manifest["MetaData"].split(",")]
            lines = csv_lines(manifest)
            # An output whose rows equal, as a multiset, those of an output
            # of this operation that already matched the oracle matches too.
            if expected.get("verified") == (cols, lines):
                return None
            if "multiset" not in expected:
                rel = duck.execute(sql)
                cols_x = [d[0] for d in rel.description]
                expected["cols"], expected["multiset"] = cols_x, checker.row_multiset(cols_x, rel.fetchall())
            if sorted(cols) != sorted(expected["cols"]):
                return f"columns {cols} != {expected['cols']}"
            got = duck.execute(f"SELECT * FROM {written_rows(manifest)}").fetchall()
            if checker.row_multiset(cols, got) != expected["multiset"]:
                return "value mismatch"
            expected["verified"] = (cols, lines)
            return None

        return Op(name, tables, run, check)

    return [make(n, fn, sql, tables) for n, (fn, sql, tables) in _node_transforms(node_literals(seed)).items()]


# --- workload assembly --------------------------------------------------------

@dataclass
class Workload:
    name: str
    ops: list[Op]
    duck: object
    #: Input rows of one pass, counted once from the fixtures.
    input_rows: int
    #: Statuses the node runs reported (2 success, 3 failure), in order.
    reports: list[int]


def _parquet_rows(sf_dir: Path, table: str) -> int:
    return pq.read_metadata(sf_dir / f"{table}.parquet").num_rows


#: The fixture input set each workload reads.
INPUT_SET = {"script_node": "csv", "corpus_pipeline": "corpus"}


def build_workload(name: str, seed: int, input_dir: Path, out_root: Path, checker) -> Workload:
    if name == "script_node":
        csv_dir = input_dir
        reports: list[int] = []
        ops = node_ops(seed, csv_dir, out_root, checker, reports)
        meta = json.loads((csv_dir / "metadata.json").read_text())
        rows = sum(meta[t]["rows"] for op in ops for t in op.input_tables)
        return Workload(name, ops, duck_for_csv(csv_dir), rows, reports)
    sf_dir = input_dir
    duck = duck_for_parquet(sf_dir)
    ops = query_ops(CORPUS_QUERIES, sf_dir, checker)
    rows = sum(_parquet_rows(sf_dir, t) for op in ops for t in op.input_tables)
    return Workload(name, ops, duck, rows, [])
