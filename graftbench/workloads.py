"""The benchmark workloads: inputs, set-up, the fixed operation list of one
pass, and the oracle of every result.

Each workload is a closed loop with one client: an operation starts
when the previous one has returned its rows. ``ops()`` yields
``Op`` records that the worker times and traces; ``oracle(key)``
answers with the expected ``(columns, rows)`` of a check key.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from graftbench import datagen

# Set-up repetitions in one run; setup_s is their median.
SETUP_REPS = 3


@dataclass
class Op:
    """One operation of a pass. ``build()`` constructs (a DataFrame, or
    None for pure writes); ``act(built)`` runs it and returns the
    result to check — ``(columns, rows)``, rendered text, or None."""

    name: str
    kind: str  # "query" | "sql" | "strict" | "append" | "lookup" | "serve"
    check_key: str
    build: Callable[[], Any]
    act: Callable[[Any], Any]


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


class Workload:
    """Hooks the worker calls around every pass; no-ops by default.
    ``samples`` holds end-to-end figures beyond ``pass_s`` (raw, per
    call) and ``layer`` per-layer figures measured by the workload."""

    # Passes run before measuring. Measured at 2: olap_mix's passes were
    # still 10-25% faster at the end of the window than at its start
    # (JIT), curate_ingest's 5-15%.
    warmup_passes = 2

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}

    def restore(self) -> None:
        pass

    def after_op(self, op: Op, seconds: float, traced: bool) -> None:
        pass

    def after_pass(self) -> None:
        pass

    def finish(self, spark, timer, checker) -> dict:
        return {}


# ---------------------------------------------------------------- olap_mix

OLAP_QUERIES = (
    "agg_tpch_q1",
    "agg_tpch_q3_top10",
    "tpch_q18_large_orders",
)
# Ad-hoc ANSI SQL through Athenaeum.sql; DuckDB runs the same text.
OLAP_SQL = {
    "sql_nation_revenue": """
        SELECT n.n_name AS nation, count(*) AS n_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE l.l_discount >= 0.05
        GROUP BY n.n_name""",
}
# Reference-dialect queries (Athenaeum.sql_strict, rendered by
# Athenaeum.show) and their DuckDB twins.
OLAP_STRICT = {
    "strict_asia_join": (
        'SELECT c.name AS city, k.name AS country FROM cities AS c, countries AS k '
        'WHERE c.country = k.name AND k.continent = "Asia" AND c.population >= 15000',
        "SELECT c.name AS city, k.name AS country FROM cities c, countries k "
        "WHERE c.country = k.name AND k.continent = 'Asia' AND c.population >= 15000",
    ),
}


class OlapMix(Workload):
    name = "olap_mix"
    scale = 0.05
    warmup_passes = 3

    def __init__(self, root: str, seed: int):
        super().__init__()
        self.data = os.path.join(root, "data")
        self.tables_dir = os.path.join(root, "tables")
        datagen.write_star(self.data, seed, self.scale)
        datagen.write_table_json(self.tables_dir, seed)

    def setup(self, spark, timer) -> None:
        from minoan_athenaeum_spark.engine import Athenaeum
        from minoan_athenaeum_spark.registry import load_all

        with timer("catalog.register_s"):
            self.eng = Athenaeum(spark)
            self.eng.register_parquet_dir(self.data)
            self.eng.register_table_json_dir(self.tables_dir)
        self.specs = load_all()
        self.spark = spark

    def ops(self):
        for name in OLAP_QUERIES:
            fn = self.specs[name].fn
            yield Op(name, "query", name, lambda fn=fn: fn(self.spark, self.data), collect)
        for name, text in OLAP_SQL.items():
            yield Op(name, "sql", name, lambda t=text: self.eng.sql(t), collect)
        for name, (text, _) in OLAP_STRICT.items():
            yield Op(name, "strict", name, lambda t=text: self.eng.sql_strict(t), self.eng.show)

    def oracle(self, key: str):
        if key in OLAP_STRICT:
            con = duckdb.connect()
            for tname in ("cities", "countries"):
                with open(os.path.join(self.tables_dir, f"{tname}.table.json")) as fh:
                    header, *rows = json.load(fh)
                cols = [c for c, _ in header]
                con.register(tname, pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}))
            sql = OLAP_STRICT[key][1]
        else:
            from minoan_athenaeum_spark.testing import duckdb_connect

            con = duckdb_connect(self.data)
            sql = OLAP_SQL.get(key) or self.specs[key].oracle
        try:
            cur = con.execute(sql)
            return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]
        finally:
            con.close()


# ------------------------------------------------------------ index_ingest

POSTINGS_SQL = r"""
    SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
    FROM (
      SELECT doc_id, unnest(toks) AS term, CAST(len(toks) AS DOUBLE) AS dl
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents)
    )
    {where}
    GROUP BY term, doc_id
"""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def rebuild_mismatch(index_dir: str, doc_files: list[str]) -> int:
    """Posting rows in which ``index_dir`` and a full rebuild over
    ``doc_files`` differ (both directions), plus 1 if the merged corpus
    stats differ. 0 means the index equals a rebuild."""
    con = duckdb.connect()
    try:
        files = ", ".join(f"'{p}'" for p in doc_files)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        con.execute(f"CREATE VIEW want AS {POSTINGS_SQL.format(where='')}")
        con.execute(
            "CREATE VIEW have AS SELECT term, doc_id, tf, dl FROM read_parquet("
            f"'{index_dir}/postings/*.parquet')"
        )
        diff = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM have))"
            " + (SELECT count(*) FROM (SELECT * FROM have EXCEPT ALL SELECT * FROM want))"
        ).fetchone()[0]
        stats_ok = con.execute(
            "SELECT (SELECT sum(n_docs) FROM read_parquet("
            f"'{index_dir}/stats/*.parquet')) = (SELECT count(*) FROM documents)"
            " AND (SELECT sum(sum_dl) FROM read_parquet("
            f"'{index_dir}/stats/*.parquet')) = (SELECT sum(dl) FROM "
            "(SELECT CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE) AS dl"
            " FROM documents))"
        ).fetchone()[0]
        return int(diff) + (0 if stats_ok else 1)
    finally:
        con.close()


def files_touched(postings_dir: str, term: str) -> int:
    """Parquet files whose row-group term statistics admit ``term`` —
    the files a pushed-down lookup must read."""
    n = 0
    for f in sorted(os.listdir(postings_dir)):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(postings_dir, f)).metadata
        col = meta.schema.names.index("term")
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(col).statistics
            if st is None or not st.has_min_max or st.min <= term <= st.max:
                n += 1
                break
    return n


def _appended(_) -> tuple[list[str], list[tuple]]:
    """An append's own result: it returned. What it wrote is checked by
    the lookups and serves after it and by the final rebuild check."""
    return ["appended"], [(True,)]


class IndexIngest(Workload):
    """BM25 ingest and serve on one store (used by ``CurateIngest``)."""

    base_docs = 3_000
    batch_docs = 400
    generations = 2
    lookups = 1

    def __init__(self, root: str, seed: int):
        super().__init__()
        self.inputs = datagen.write_ingest(
            os.path.join(root, "data"), seed, self.base_docs, self.batch_docs, self.generations
        )
        self.base_file = os.path.join(self.inputs["base"], "documents.parquet")
        # Per generation: terms of varied frequency (Zipf rank 1..400).
        import numpy as np

        rng = np.random.default_rng([seed, 7])
        self.terms = [
            [f"t{int(r)}" for r in rng.integers(0, 400, self.lookups)]
            for _ in range(self.generations)
        ]
        self.live = os.path.join(root, "live_index")
        self.samples.update(append_s=[], serve_s=[], bytes_per_user_byte=[])
        self.layer.update({"sources.append_bytes_ratio": [], "sources.files_per_lookup": []})

    def setup(self, spark, timer) -> None:
        from minoan_athenaeum_spark.sources.posting_sink import ensure_bm25_index

        with timer("sources.ensure_s"):
            self.pristine = ensure_bm25_index(spark, self.inputs["base"])
        self.spark = spark

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)

    def _append(self, g: int):
        from minoan_athenaeum_spark.sources.posting_sink import append_to_bm25_index

        before = dir_bytes(self.live)
        append_to_bm25_index(self.spark, self.live, self.spark.read.parquet(self.inputs["batches"][g]))
        src = os.path.getsize(self.inputs["batches"][g])
        self.layer["sources.append_bytes_ratio"].append((dir_bytes(self.live) - before) / src)

    def ops(self):
        from minoan_athenaeum_spark.queries.text import bm25_serve_from_index
        from minoan_athenaeum_spark.sources.posting_sink import lookup_term

        postings = os.path.join(self.live, "postings")
        for g in range(self.generations):
            yield Op(f"append{g}", "append", f"append:{g}", lambda g=g: self._append(g), _appended)
            for term in self.terms[g]:
                yield Op(
                    f"lookup{g}", "lookup", f"lookup:{g}:{term}",
                    lambda t=term: lookup_term(self.spark, postings, t), collect,
                )
            yield Op(
                f"serve{g}", "serve", f"serve:{g}",
                lambda: bm25_serve_from_index(self.spark, self.live), collect,
            )

    def after_op(self, op: Op, seconds: float, traced: bool) -> None:
        if op.kind == "append":
            self.samples["append_s"].append(seconds)
        elif op.kind == "serve":
            self.samples["serve_s"].append(seconds)
        elif op.kind == "lookup" and traced:
            term = op.check_key.split(":")[2]
            self.layer["sources.files_per_lookup"].append(
                files_touched(os.path.join(self.live, "postings"), term)
            )

    def after_pass(self) -> None:
        src = sum(os.path.getsize(p) for p in [self.base_file, *self.inputs["batches"]])
        self.samples["bytes_per_user_byte"].append(dir_bytes(self.live) / src)

    def _docs_upto(self, g: int) -> list[str]:
        return [self.base_file, *self.inputs["batches"][: g + 1]]

    def oracle(self, key: str):
        from minoan_athenaeum_spark.queries.text import _bm25_oracle

        if key == "compact":
            return ["mismatch"], [(0,)]
        if key.startswith("append:"):
            return _appended(None)
        kind, g, *rest = key.split(":")
        files = ", ".join(f"'{p}'" for p in self._docs_upto(int(g)))
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
            if kind == "lookup":
                sql = POSTINGS_SQL.format(where=f"WHERE term = '{rest[0]}'")
            else:
                sql = _bm25_oracle()
            cur = con.execute(sql)
            return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]
        finally:
            con.close()

    def finish(self, spark, timer, checker) -> dict:
        """Compact the last pass's index once; it must equal a rebuild."""
        from minoan_athenaeum_spark.sources.posting_sink import compact_bm25_index

        before = dir_bytes(self.live)
        with timer("sources.compact_s"):
            compact_bm25_index(spark, self.live)
        ratio = dir_bytes(self.live) / before
        bad = rebuild_mismatch(self.live, self._docs_upto(self.generations - 1))
        checker.record("compact", (["mismatch"], [(bad,)]))
        return {"sources.compact_bytes_ratio": ratio}


# ----------------------------------------------------------- curate_ingest

CURATION_QUERIES = (
    "dedup_exact",
    "pipeline_token_budget_head",  # runs eager jobs while building its frame
    "mm_jpeg_decode_stats",  # Arrow-batched Python workers
)


class CurateIngest(IndexIngest):
    """The LLM-data path: curation operators over a seeded corpus with
    planted duplicates, then the BM25 ingest-and-serve loop of
    ``IndexIngest`` on one store."""

    name = "curate_ingest"
    corpus_docs = 400

    def __init__(self, root: str, seed: int):
        super().__init__(root, seed)
        self.corpus = os.path.join(root, "corpus")
        os.makedirs(self.corpus)
        datagen.write_documents(self.corpus, seed, self.corpus_docs)

    def setup(self, spark, timer) -> None:
        from minoan_athenaeum_spark.registry import load_all

        super().setup(spark, timer)
        self.specs = load_all()

    def ops(self):
        for name in CURATION_QUERIES:
            fn = self.specs[name].fn
            yield Op(name, "query", name, lambda fn=fn: fn(self.spark, self.corpus), collect)
        yield from super().ops()

    def oracle(self, key: str):
        if key not in self.specs:
            return super().oracle(key)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.corpus}/documents.parquet')"
            )
            cur = con.execute(self.specs[key].oracle)
            return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (OlapMix, CurateIngest)}
