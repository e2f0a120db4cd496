"""Workload ``operator_queries``: a pass over operator-inventory queries.

One operation is one pass over :data:`FAMILIES`: each query is built
through ``__spark_entry__.all_queries()[name]`` and collected to the
driver. The queries read seeded tables shaped like the sf0.01 gate tables
(see inputs.py). Every result is compared, outside the timed window, with
the query's DuckDB oracle as an order-insensitive multiset with floats
to 6 decimals, as the repository's oracle gate compares them. The oracles
run in set-up on the same tables, except the one in :data:`RECORDED`.

    python3 perfbench/operator_queries.py

re-derives the recorded digests from the DuckDB oracles (about 30 s).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

from common import Scratch, Tracer
from inputs import write_gate_tables

# Queries per family: at least one per operator module the suite never
# calls. ann: similarity. dedup: dedup. curation: curation (and text and
# decontam through it), quality_model, bpe and packing, lm, webtext.
# streaming: streaming.incremental. A cold pass takes about 40 s on four
# cores. The other operator queries are left out for cost;
# perfbench/NOTES.md lists them with their times.
FAMILIES = {
    "ann": ("lsh_ann_embeddings",),
    "dedup": ("line_dedup_documents",),
    "curation": (
        "curation_documents",
        "quality_model_documents",
        "bpe_pack_documents",
        "lm_perplexity_documents",
        "webtext_cleanup_documents",
    ),
    "streaming": ("stream_dedup_synthetic",),
}
SMOKE_FAMILIES = {"ann": ("lsh_ann_embeddings",), "curation": ("webtext_cleanup_documents",)}

# Two DuckDB oracles are too slow for a run's set-up: the one of
# quality_model_documents replays six training iterations (25-40 s at
# any table size from 100 to 500 docs), the one of bpe_pack_documents
# re-learns the merges (3-5 s). These queries read tables built from the
# fixed seed below instead, and each result must match its oracle's,
# recorded here as (rows, SHA-256 of the sorted multiset).
FIXED_SEED = 42
RECORDED = {
    "quality_model_documents": (500, "9f319bea69f7c4773f1330a90ce9b71a6d7d0acc2fb0ba3977ac7130ed4a0068"),
    "bpe_pack_documents": (500, "b3e3e79140794dddcdd8b6f159245541e31ecd4dda0d2c5c3741af1652b993f5"),
}
DOCS, EMBEDDINGS = 500, 500  # rows of the sf0.01 gate tables


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def fingerprint(cols, rows) -> tuple[int, str]:
    """(rows, SHA-256) of a result as an order-insensitive multiset, with
    columns in name order and floats to 6 decimals."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_fingerprints(table_dir: str, names) -> dict[str, tuple[int, str]]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry._oracle_sql_all()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for q in names:
            res = con.execute(oracles[q])
            out[q] = fingerprint([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class OperatorQueries:
    # One pass per run, in a fresh process, as a scheduled job runs each
    # query once: op_s is that cold pass. A warm pass after it would add
    # 19-27 s to every run, more than the benchmark's time budget has.
    warm = False

    def __init__(self, n_docs: int, n_embeddings: int, families=None):
        self.n_docs = n_docs
        self.n_embeddings = n_embeddings
        self.families = families or FAMILIES
        self.names = [q for qs in self.families.values() for q in qs]
        self.rows = n_docs + n_embeddings

    def setup(self, spark, scratch: Scratch, seed: int) -> float:
        import __spark_entry__ as entry

        self.table_dir = scratch.fresh("tables")
        self.fixed_dir = scratch.fresh("fixed-tables")
        t0 = time.perf_counter()
        write_gate_tables(self.table_dir, seed, self.n_docs, self.n_embeddings)
        write_gate_tables(self.fixed_dir, FIXED_SEED, DOCS, EMBEDDINGS)
        build_s = time.perf_counter() - t0
        self.queries = entry.all_queries()
        self.expected = oracle_fingerprints(self.table_dir, [q for q in self.names if q not in RECORDED])
        self.expected.update({q: RECORDED[q] for q in self.names if q in RECORDED})
        return build_s

    def operation(self, spark, tracer: Tracer) -> tuple[float, dict, dict]:
        """One pass; returns (wall, results by query, seconds by query)."""
        per_query: dict[str, float] = {}
        results = {}
        t_pass = time.perf_counter()
        for q in self.names:
            table_dir = self.fixed_dir if q in RECORDED else self.table_dir
            t0 = time.perf_counter()
            with tracer.span(f"q.{q}"):
                with tracer.span(f"q.{q}.call"):
                    df = self.queries[q](spark, table_dir)
                with tracer.span(f"q.{q}.result"):
                    results[q] = (df.columns, df.collect())
            per_query[q] = time.perf_counter() - t0
        return time.perf_counter() - t_pass, results, per_query

    def check(self, results) -> list[str]:
        problems = []
        for q, (cols, rows) in results.items():
            got = fingerprint(cols, rows)
            if got != self.expected[q]:
                problems.append(f"{q}: {got[0]} rows differ from the oracle's {self.expected[q][0]}")
        return problems

    @staticmethod
    def degraded(results):
        """Every result with its last row dropped (for the smoke self-test)."""
        return {q: (cols, rows[:-1] if rows else [tuple([None] * len(cols))]) for q, (cols, rows) in results.items()}

    def layer_probes(self, spark, tracer: Tracer) -> dict:
        return {}

    def describe(self) -> str:
        return (
            f"{len(self.names)} queries over {self.n_docs} docs and {self.n_embeddings} embeddings"
            f" ({', '.join(q for q in self.names if q in RECORDED) or 'none'} on the seed-{FIXED_SEED}"
            " tables), collected per pass"
        )


def main() -> int:
    """Print the oracle fingerprints of the recorded queries."""
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(root, ".perfbench")) as d:
        write_gate_tables(d, FIXED_SEED, DOCS, EMBEDDINGS)
        for q, fp in oracle_fingerprints(d, list(RECORDED)).items():
            print(f'"{q}": {fp},')
    return 0


if __name__ == "__main__":
    sys.exit(main())
