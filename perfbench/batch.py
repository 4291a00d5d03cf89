"""The ``batch_mix`` workload: registry queries over seeded tables.

One pass runs every query in ``QUERIES`` once, in an order the seed
shuffles per pass; each execution is timed from before ``Query.fn`` is
called until its ``collect`` returns. The first pass is the untimed
warm-up; timed passes follow until the run's seconds are used, always
finishing the pass in progress so every pass holds the same mix.

The rows of each query's first timed execution are checked afterwards, out
of the timed region, against the query's DuckDB oracle over the same
Parquet files, canonicalised as in the oracle-parity tests.
"""

from __future__ import annotations

import math

# One query per analytics family (JVM scans, joins, windows) and per
# curation family (Python workers, Arrow, streaming state), chosen among
# the cheaper members of each so a warm pass stays near five seconds.
QUERIES = [
    "q1_pricing_summary",
    "kv_query_begins",
    "fts_mixed",
    "sessionize",
    "doc_path_select",
    "graph_degree_hist",
    "dedup_minhash_lsh",
    "sim_topk_ivf",
    "quality_classifier",
    "stream_line_dedup",
]
FAMILIES = (
    "relational",
    "kv",
    "text",
    "temporal",
    "document",
    "graph",
    "dedup",
    "similarity",
    "curation",
    "pipeline",
)


def family(query) -> str:
    """Query family = the registry module it is defined in."""
    return query.fn.__module__.rsplit(".", 1)[1].removesuffix("_queries")


def _canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon_cell(x) for x in v)
    return v


def canon(rows, colnames) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row set."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def check_against_oracle(registry, data_dir: str, results) -> list[str]:
    """``results``: name -> (columns, rows). Returns mismatch messages."""
    import duckdb

    from hash_db_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        bad = []
        for name, (cols, rows) in results.items():
            res = con.execute(registry[name].oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(cols) != sorted(dcols):
                bad.append(f"{name}: columns {cols} vs oracle {dcols}")
            elif canon(rows, cols) != canon(drows, dcols):
                bad.append(f"{name}: {len(rows)} rows differ from oracle ({len(drows)})")
        return bad
    finally:
        con.close()
