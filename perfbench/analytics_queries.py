"""The analytics workload's query set and its result check.

The set is ``bench.py``'s 14 headline queries. Eleven are registered
queries (``queries.QUERIES``) with their own DuckDB oracle; the other three
are the library calls the registry merged into tagged unions
(``x2b_hash_neardup``, ``t_windows``), checked against the matching branch
of the merged query's oracle.

A result is checked by row count plus an order-insensitive hash of its
normalized values (``result_digest``), against ``reference/analytics.json``
(written by ``make_reference.py`` from the oracles in DuckDB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

REGISTERED = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "q10_returned_items",
    "j7_asof_enrich",
    "w1_page_numbering",
    "a1_group_collect",
    "x1_exact_dedup",
    "x3_knn_bruteforce",
    "t_sessionize",
]

#: library-call query -> (merged registration, union tag, output columns)
MERGED = {
    "x2b_minhash_lsh": ("x2b_hash_neardup", "minhash", ["id_a", "id_b", "score"]),
    "t_tumbling_window": ("t_windows", "tumbling",
                          ["window_start", "event_type", "n_events", "sum_value"]),
    "t_sliding_window": ("t_windows", "sliding",
                         ["window_start", "event_type", "n_events", "sum_value"]),
}

QUERY_NAMES = REGISTERED + list(MERGED)


def query_fn(name: str):
    """``fn(spark, sf_dir) -> DataFrame`` for one of :data:`QUERY_NAMES`."""
    from pyspark.sql import functions as F

    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators import dedup, events
    from pulfa_sausage_factory_spark.queries import QUERIES

    if name in REGISTERED:
        return QUERIES[name][0]
    if name == "x2b_minhash_lsh":
        return lambda spark, d: dedup.minhash_lsh_pairs(
            load_table(spark, d, "documents"), threshold=0.2
        ).select("id_a", "id_b", F.col("est_jaccard").cast("double").alias("score"))
    cols = MERGED[name][2]
    if name == "t_tumbling_window":
        return lambda spark, d: events.tumbling_counts(
            load_table(spark, d, "events"), "1 hour").select(*cols)
    return lambda spark, d: events.sliding_counts(
        load_table(spark, d, "events"), size="1 hour", slide="30 minutes"
    ).select(*cols)


def oracle_sql(name: str) -> str:
    """DuckDB SQL whose result :func:`query_fn` must reproduce."""
    from pulfa_sausage_factory_spark.queries import QUERIES

    if name in REGISTERED:
        return QUERIES[name][1]
    merged, tag, cols = MERGED[name]
    return (f"SELECT {', '.join(cols)} FROM ({QUERIES[merged][1]}) "
            f"WHERE kind = '{tag}'")


_M = np.uint64(0x9E3779B97F4A7C15)


def _column_hashes(col: pa.ChunkedArray) -> np.ndarray:
    t = col.type
    if pa.types.is_timestamp(t):
        col = pc.cast(col.cast(pa.timestamp("us", t.tz)), pa.int64())
    elif pa.types.is_date(t):
        col = pc.cast(col, pa.int32()).cast(pa.int64())
    elif pa.types.is_decimal(t):
        col = pc.cast(col, pa.float64())
    elif pa.types.is_boolean(t) or pa.types.is_integer(t):
        col = pc.cast(col, pa.int64())
    if pa.types.is_floating(col.type):
        x = col.to_numpy(zero_copy_only=False).astype(np.float64)
        # keep ~9 significant digits: engines may differ in the last ulps
        m, e = np.frexp(np.nan_to_num(x, nan=0.0))
        q = np.round(m * 2.0**30)
        vals = pd.Series(np.where(np.isnan(x), np.nan, np.ldexp(q, e)))
    else:
        vals = pd.Series(col.to_pandas())
    return pd.util.hash_pandas_object(vals, index=False).to_numpy(np.uint64)


def result_digest(table: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive hash of the rows' normalized values).
    Columns are matched by lower-cased name, so engine-specific column
    order and integer/float widths do not matter."""
    names = sorted(table.column_names, key=str.lower)
    acc = np.zeros(table.num_rows, np.uint64)
    with np.errstate(over="ignore"):
        for i, n in enumerate(names):
            h = _column_hashes(table.column(n))
            acc = (acc ^ h) * (_M + np.uint64(2 * i + 1))
        total = int(acc.sum(dtype=np.uint64)) if len(acc) else 0
    key = ",".join(n.lower() for n in names)
    return table.num_rows, f"{total:016x}:{key}"
