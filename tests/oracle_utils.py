"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

The driver sorts columns by name, then does row-count + schema +
order-insensitive value-hash.  We replicate that as: same column set,
same row count, and EXACT value equality after sorting rows by all
columns — exact, because the driver hashes values (no tolerance).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from flink_kmeans_clustering_spark.sources.parquet import TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.sql(sql).df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    # make timestamps comparable as strings; floats stay exact
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    out = out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def _value_hash(df: pd.DataFrame) -> str:
    """The driver's order-insensitive value hash (dtype-sensitive!)."""
    import hashlib

    p = df[sorted(df.columns)].sort_values(
        sorted(df.columns), kind="mergesort"
    ).reset_index(drop=True)
    return hashlib.sha256(
        pd.util.hash_pandas_object(p, index=False).values.tobytes()
    ).hexdigest()


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str) -> None:
    got_raw = spark_df.toPandas()
    want_raw = run_oracle(oracle_sql, sf_dir)
    got = normalize(got_raw)
    want = normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            eq = (g.astype(float).values == w.astype(float).values) | (
                g.isna().values & w.isna().values
            )
        else:
            eq = (g.values == w.values) | (g.isna().values & w.isna().values)
        if not eq.all():
            bad = (~eq).nonzero()[0][:5]
            raise AssertionError(
                f"value mismatch in column {c!r} at rows {bad.tolist()}: "
                f"spark={g.iloc[bad].tolist()} oracle={w.iloc[bad].tolist()}"
            )
    # the driver's actual gate hashes raw dtypes too — a DuckDB HUGEINT
    # sum vs a Spark bigint has equal values but a different hash; catch
    # that class of miss here rather than in CORRECTNESS_r{N}.json.
    # hash_pandas_object maps int64 0 and float64 0.0 to the same bits,
    # so an all-zeros column slips past the hash alone (the r04 q_profile
    # miss) — compare dtype KINDS explicitly first.
    got_kinds = {c: got_raw[c].dtype.kind for c in sorted(got_raw.columns)}
    want_kinds = {c: want_raw[c].dtype.kind for c in sorted(want_raw.columns)}
    assert got_kinds == want_kinds, (
        f"dtype-kind mismatch (driver hash would fail): "
        f"spark={got_raw.dtypes.to_dict()} oracle={want_raw.dtypes.to_dict()}"
    )
    assert _value_hash(got_raw) == _value_hash(want_raw), (
        f"value-hash mismatch despite equal values — dtype drift? "
        f"spark={got_raw.dtypes.to_dict()} oracle={want_raw.dtypes.to_dict()}"
    )


def min_label_components(pairs) -> dict:
    """Pure-Python connected-components reference: BFS over the
    undirected pair graph, every node labeled with the min id of its
    component.  A None id is its own (None) label and connects
    nothing; a self-pair only adds its node."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set())
        adj.setdefault(b, set())
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    label: dict = {}
    for start in adj:
        if start in label:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            frontier = [n for x in frontier for n in adj[x] if n not in comp]
            comp.update(frontier)
        root = None if start is None else min(comp)
        label.update(dict.fromkeys(comp, root))
    return label
