"""Output checks. All of them run after the timed window.

Pipeline outputs are reduced to one row of facts in a single job: rows,
distinct urls, rows whose ``keep`` disagrees with "both flag arrays empty",
and an order-free digest of ``(url, keep, flags, text)``. Query results are
compared with their DuckDB ``oracle_sql`` by the repository's oracle gate's
own dtype-strict comparator, ``tools.oracle_check.canon``.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tools.oracle_check import canon

FLAG_COLS = ("low_pass_failing_qc", "final_failing_qc")


def _digest(cols) -> F.Column:
    # decimal sum: order-free and cannot overflow under ANSI arithmetic
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def pipeline_facts(out: DataFrame) -> dict:
    low, final = (F.col(c) for c in FLAG_COLS)
    flagless = low.isNotNull() & final.isNotNull() & (F.size(low) == 0) & (F.size(final) == 0)
    row = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("url").alias("urls"),
        F.count_if(~F.col("keep").eqNullSafe(flagless)).alias("verdict_mismatch"),
        _digest(["url", "keep", *FLAG_COLS, "text"]).alias("digest"),
    ).first()
    return row.asDict()


def pipeline_problems(facts: dict, corpus: dict, reference_digest: str | None) -> list[str]:
    """Every way a pipeline output breaks the engine's invariants."""
    out = []
    if facts["rows"] != corpus["rows"]:
        out.append(f"rows {facts['rows']} != input {corpus['rows']}")
    if facts["urls"] != corpus["urls"]:
        out.append(f"distinct urls {facts['urls']} != input {corpus['urls']}")
    if facts["verdict_mismatch"]:
        out.append(f"{facts['verdict_mismatch']} rows with keep != flagless")
    if reference_digest is not None and facts["digest"] != reference_digest:
        out.append("digest differs from the run's first operation")
    return out


def pinned(key: str, digest: str) -> list[str]:
    """Record ``digest`` under ``key`` the first time; afterwards, a problem
    when a run's digest differs from the recorded one."""
    from .corpus import CACHE

    path = os.path.join(CACHE, "digests", f"{key}.txt")
    if os.path.exists(path):
        with open(path) as f:
            if f.read() != digest:
                return [f"digest differs from an earlier run's ({key})"]
        return []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(digest)
    os.replace(tmp, path)
    return []


def frame_digest(df: DataFrame) -> tuple[int, str]:
    row = df.agg(F.count(F.lit(1)).alias("n"), _digest(df.columns).alias("d")).first()
    return row["n"], row["d"]


def duckdb_oracle(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_answer(sql: str, sf_dir: str, con):
    """The canonical DuckDB answer to ``sql``, cached per (SQL text, bytes of
    every table it names, comparator source): the text queries' oracle takes
    tens of seconds and their documents table is the same for every seed."""
    import tools.oracle_check

    from .corpus import CACHE, _file_hash

    tables = sorted(
        name for name in os.listdir(sf_dir)
        if name.endswith(".parquet") and re.search(rf"\b{name[:-8]}\b", sql)
    )
    key = hashlib.sha256(
        "\0".join([
            sql,
            _file_hash(tools.oracle_check.__file__),
            *(_file_hash(os.path.join(sf_dir, t)) for t in tables),
        ]).encode()
    ).hexdigest()[:16]
    path = os.path.join(CACHE, "oracle", f"{key}.pkl")
    if not os.path.exists(path):
        answer = canon(con.sql(sql).df())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(answer, f)
        os.replace(tmp, path)
    with open(path, "rb") as f:
        return pickle.load(f)


def oracle_problem(result, sql: str, sf_dir: str, con) -> str | None:
    """None when a Spark result (pandas) equals the oracle's, else what differs."""
    a, b = canon(result), oracle_answer(sql, sf_dir, con)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    if a.equals(b):
        return None
    both = a.merge(b, how="outer", indicator=True)
    spark_only = both[both["_merge"] == "left_only"].drop(columns="_merge")
    oracle_only = both[both["_merge"] == "right_only"].drop(columns="_merge")
    first = lambda df: df.iloc[0].to_dict() if len(df) else None  # noqa: E731
    return (
        f"{len(spark_only)} rows only in Spark, e.g. {first(spark_only)}; "
        f"{len(oracle_only)} only in the oracle, e.g. {first(oracle_only)}"
    )
