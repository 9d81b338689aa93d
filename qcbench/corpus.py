"""Seeded benchmark inputs, generated once and cached under ``qcbench/.cache``.

Two kinds of input, both a pure function of the seed:

* the ``pages`` corpus for the pipeline workload, drawn from a pool made by
  the engine's own ``synth.synthesize_pages`` and cached per (seed, n_docs,
  hash of ``synth.py`` + ``functions/lexicons.py``) so a change to the
  generator invalidates it;
* the sf0.1-shaped star-schema tables the query sweep reads (``documents``,
  ``orders``, ``customer``, ``nation``, ``events``), made here with numpy,
  one parquet file and one row group per table. Their row counts, ranges,
  mixes and timestamp resolution come from :data:`SF01_PROFILE`, the shape
  :func:`profile` measured on the engine's sf0.1 test tables
  (``python3 qcbench/corpus.py <sf_dir>`` prints it for any directory).
  ``documents`` is the same for every seed.

Generation time never enters ``setup_s`` or ``wall_s``: callers time around it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

POOL_DOCS, POOL_SEED = 20_000, 42
DOCS_SEED = 42

# The shape of the sf0.1 test tables, as profile() measured it on them.
SF01_PROFILE = {
    "documents": {
        "rows": 5_000,
        "words_min": 10,
        "words_max": 100,
        "words_mean": 54.14,
        "vocabulary": (
            "a agg batch big column customer data dup fast filter group hash join key line "
            "merge order part query row scan slow small sort spark stream table the value "
            "vector window"
        ).split(),
        "duplicate_texts": 8,
        "sources": 20,
        "lang_share": {"en": 0.4118, "de": 0.1404, "es": 0.1488, "fr": 0.1484, "zh": 0.1506},
    },
    "orders": {
        "rows": 150_000,
        "first_date": "1995-01-01",
        "last_date": "2001-08-01",
        "price_min": 1001.91,
        "price_max": 499993.18,
        "customers": 14_999,
    },
    "customer": {"rows": 15_000, "nations": 25, "segments": 5},
    "nation": {"rows": 25, "regions": 5},
    "events": {
        "rows": 100_000,
        "users": 1_500,
        "first_ts": "2024-01-01 00:00:11.172425",
        "last_ts": "2024-01-30 23:59:25.261702",
        # every event time has a non-zero microsecond part
        "subsecond_share": 1.0,
        "event_types": 5,
        "value_mean": 49.87,
        "props": 100,
    },
}
SF_ROWS = {t: shape["rows"] for t, shape in SF01_PROFILE.items()}
VOCAB = SF01_PROFILE["documents"]["vocabulary"]
LANG_WEIGHTS = {k: round(v, 2) for k, v in SF01_PROFILE["documents"]["lang_share"].items()}
EVENT_DAYS = 30


def profile(sf_dir: str) -> dict:
    """The shape of the query tables under ``sf_dir``, in the keys of
    :data:`SF01_PROFILE`."""
    import duckdb

    con = duckdb.connect()
    t = {n: f"read_parquet('{os.path.join(sf_dir, n)}.parquet')" for n in SF_ROWS}

    def one(sql):
        return con.sql(sql).fetchone()

    words = f"len(string_split(text, ' '))"
    n, wmin, wmax, wmean, distinct, sources = one(
        f"SELECT count(*), min({words}), max({words}), round(avg({words}), 2), "
        f"count(DISTINCT text), count(DISTINCT source) FROM {t['documents']}"
    )
    vocab = [r[0] for r in con.sql(
        f"SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM {t['documents']} ORDER BY w"
    ).fetchall()]
    langs = dict(con.sql(
        f"SELECT lang, round(count(*) / {n}, 4) FROM {t['documents']} GROUP BY lang"
    ).fetchall())
    o = one(
        f"SELECT count(*), strftime(min(o_orderdate), '%Y-%m-%d'), "
        f"strftime(max(o_orderdate), '%Y-%m-%d'), min(o_totalprice), max(o_totalprice), "
        f"count(DISTINCT o_custkey) FROM {t['orders']}"
    )
    c = one(f"SELECT count(*), count(DISTINCT c_nationkey), count(DISTINCT c_mktsegment) "
            f"FROM {t['customer']}")
    na = one(f"SELECT count(*), count(DISTINCT n_regionkey) FROM {t['nation']}")
    e = one(
        f"SELECT count(*), count(DISTINCT user_id), CAST(min(ts) AS VARCHAR), "
        f"CAST(max(ts) AS VARCHAR), round(avg((epoch_us(ts) % 1000000 <> 0)::INT), 4), "
        f"count(DISTINCT event_type), round(avg(value), 2), count(DISTINCT props) "
        f"FROM {t['events']}"
    )
    con.close()
    return {
        "documents": {
            "rows": n, "words_min": wmin, "words_max": wmax, "words_mean": wmean,
            "vocabulary": vocab, "duplicate_texts": n - distinct, "sources": sources,
            "lang_share": langs,
        },
        "orders": dict(zip(("rows", "first_date", "last_date", "price_min", "price_max",
                            "customers"), o)),
        "customer": dict(zip(("rows", "nations", "segments"), c)),
        "nation": dict(zip(("rows", "regions"), na)),
        "events": dict(zip(("rows", "users", "first_ts", "last_ts", "subsecond_share",
                            "event_types", "value_mean", "props"), e)),
    }


def _file_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def engine_hash(root: str) -> str:
    """Hash of every source file of the engine package under ``root``."""
    pkg = os.path.join(root, "exome_qc_library_spark")
    return _file_hash(
        *sorted(
            os.path.join(d, f) for d, _, files in os.walk(pkg) for f in files if f.endswith(".py")
        )
    )


def _publish(tmp: str, final: str) -> None:
    """Move a finished cache entry into place; a concurrent twin wins."""
    try:
        os.replace(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _pool(spark, src: str) -> str:
    """The seed-independent synth pool every corpus is drawn from."""
    from exome_qc_library_spark.synth import synthesize_pages

    final = os.path.join(CACHE, f"pool-n{POOL_DOCS}-{src}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        synthesize_pages(
            spark, n_docs=POOL_DOCS, seed=POOL_SEED, with_edge_cases=False
        ).write.parquet(tmp)
        _publish(tmp, final)
    return final


def _mix(x):
    """splitmix64 finalizer over a uint64 array: a seeded, portable hash."""
    import numpy as np

    with np.errstate(over="ignore"):
        x = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def pages_corpus(spark, root: str, seed: int, n_docs: int) -> tuple[str, dict]:
    """Path of the cached pages parquet for (seed, n_docs) and its facts
    (rows, distinct urls), made on first use.

    Synthesis in a cold JVM costs about as much as a pipeline run, so the
    engine's synthesizer fills one seed-independent pool per checkout and a
    seed picks ``n_docs`` of it with pyarrow: whole duplicate clusters (synth
    copies cluster content from the doc whose id is the multiple of 7
    below), ordered by a seeded hash of the cluster. Each pool file keeps its
    picked rows, so the corpus has the pool's partitioning and Spark schema.
    """
    import numpy as np
    import pyarrow.parquet as pq

    src = _file_hash(
        os.path.join(root, "exome_qc_library_spark", "synth.py"),
        os.path.join(root, "exome_qc_library_spark", "functions", "lexicons.py"),
    )
    final = os.path.join(CACHE, f"pages-s{seed}-n{n_docs}-{src}")
    meta_path = os.path.join(final, "facts.json")
    if not os.path.exists(meta_path):
        pool = _pool(spark, src)
        files = sorted(f for f in os.listdir(pool) if f.endswith(".parquet"))
        tables = [pq.read_table(os.path.join(pool, f)) for f in files]
        ids = [
            np.array([int(u.rsplit("/", 1)[1]) for u in t["url"].to_pylist()], np.int64)
            for t in tables
        ]
        every = np.concatenate(ids)
        keys = _mix((every // 7).astype(np.uint64) ^ _mix(np.array([seed], np.uint64)))
        picked = every[np.lexsort((every, keys))[:n_docs]]
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        kept_urls: set[str] = set()
        for f, table, part_ids in zip(files, tables, ids):
            table = table.filter(np.isin(part_ids, picked))
            kept_urls.update(table["url"].to_pylist())
            # INT96 timestamps and Spark's row metadata, as Spark wrote the pool
            pq.write_table(
                table, os.path.join(tmp, "pages", f), use_deprecated_int96_timestamps=True
            )
        with open(os.path.join(tmp, "facts.json"), "w") as fh:
            json.dump({"rows": len(picked), "urls": len(kept_urls), "seed": seed}, fh)
        _publish(tmp, final)
    with open(meta_path) as f:
        return os.path.join(final, "pages"), json.load(f)


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def sf_tables(seed: int) -> str:
    """Directory of the seeded sf0.1-shaped query tables, built on first use."""
    final = os.path.join(CACHE, f"sf0.1-s{seed}-{_file_hash(os.path.abspath(__file__))}")
    if os.path.exists(os.path.join(final, "_done")):
        return final
    import numpy as np
    import pyarrow as pa

    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = lambda name: os.path.join(tmp, f"{name}.parquet")  # noqa: E731

    # the documents table ignores the seed: its text queries' DuckDB oracle
    # is then computed once per checkout (see checks.oracle_answer)
    rng = np.random.default_rng([DOCS_SEED, 1])
    shape = SF01_PROFILE["documents"]
    n = SF_ROWS["documents"]
    lens = rng.integers(shape["words_min"], shape["words_max"] + 1, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # a few exact duplicates, so exact_dedup has groups to resolve
    for i in rng.choice(np.arange(1, n), shape["duplicate_texts"], replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    langs = rng.choice(list(LANG_WEIGHTS), n, p=list(LANG_WEIGHTS.values()))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": texts,
                "lang": langs.tolist(),
                "source": [f"src{i % shape['sources']}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        p("documents"),
    )

    rng = np.random.default_rng([seed, 1])
    n = SF_ROWS["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(rng.integers(0, SF_ROWS["nation"], n), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
                ).tolist(),
            }
        ),
        p("customer"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(SF_ROWS["nation"]), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(SF_ROWS["nation"])],
                "n_regionkey": pa.array(
                    np.arange(SF_ROWS["nation"]) % SF01_PROFILE["nation"]["regions"], pa.int32()
                ),
            }
        ),
        p("nation"),
    )

    n = SF_ROWS["orders"]
    shape = SF01_PROFILE["orders"]
    day0 = np.datetime64(shape["first_date"], "us")
    n_days = (np.datetime64(shape["last_date"]) - np.datetime64(shape["first_date"])).astype(int) + 1
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, SF_ROWS["customer"], n), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
                "o_orderdate": pa.array(
                    day0 + rng.integers(0, n_days, n).astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ).tolist(),
            }
        ),
        p("orders"),
    )

    n = SF_ROWS["events"]
    shape = SF01_PROFILE["events"]
    # uniform over the profile's days, at the profile's microsecond resolution
    span_us = int(dt.timedelta(days=EVENT_DAYS).total_seconds() * 1e6)
    ts = np.datetime64(shape["first_ts"][:10], "us") + np.sort(
        rng.integers(0, span_us, n)
    ).astype("timedelta64[us]")
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, shape["users"], n), pa.int64()),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n).tolist(),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, shape["props"], n)],
            }
        ),
        p("events"),
    )
    open(os.path.join(tmp, "_done"), "w").close()
    _publish(tmp, final)
    return final


if __name__ == "__main__":
    print(json.dumps(profile(sys.argv[1]), indent=1))
