"""Output checks: table digests, the extraction oracle and query oracles.

A digest is an order-insensitive multiset fingerprint of a table: row
count, ``bit_xor`` and exact decimal sum of a per-row ``xxhash64`` over the
columns in name order.  Two tables with equal digests hold the same rows
with the same multiplicities (up to a 64-bit hash collision).
"""

from __future__ import annotations

import functools
import importlib.util
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.oracle import corpus_extract
from kg.tokenizer import Vocab

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ("documents", "extract", "mentions", "triples", "linked",
          "nodes", "edges", "keyphrases", "documents_out")

# The ten relational / kg.ops queries of bench.RELATIONAL_BENCH.
QUERIES = ("seg_wordcount", "range_self_join", "lineitem_agg", "revenue_by_nation",
           "keyphrases_top5", "word_jaccard_pairs", "cosine_topk", "simhash",
           "simhash_neardup", "minhash_clusters")

SF_TABLES = ("region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings")


def digest(df: DataFrame) -> str:
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.select(
        F.count("*").alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['x']}:{row['s']}"


def table_digests(tables, names=TABLES) -> dict[str, str]:
    return {name: digest(tables[name]) for name in names}


def oracle_digests(spark: SparkSession, docs: list[dict], vocab: Vocab,
                   schemas: dict) -> dict[str, str]:
    """Digests of ``kg.oracle.corpus_extract``'s mentions and triples,
    built with the committed tables' schemas so the row hashes agree."""
    import pandas as pd

    mentions, triples = corpus_extract(docs, vocab)
    out = {}
    for name, rows in (("mentions", mentions), ("triples", triples)):
        schema = schemas[name]
        pdf = pd.DataFrame(rows, columns=schema.fieldNames())
        out[name] = digest(spark.createDataFrame(pdf, schema=schema))
    return out


@functools.cache
def _check_oracles_module():
    """``tools/check_oracles.py``, whose ``table_hash`` the query check uses."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pandas_hash(pdf) -> tuple[int, str]:
    """Row count and order-insensitive hash of a collected query result."""
    return _check_oracles_module().table_hash(
        list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)])


def _simhash_words(work: str):
    """Stand-in for ``kg.oracle_tables.ensure_simhash_words`` that keeps
    its (word, xxhash64) dimension table inside ``work``."""

    def ensure(documents_parquet: str, fingerprint: str = "") -> str:
        from kg.xxh64 import xxh64_str

        path = os.path.join(work, "oracle_simhash_words.parquet")
        if not os.path.exists(path):
            texts = pq.read_table(documents_parquet, columns=["text"]).column("text")
            words = sorted({w for t in texts.to_pylist() for w in (t or "").split(" ") if w})
            tmp = path + ".tmp"
            pq.write_table(pa.table({"word": words, "h": [xxh64_str(w) for w in words]},
                                    schema=pa.schema([("word", pa.string()), ("h", pa.int64())])),
                           tmp)
            os.replace(tmp, path)
        return path

    return ensure


@contextmanager
def _oracle_env(sf_dir: str, work: str):
    import kg.oracle_tables as OT

    saved_fn, saved_env = OT.ensure_simhash_words, os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    OT.ensure_simhash_words = _simhash_words(work)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    try:
        yield
    finally:
        OT.ensure_simhash_words = saved_fn
        if saved_env is None:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = saved_env


def oracle_sqls(sf_dir: str, work: str) -> dict[str, str]:
    """DuckDB oracle SQL of each query.

    ``__spark_entry__.oracle_sql()`` also builds the KG oracles, which read
    the reference corpus, so the ten SQLs come from the module's individual
    builders instead.
    """
    import __spark_entry__ as E

    with _oracle_env(sf_dir, work):
        static = E._oracle_sql_static()
        sqls = {n: static[n] for n in QUERIES if n in static}
        sqls["simhash"] = E._simhash_sql()
        sqls["simhash_neardup"] = E._simhash_neardup_sql()
        sqls["minhash_clusters"] = E._minhash_clusters_sql()
    return sqls


def oracle_frames(sf_dir: str, work: str) -> dict:
    """Each query's DuckDB oracle result as a pandas frame."""
    import duckdb

    sqls = oracle_sqls(sf_dir, work)
    con = duckdb.connect()
    try:
        os.makedirs(os.path.join(work, "duckdb_tmp"), exist_ok=True)
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
        con.execute("SET threads=4")
        for t in SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: con.execute(sqls[name]).df() for name in QUERIES}
    finally:
        con.close()


def oracle_hashes(sf_dir: str, work: str) -> dict[str, tuple[int, str]]:
    """(rows, hash) of each query's oracle result, cached in ``work`` under
    a key of the SQL texts and the input files' sizes and mtimes."""
    import hashlib
    import json

    key = hashlib.sha256(json.dumps([
        sorted(oracle_sqls(sf_dir, work).items()),
        [(t, os.stat(f"{sf_dir}/{t}.parquet").st_size,
          os.stat(f"{sf_dir}/{t}.parquet").st_mtime_ns) for t in SF_TABLES],
    ]).encode()).hexdigest()[:16]
    path = os.path.join(work, f"oracle_hashes_{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return {k: tuple(v) for k, v in json.load(f).items()}
    out = {name: pandas_hash(df) for name, df in oracle_frames(sf_dir, work).items()}
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out
