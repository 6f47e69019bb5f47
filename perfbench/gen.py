"""Seeded input generator for the benchmark workloads.

Writes parquet tables with the same schemas as the engine's TPC-H-ish test
data (see TESTDATA.md): `events`, `documents`, `customer` and `embeddings`.
Every value is a pure function of (seed, row, column) through DuckDB's
`hash()`, so the same seed gives byte-identical tables on every run and no
RNG state is involved.

Shapes follow the reference data generator:
  - events: timestamps spread over January 2024, five event types, cents
    values skewed towards small amounts, ~67 events per user;
  - documents: bags of 10..100 words over a 30-word vocabulary, five
    languages, 20 sources; every 20th document is a near-duplicate (one of
    the 18 documents before it plus the word `dup`) and every 500th an
    exact copy of its predecessor. Copies always copy an original, so the
    duplicate graph has the same shape, and the dedup operators the same
    number of rounds, for every seed;
  - customer: `Customer#%09d` names, whose one-digit variants are the
    edit-distance join's answers;
  - embeddings: 64-d unit vectors with isotropic Gaussian directions and a
    label in 0..9.
"""
import hashlib
import os
import shutil

import duckdb

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

# uniform double in [0, 1) from a 64-bit hash of (seed, salt, keys...)
def _u(seed, salt, *keys):
    args = ", ".join(str(k) for k in keys)
    return f"(hash({seed}, {salt}, {args}) % 1000000007)::DOUBLE / 1000000007.0"


def _events(seed, n):
    users = max(n * 3 // 200, 10)
    return f"""
    SELECT i::BIGINT AS event_id,
           (TIMESTAMP '2024-01-01' + to_microseconds(
               (i * 2592000000000 // {n})::BIGINT
               + floor({_u(seed, 1, 'i')} * (2592000000000 // {n}))::BIGINT)) AS ts,
           floor({_u(seed, 2, 'i')} * {users})::BIGINT AS user_id,
           (['signup', 'click', 'error', 'view', 'purchase'])[
               1 + floor({_u(seed, 3, 'i')} * 5)::INT] AS event_type,
           round(-50.0 * ln(1.0 - {_u(seed, 4, 'i')} * 0.99999), 2)::DOUBLE AS value,
           '{{"k": ' || floor({_u(seed, 5, 'i')} * 100)::INT || '}}' AS props
    FROM range({n}) t(i)"""


def _documents(seed, n):
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return f"""
    WITH lens AS (
      SELECT i, 10 + floor({_u(seed, 10, 'i')} * 91)::BIGINT AS n_words,
      FROM range({n}) t(i)),
    base AS (
      SELECT l.i AS doc_id,
             string_agg({vocab}[1 + (hash({seed}, 11, l.i, j) % 30)::INT], ' ' ORDER BY j)
               AS text
      FROM lens l, range(100) w(j) WHERE w.j < l.n_words GROUP BY l.i),
    src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 500 = 250 THEN doc_id - 1
                  WHEN doc_id % 20 = 19 THEN doc_id - 1 - hash({seed}, 13, doc_id) % 18
                  ELSE doc_id END AS other
      FROM base)
    SELECT b.doc_id::BIGINT AS doc_id, t.text,
           (['en', 'en', 'en', 'fr', 'zh', 'de', 'es'])[
               1 + floor({_u(seed, 14, 'b.doc_id')} * 7)::INT] AS lang,
           'src' || (b.doc_id % 20) AS source,
           length(t.text)::BIGINT AS n_chars
    FROM base b JOIN src s USING (doc_id)
    JOIN base o ON o.doc_id = s.other,
    LATERAL (SELECT CASE WHEN b.doc_id % 500 = 250 THEN o.text
                         WHEN b.doc_id % 20 = 19 THEN o.text || ' dup'
                         ELSE b.text END AS text) t
    ORDER BY b.doc_id"""


def _customer(seed, n):
    return f"""
    SELECT i::BIGINT AS c_custkey,
           'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
           floor({_u(seed, 20, 'i')} * 25)::INTEGER AS c_nationkey,
           round({_u(seed, 21, 'i')} * 10999.99 - 999.99, 2)::DOUBLE AS c_acctbal,
           (['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])[
               1 + floor({_u(seed, 22, 'i')} * 5)::INT] AS c_mktsegment
    FROM range({n}) t(i)"""


def _embeddings(seed, n, dim=64):
    # Box-Muller normals, then unit length
    g = (f"sqrt(-2.0 * ln(1.0 - (hash({seed}, 30, i, j) % 1000000007)::DOUBLE / 1000000007.0))"
         f" * cos(2 * pi() * (hash({seed}, 31, i, j) % 1000000007)::DOUBLE / 1000000007.0)")
    return f"""
    WITH raw AS (
      SELECT i, list_transform(range({dim}), j -> {g}) AS v FROM range({n}) t(i))
    SELECT i::BIGINT AS vec_id,
           list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
             AS embedding,
           floor({_u(seed, 32, 'i')} * 10)::INTEGER AS label
    FROM raw ORDER BY i"""


TABLES = {"events": _events, "documents": _documents,
          "customer": _customer, "embeddings": _embeddings}


def fingerprint():
    """Short hash of this generator's source, part of the cache key."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def generate(out_dir, seed, sizes):
    """Write `{table: rows}` into `out_dir` once; later calls reuse it.

    The tables are written into a sibling temp dir that is renamed into
    place, so an interrupted run never leaves a half-written input set.
    """
    if os.path.isfile(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}/.duckdb_tmp'")
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for table, rows in sizes.items():
        path = os.path.join(tmp, f"{table}.parquet")
        con.execute(f"COPY ({TABLES[table](seed, rows)}) TO '{path}' (FORMAT PARQUET)")
    con.close()
    shutil.rmtree(os.path.join(tmp, ".duckdb_tmp"), ignore_errors=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
