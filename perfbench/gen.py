"""Seeded input generator for the benchmark.

Everything the program reads is drawn here from one seed, so the same
seed gives byte-identical parquet files.  Two families are written:

- the star schema (``region nation customer supplier part orders
  lineitem events``) with the schema, key ranges and categorical
  domains of the repository's sf0.1 test tables, scaled by ``sf``;
- a document and embedding corpus (``documents embeddings``) drawn
  fresh per document, never by copying documents, so that the planted
  duplicate structure matches sf0.1 at any size:

  - token length uniform on 10..100 over a 30-word vocabulary;
  - language mix en 41 % and de/es/fr/zh ~15 % each, 20 sources;
  - exact duplicates: 8 per 5,000 documents;
  - near-duplicates: 9.5 % of documents sit in a planted cluster
    (pairs, plus about 12 triples per 5,000 documents), ~0.05 pairs
    per document; planted pairs have 3-shingle Jaccard >= 0.9 and
    every other pair stays below 0.3;
  - embeddings: unit vectors in 64 dimensions around 10 weak label
    centres (per-label mean-vector norm ~0.07), no vector repeated.

``corpus_stats`` measures those properties back from the written
files; every run record carries them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = "region nation customer supplier part orders lineitem events".split()
CORPUS_TABLES = ["documents", "embeddings"]

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_TOKEN = "dup"
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10

#: sf0.1 reference shares (5,000 documents)
EXACT_DUP_SHARE = 8 / 5000
NEAR_DUP_DOC_SHARE = 0.095
TRIPLE_SHARE = 12 / 5000  # clusters of three, per document
EMBED_PER_DOC = 0.4  # 2,000 vectors per 5,000 documents
LABEL_PULL = 0.03  # label-centre weight: per-label mean-vector norm ~0.07 as in sf0.1

_EPOCH_US = {  # microseconds since 1970-01-01
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_table(name: str, rng: np.random.Generator, sf: float) -> pa.Table:
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        )
    if name == "nation":
        nk = np.arange(25)
        return pa.table(
            {
                "n_nationkey": pa.array(nk, i32),
                "n_name": [f"NATION_{i}" for i in nk],
                "n_regionkey": pa.array(nk % 5, i32),
            }
        )
    if name == "customer":
        segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
        ck = np.arange(n_cust)
        return pa.table(
            {
                "c_custkey": pa.array(ck, i64),
                "c_name": [f"Customer#{i:09d}" for i in ck],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
                "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], s),
            }
        )
    if name == "supplier":
        sk = np.arange(n_supp)
        return pa.table(
            {
                "s_suppkey": pa.array(sk, i64),
                "s_name": [f"Supplier#{i:09d}" for i in sk],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
            }
        )
    if name == "part":
        adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
        noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
        types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
        pk = np.arange(n_part)
        p_name = np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
        )
        return pa.table(
            {
                "p_partkey": pa.array(pk, i64),
                "p_name": pa.array(p_name, s),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1), f64),
            }
        )
    if name == "orders":
        prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
                "o_orderdate": pa.array(_EPOCH_US["1995-01-01"] + order_days * _DAY_US, ts_us),
                "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], s),
            }
        )
    if name == "lineitem":
        ship_days = rng.integers(1, 2500, n_li)  # 1995-01-02 .. 2001-11
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li), f64),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
                "l_shipdate": pa.array(_EPOCH_US["1995-01-01"] + ship_days * _DAY_US, ts_us),
            }
        )
    if name == "events":
        ev_types = np.array(["click", "error", "purchase", "signup", "view"])
        ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_US["2024-01-01"]
        return pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), i64),
                "ts": pa.array(ts, ts_us),
                "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
                "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)], s),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        )
    raise ValueError(f"unknown star table {name!r}")


def write_star(
    out_dir: str, seed: int, sf: float, tables: list[str] = STAR_TABLES
) -> dict[str, int]:
    """Write the named star tables (each from its own seeded stream, so a
    table's bytes do not depend on which others are written); returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        rng = np.random.default_rng([seed, 1, STAR_TABLES.index(name)])
        table = _star_table(name, rng, sf)
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def _draw_tokens(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(10, 101))
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _corpus_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Texts with the planted exact and near-duplicate structure, in a
    seeded random order."""
    n_exact = round(EXACT_DUP_SHARE * n_docs)
    n_triples = round(TRIPLE_SHARE * n_docs)
    n_near_docs = round(NEAR_DUP_DOC_SHARE * n_docs) - 2 * n_exact
    n_pairs = max((n_near_docs - 3 * n_triples) // 2, 0)
    n_fresh = n_docs - n_exact - n_pairs - 2 * n_triples
    fresh = [_draw_tokens(rng) for _ in range(n_fresh)]
    # near-dup bases need >= 22 tokens: a one-token edit then keeps
    # 3-shingle Jaccard >= 0.9 for every pair of the cluster
    bases = [i for i, t in enumerate(fresh) if len(t) >= 22]
    picked = rng.permutation(len(bases))[: n_pairs + n_triples + n_exact]
    near = [bases[i] for i in picked[: n_pairs + n_triples]]
    exact = [bases[i] for i in picked[n_pairs + n_triples :]]
    texts = [" ".join(t) for t in fresh]
    for j, i in enumerate(near):
        texts.append(" ".join(fresh[i] + [NEAR_DUP_TOKEN]))
        if j >= n_pairs:  # a triple: also prepend the edit token
            texts.append(" ".join([NEAR_DUP_TOKEN] + fresh[i]))
    texts.extend(texts[i] for i in exact)
    order = rng.permutation(len(texts))
    return [texts[i] for i in order]


def write_corpus(out_dir: str, seed: int, n_docs: int = 5000) -> dict[str, int]:
    """Write ``documents`` and ``embeddings``; returns rows per table."""
    rng = np.random.default_rng([seed, 2])
    texts = _corpus_texts(rng, n_docs)
    n = len(texts)
    ids = np.arange(n)
    docs = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)], pa.string()),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_vec = max(int(EMBED_PER_DOC * n), 10)
    centres = rng.standard_normal((N_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vec)
    x = LABEL_PULL * centres[labels] + rng.standard_normal((n_vec, EMBED_DIM)) / np.sqrt(
        EMBED_DIM
    )
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n, "embeddings": n_vec}


_PAIRS_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs))
),
n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
c AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT c.a, c.b, c.common / (na.n + nb.n - c.common) AS j
FROM c JOIN n na ON na.doc_id = c.a JOIN n nb ON nb.doc_id = c.b
WHERE c.common / (na.n + nb.n - c.common) >= 0.3
"""


def corpus_stats(sf_dir: str) -> dict[str, float]:
    """Measured input properties of the written corpus (3-shingles of
    whitespace tokens, the generator's own definition)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        docs_path = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM '{docs_path}'")
        pairs = con.sql(_PAIRS_SQL).fetchall()
        n, distinct = con.sql("SELECT count(*), count(DISTINCT text) FROM docs").fetchone()
        emb_path = os.path.join(sf_dir, "embeddings.parquet")
        vecs, distinct_vecs = con.sql(
            f"SELECT count(*), count(DISTINCT embedding) FROM '{emb_path}'"
        ).fetchone()
    finally:
        con.close()
    near = [(a, b, j) for a, b, j in pairs if j >= 0.5]
    return {
        "docs": n,
        "near_dup_share": round(len({d for a, b, _ in near for d in (a, b)}) / n, 5),
        "pairs_per_doc": round(len(near) / n, 5),
        "pairs_between_0.3_and_0.5": len(pairs) - len(near),
        "min_planted_jaccard": round(min((j for _, _, j in near), default=0.0), 4),
        "exact_dup_share": round((n - distinct) / n, 5),
        "vectors": vecs,
        "distinct_vectors": distinct_vecs,
    }
