"""Seeded input generator for the graft benchmark.

Every workload's inputs are synthesized from one integer seed: the same
seed gives byte-identical parquet tables, a different seed gives different
contents at the same sizes. The generator also writes what the benchmark
needs to judge the outputs (planted duplicate pairs, the store op
sequence, expected digests computed with DuckDB); the engine under test
only ever reads the parquet tables.

Inputs are cached per (workload, generator version, scale, seed) under
the benchmark's work directory, so generation never runs inside a timed
region and a repeated seed reuses its tables.
"""
import json
import os
import shutil
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# Final input sizes. Spark's per-job fixed cost dominates at these sizes on
# 4 cores (a batch pass takes about 25 seconds, a store op about one), and
# every run of an evaluation has to fit one shared time budget. The planted
# duplicate rates (4% exact, 4% near) are assumed, not sourced; see
# perfbench/README.md for the metric each assumed value drives.
SCALES = {
    "batch": {"orders": 2_000, "factor": 8, "days": 180, "customers": 1_500,
              "parts": 2_000, "suppliers": 100,
              "docs": 600, "exact_rate": 0.04, "near_rate": 0.04,
              "media_docs": 150, "media_id_range": 750},
    "store_mixed": {"docs": 2_000, "vecs": 2_000, "pool": 64, "batch": 40,
                    "cycles": 2, "recall_queries": 256},
}
SCALE_TAG = {w: "-".join(f"{k}{v}" for k, v in s.items()) for w, s in SCALES.items()}

EMB_DIM = 64
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_SYL = ["ka", "lo", "mi", "ra", "ten", "dor", "vi", "sel", "pa", "ru", "gan",
        "te", "shi", "mon", "fa", "bel", "qu", "zor", "nu", "ist"]


def _vocab():
    # fixed across seeds: the seed drives which words a document draws,
    # not the language itself
    rng = np.random.default_rng(12345)
    words, seen = [], set(STOPWORDS)
    while len(words) < 3000:
        w = "".join(rng.choice(_SYL, size=int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return STOPWORDS + words


VOCAB = _vocab()
# word frequencies: Zipf's law, with an assumed exponent of 1.05
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_ZIPF /= _ZIPF.sum()
LANGS = ["en", "de", "fr", "es", "zh"]


def _texts(rng, n, lo=40, hi=120):
    lens = rng.integers(lo, hi + 1, size=n)
    toks = rng.choice(len(VOCAB), size=int(lens.sum()), p=_ZIPF)
    out, at = [], 0
    for n_tok in lens:
        out.append([VOCAB[t] for t in toks[at:at + n_tok]])
        at += n_tok
    return out


def _unit(rng, n, centers, noise):
    v = centers[rng.integers(0, len(centers), size=n)] + rng.normal(0, noise, (n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _centers(rng, k=32):
    c = rng.normal(0, 1, (k, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _docs_table(ids, texts, rng):
    text = [" ".join(t) for t in texts]
    n = len(ids)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def _emb_table(ids, vecs, labels):
    return {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


# ---------------------------------------------------------------- etl_star

def _etl(rng, d, sc):
    n_o, f = sc["orders"], sc["factor"]
    n_c, n_p, n_s = sc["customers"], sc["parts"], sc["suppliers"]
    day0 = np.datetime64("1995-01-01", "D")
    o_key = np.arange(n_o, dtype=np.int64)
    o_date = day0 + rng.integers(0, sc["days"], n_o)
    orders = {
        "o_orderkey": o_key,
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o),
    }
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    l_order = np.repeat(o_key, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["O", "F"], n_l),
        "l_shipdate": (np.repeat(o_date, lines) + rng.integers(1, 120, n_l)).astype("datetime64[us]"),
    }
    # replicas get disjoint order keys: replica r adds r * stride, where the
    # stride is seeded (and far above every base key)
    stride = int(rng.integers(1, 1000)) * 1_000_000 + 7
    def rep(cols, key):
        out = {}
        for c, v in cols.items():
            v = np.asarray(v)
            out[c] = np.concatenate([v + r * stride if c == key else v for r in range(f)])
        return out
    tables = {
        "orders": rep(orders, "o_orderkey"),
        "lineitem": rep(lineitem, "l_orderkey"),
        "customer": {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_c),
        },
        "part": {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [" ".join(x) for x in zip(rng.choice(["large", "hot", "small", "blue", "steel"], n_p),
                                               rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_p))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "PROMO", "STANDARD", "SMALL"], n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, n_p), 2),
        },
        "supplier": {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    }
    for name, cols in tables.items():
        _write(d, name, {c: pa.array(v) for c, v in cols.items()})
    base = os.path.join(d, "base")
    os.makedirs(base)
    for name, cols in (("orders", orders), ("lineitem", lineitem)):
        _write(base, name, {c: pa.array(v) for c, v in cols.items()})
    return {"factor": f, "expected": etl_expected(d, f)}


# digest queries: a count plus exact DECIMAL sums, so the engine's answer is
# compared digit for digit with DuckDB's
ETL_DIGESTS = {
    "fact": """SELECT count(*) AS n, sum(o_orderkey) AS s FROM orders
               WHERE o_orderkey % 7 <> 0 AND o_custkey % 26 < 25 AND o_orderkey % 5 < 3
                 AND o_custkey % 6 < 5""",
    "port_demographics": """
        WITH demo AS (SELECT 'city ' || CAST(c_custkey % 40 AS VARCHAR) AS city,
                             CAST(c_custkey % 5 AS VARCHAR) AS state_code,
                             c_custkey % 1000 + 500 AS pop FROM customer),
             ports AS (SELECT CASE WHEN n_nationkey = 3 THEN 'nowhere'
                                   ELSE 'city ' || CAST(n_nationkey AS VARCHAR) END AS city,
                              CAST(CASE WHEN n_nationkey % 7 = 0 THEN 9
                                        ELSE n_nationkey % 5 END AS VARCHAR) AS state_code
                       FROM nation)
        SELECT count(*) AS n, sum(pop) AS s FROM ports p
        JOIN (SELECT city, state_code, sum(pop) AS pop FROM demo GROUP BY 1, 2) d
          ON d.city = p.city AND d.state_code = p.state_code""",
    "star_join": """SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
                    FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
                    JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
                    JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey""",
    "group_by_sum": """SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
                       FROM lineitem""",
    "window_topk": """SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s FROM (
                        SELECT o_totalprice, row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) WHERE rnk <= 3""",
    "sas_date": """SELECT count(*) AS n,
                          sum(datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE))) AS s
                   FROM lineitem""",
    "topk_per_key": """SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s FROM (
                         SELECT l_extendedprice, row_number() OVER (PARTITION BY l_suppkey
                           ORDER BY l_extendedprice DESC, l_orderkey) AS rnk FROM lineitem) WHERE rnk <= 5""",
}
# digests whose count and sum grow exactly by the replication factor
SCALING_LAW = ("star_join", "group_by_sum", "sas_date")


def etl_expected(d, factor):
    import duckdb
    def run(dirpath):
        con = duckdb.connect()
        for t in ("orders", "lineitem", "customer", "part", "supplier", "nation", "region"):
            p = os.path.join(dirpath, f"{t}.parquet")
            if not os.path.exists(p):
                p = os.path.join(d, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, sql in ETL_DIGESTS.items():
            n, s = con.execute(sql).fetchone()
            out[name] = {"n": int(n), "s": str(Decimal(s).quantize(Decimal("0.01")))}
        con.close()
        return out
    full, base = run(d), run(os.path.join(d, "base"))
    return {"full": full, "base": base,
            "scaled": {k: {"n": base[k]["n"] * factor,
                           "s": str(Decimal(base[k]["s"]) * factor)} for k in SCALING_LAW}}


# ---------------------------------------------------------------- curation

def _text(rng, d, sc):
    n = sc["docs"]
    n_exact, n_near = int(n * sc["exact_rate"]), int(n * sc["near_rate"])
    n_uniq = n - n_exact - n_near
    texts = _texts(rng, n_uniq)
    centers = _centers(rng)
    vecs = _unit(rng, n_uniq, centers, 0.35)
    origins = rng.choice(n_uniq, size=n_exact + n_near, replace=False)
    all_texts, all_vecs, src = list(texts), list(vecs), list(range(n_uniq))
    for j, o in enumerate(origins):
        t = list(texts[o])
        if j >= n_exact:   # near copy: one token replaced by a different word
            pos = int(rng.integers(0, len(t)))
            w = t[pos]
            while w == t[pos]:
                w = VOCAB[int(rng.integers(len(STOPWORDS), len(VOCAB)))]
            t[pos] = w
        all_texts.append(t)
        v = vecs[o] + rng.normal(0, 0.01, EMB_DIM)
        all_vecs.append((v / np.linalg.norm(v)).astype(np.float32))
        src.append(int(o))
    perm = rng.permutation(n)          # perm[i] = doc_id of generated row i
    order = np.argsort(perm)
    ids = np.arange(n, dtype=np.int64)
    _write(d, "documents", _docs_table(ids, [all_texts[i] for i in order], rng))
    _write(d, "embeddings", _emb_table(ids, [all_vecs[i] for i in order],
                                       rng.integers(0, 10, n).astype(np.int32)))
    planted = sorted(sorted((int(perm[src[i]]), int(perm[i]))) for i in range(n_uniq, n))
    return {"docs": n, "planted_pairs": planted}


def _media(rng, d, sc):
    # MediaFixtures derives every payload from doc_id alone; the seed picks
    # which ids exist, and with them the planted clusters (doc_id % 50)
    ids = np.sort(rng.choice(sc["media_id_range"], size=sc["media_docs"],
                             replace=False)).astype(np.int64)
    texts = [["media", "item", str(i)] for i in ids]
    _write(d, "documents", _docs_table(ids, texts, rng))
    return {"media_doc_ids": ids.tolist()}


def _batch(rng, d, sc):
    """Star-schema tables and the text corpus at the top level (their table
    names differ), the media doc subset under media/."""
    manifest = _etl(rng, d, sc)
    manifest.update(_text(rng, d, sc))
    os.makedirs(os.path.join(d, "media"))
    manifest.update(_media(rng, os.path.join(d, "media"), sc))
    return manifest


# ------------------------------------------------------------- store_mixed

# The client's op sequence is a series of steps, each closed by an `end`
# line. The first step, the warm-up, is one hybrid read, which runs both
# stores' read paths. Every later
# step is a cycle of three blocks, one per write type in WRITES order. A
# block holds, in a seeded order, two ANN probes, a BM25 arm and the write,
# and right after the write a hybrid read of one of its rows (an appended
# row must be served, a tombstoned one must not). A cycle ends with a
# compaction of both stores. A run times whole cycles (one per timed phase;
# a traced run has two phases), so every seed and every build times the
# same mix: 12 reads, 3 writes and a compaction.
#
# Assumed, not measured or sourced: the read split of a block (two probes,
# one BM25 arm, one hybrid read), one write per block (with the compaction,
# 12 of 16 ops are reads, near the ~80% the workload asks for), a compaction
# once per cycle, 40-row write batches and 10 tombstone victims, and Zipf
# exponent 1.1 over a pool of 64 queries. perfbench/README.md lists which
# metric each one drives.
WARMUP = ["hybrid"]
BLOCK = ["probe", "probe", "bm25", "write"]
WRITES = ["append", "stream_day", "tombstone"]


def _store(rng, d, sc):
    n_docs, n_vecs, pool, batch = sc["docs"], sc["vecs"], sc["pool"], sc["batch"]
    centers = _centers(rng)
    doc_texts = _texts(rng, n_docs)
    vecs = _unit(rng, n_vecs, centers, 0.35)
    _write(d, "documents", _docs_table(np.arange(n_docs, dtype=np.int64), doc_texts, rng))
    _write(d, "embeddings", _emb_table(np.arange(n_vecs, dtype=np.int64), vecs,
                                       rng.integers(0, 10, n_vecs).astype(np.int32)))
    # query pool: four distinct content words of a stored doc (not among
    # the 50 most frequent words, so every query's postings are of similar
    # size), and a stored vector plus noise; query ids are negative so no
    # query is its own neighbour
    common = set(VOCAB[:50])
    q_text = []
    for s in rng.integers(0, n_docs, pool):
        words = sorted(set(doc_texts[s]) - common)
        q_text.append([str(w) for w in rng.choice(words, size=4, replace=False)])
    q_vec = vecs[rng.integers(0, n_vecs, pool)] + rng.normal(0, 0.15, (pool, EMB_DIM))
    q_vec = (q_vec / np.linalg.norm(q_vec, axis=1, keepdims=True)).astype(np.float32)
    q_ids = -np.arange(1, pool + 1, dtype=np.int64)
    _write(d, "query_docs", _docs_table(q_ids, q_text, rng))
    _write(d, "query_vecs", _emb_table(q_ids, q_vec, np.zeros(pool, np.int32)))
    # Zipf draw over the pool (assumed exponent): a few queries repeat often
    zipf = 1.0 / np.arange(1, pool + 1) ** 1.1
    zipf /= zipf.sum()
    ops, next_id = [], 10_000_000
    new_docs, new_vecs = [], []
    for kind in WARMUP:
        ops.append((kind, int(rng.choice(pool, p=zipf))))
    ops.append(("end",))
    for _ in range(sc["cycles"]):
        for write in WRITES:
            for kind in rng.permutation(BLOCK):
                if kind != "write":
                    ops.append((str(kind), int(rng.choice(pool, p=zipf))))
                elif write == "tombstone":
                    # victims are initial rows; the client skips any already dead
                    victims = sorted(int(x) for x in
                                     rng.choice(n_docs, size=batch // 4, replace=False))
                    ops.append((write, *victims))
                    ops.append(("expect", victims[int(rng.integers(0, len(victims)))], 0))
                else:
                    ids = list(range(next_id, next_id + batch))
                    next_id += batch
                    new_docs += _texts(rng, batch)
                    new_vecs.append(_unit(rng, batch, centers, 0.35))
                    ops.append((write, ids[0], ids[-1]))
                    ops.append(("expect", ids[int(rng.integers(0, batch))], 1))
        ops.append(("compact",))
        ops.append(("end",))
    new_ids = np.arange(10_000_000, next_id, dtype=np.int64)
    _write(d, "new_docs", _docs_table(new_ids, new_docs, rng))
    _write(d, "new_vecs", _emb_table(new_ids, np.concatenate(new_vecs) if new_vecs else
                                     np.zeros((0, EMB_DIM), np.float32),
                                     np.zeros(len(new_ids), np.int32)))
    with open(os.path.join(d, "ops.txt"), "w") as fh:
        fh.writelines(" ".join(map(str, op)) + "\n" for op in ops)
    # ANN recall queries, drawn like the pool's vectors
    n_rq = sc["recall_queries"]
    rq = vecs[rng.integers(0, n_vecs, n_rq)] + rng.normal(0, 0.15, (n_rq, EMB_DIM))
    rq = (rq / np.linalg.norm(rq, axis=1, keepdims=True)).astype(np.float32)
    _write(d, "recall_vecs", _emb_table(-np.arange(1, n_rq + 1, dtype=np.int64), rq,
                                        np.zeros(n_rq, np.int32)))
    return {}


GENERATORS = {"batch": _batch, "store_mixed": _store}


def input_dir(root, workload, seed):
    return os.path.join(root, "inputs",
                        f"{workload}-g{GEN_VERSION}-{SCALE_TAG[workload]}-s{seed}")


def prepare(root, workload, seed):
    """Generate (or reuse) the inputs of `workload` for `seed`; returns
    (input dir, manifest)."""
    d = input_dir(root, workload, seed)
    done = os.path.join(d, "manifest.json")
    if not os.path.exists(done):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # one stream per (workload, seed): workloads never share draws
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
        manifest = GENERATORS[workload](rng, tmp, SCALES[workload])
        manifest.update(workload=workload, seed=seed, gen_version=GEN_VERSION,
                        scale=SCALES[workload])
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(done) as fh:
        return d, json.load(fh)
