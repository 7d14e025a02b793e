"""Seeded inputs for the benchmark workloads.

Everything the engine sees is made here from ``--seed``: the same seed
gives byte-identical tables and vectors. The tables follow the schemas
``zvdb_spark.sources.tables.EXPECTED_SCHEMAS`` checks (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), with
value ranges modelled on the engine's own test fixtures. Documents
include exact and near duplicates so the dedup queries find work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def documents(rng: np.random.Generator, n: int, id_offset: int = 0) -> pd.DataFrame:
    """``n`` documents of 10-100 words; about 5% are exact copies and
    10% are near copies (a few words replaced) of an earlier document,
    and about 5% carry the rare term ``dup``."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and kind < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts.append(" ".join(words))
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": np.array([f"src{i % 20}" for i in ids]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten engine tables at scale factor ``sf`` (sf=1 would be
    6M lineitem rows)."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(900.0 + (pk % 1000) / 10.0),
        }
    )
    odate = _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    lok = rng.integers(0, n_ord, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n_li) * _DAY_US),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": _money(rng.exponential(50.0, n_ev)),
            "props": np.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )
    out["documents"] = pa.Table.from_pandas(
        documents(rng, n_doc), preserve_index=False
    )
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centres = rng.standard_normal((10, 64)) * 0.01
    emb = centres[label] + rng.standard_normal((n_emb, 64)) * 0.125
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(
                list(emb.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": label,
        }
    )
    return out


def write_tables(tabs: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))


def clustered(
    seed: int, n: int, dim: int, n_centres: int, id_offset: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Mixture-of-Gaussians corpus: ``n_centres`` uniform [0,1) centres,
    sigma 0.08 around each (the clustered corpus of the engine's main
    bench). Returns (centres, vectors); rows are drawn from a
    generator keyed on (seed, id_offset), so appended deltas differ
    from the base corpus but share its centres."""
    centres = np.random.default_rng([seed, 1]).random((n_centres, dim))
    rng = np.random.default_rng([seed, 2, id_offset])
    assign = rng.integers(0, n_centres, n)
    return centres, centres[assign] + 0.08 * rng.standard_normal((n, dim))


def queries_near(
    centres: np.ndarray, seed: int, n: int, salt: int
) -> np.ndarray:
    """``n`` query vectors drawn from the same mixture as the corpus."""
    rng = np.random.default_rng([seed, 3, salt])
    assign = rng.integers(0, len(centres), n)
    return centres[assign] + 0.08 * rng.standard_normal((n, centres.shape[1]))
