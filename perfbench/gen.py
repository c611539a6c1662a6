"""Seeded input generator for the four benchmark workloads.

Every input is synthesized from ``numpy.random.default_rng(seed)``; the
same seed gives byte-identical files (parquet through pyarrow with fixed
writer settings, JSON with sorted keys). The seed controls row order,
duplicate and near-duplicate injection, null injection and key skew.

Each ``make_*`` function writes its files under ``out_dir`` and returns
``(inputs, facts)``: ``inputs`` is what the engine is handed, ``facts``
is what the correctness checks need and the engine never sees.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. They are set so one run of every workload, with its
# JVM start, warm-up, measurement and oracle checks, fits the run budget
# on a 4-core host; NOTES.md gives the sizing evidence.
MEDALLION_RECORDS = 10_000
MEDALLION_PER_PAGE = 1_000
ANALYTICS_ORDERS = 30_000  # lineitem is ~4 lines per order
CORPUS_DOCS = 500
CORPUS_EMBEDDINGS = 300
EMBEDDING_DIM = 64
STREAM_BATCHES = 20
STREAM_BATCH_DOCS = 60
STREAM_WARMUP_BATCHES = 3

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# ---------------------------------------------------------------------------
# medallion: paginated brewery records
# ---------------------------------------------------------------------------

US_STATES = [f"State {chr(65 + i // 26)}{chr(65 + i % 26)}" for i in range(25)]
BREWERY_TYPES = ("micro", "nano", "regional", "brewpub", "large", "planning",
                 "contract", "proprietor")
REQUIRED = ("id", "name", "brewery_type", "state", "country")
DUP_FRAC = 0.05
NULL_FRAC = 0.01
HOT_STATE_FRAC = 0.30


def _messy(rng: np.random.Generator, s: str) -> str:
    """Mixed case and padding, which the silver stage must undo."""
    case = rng.integers(3)
    s = s.upper() if case == 0 else s.title() if case == 1 else s
    return " " * int(rng.integers(3)) + s + " " * int(rng.integers(3))


def make_medallion(seed: int, out_dir: str) -> tuple[dict, dict]:
    """~MEDALLION_RECORDS records served MEDALLION_PER_PAGE per page:
    DUP_FRAC re-delivered ids, NULL_FRAC with a null required field,
    one state holding HOT_STATE_FRAC of the rows, lat/long as strings."""
    rng = np.random.default_rng([seed, 1])
    n_unique = int(MEDALLION_RECORDS / (1 + DUP_FRAC))
    ids = [f"{x:016x}" for x in rng.integers(0, 2**63, n_unique)]
    # states: one hot key, the rest Zipf-ish
    rest_w = 1.0 / np.arange(1, len(US_STATES))
    rest_w = rest_w / rest_w.sum() * (1 - HOT_STATE_FRAC)
    state_p = np.concatenate([[HOT_STATE_FRAC], rest_w])
    state_idx = rng.choice(len(US_STATES), n_unique, p=state_p)
    type_idx = rng.integers(len(BREWERY_TYPES), size=n_unique)
    records = []
    for i, bid in enumerate(ids):
        records.append({
            "id": bid,
            "name": f"{VOCAB[rng.integers(len(VOCAB))]} brewing {i}",
            "brewery_type": BREWERY_TYPES[type_idx[i]],
            "city": f"city {int(rng.integers(500))}",
            "state": US_STATES[state_idx[i]],
            "country": "United States",
            "postal_code": f"{int(rng.integers(10000, 99999))}",
            "longitude": f"{rng.uniform(-125, -67):.7f}",
            "latitude": f"{rng.uniform(25, 49):.7f}",
            "phone": f"{int(rng.integers(10**9, 10**10))}",
        })
    # re-deliveries: a copy of an earlier record with a changed name
    n_dup = MEDALLION_RECORDS - n_unique
    for j in rng.choice(n_unique, n_dup, replace=False):
        copy = dict(records[j])
        copy["name"] = copy["name"] + " (updated)"
        records.append(copy)
    order = rng.permutation(len(records))
    records = [records[k] for k in order]
    # null injection over all copies, so some ids have a valid and an
    # invalid copy: the silver count then depends on which copy the
    # unordered dedup keeps
    for k in rng.choice(len(records), int(len(records) * NULL_FRAC), replace=False):
        records[k] = dict(records[k])
        records[k][("name", "brewery_type", "state")[rng.integers(3)]] = None
    for r in records:
        for c in ("name", "brewery_type", "city", "state", "country"):
            if r[c] is not None:
                r[c] = _messy(rng, r[c])

    pages_path = os.path.join(out_dir, "pages.jsonl")
    with open(pages_path, "w") as f:
        for r in records:
            f.write(json.dumps(r, sort_keys=True) + "\n")

    valid: dict[str, list[bool]] = {}
    for r in records:
        valid.setdefault(r["id"], []).append(all(r[c] is not None for c in REQUIRED))
    silver_min = sum(all(v) for v in valid.values())
    silver_max = sum(any(v) for v in valid.values())
    facts = {
        "records": len(records),
        "distinct_ids": len(valid),
        "silver_min": silver_min,
        "silver_max": silver_max,
        "hot_state": US_STATES[0].lower(),
        "required": list(REQUIRED),
    }
    return {"pages": pages_path, "per_page": MEDALLION_PER_PAGE}, facts


def load_pages(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f]


# ---------------------------------------------------------------------------
# analytics: a TPC-H-shaped star schema plus an events table
# ---------------------------------------------------------------------------

def _days(start: str, n: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return (base + n.astype("timedelta64[D]")).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def make_analytics(seed: int, out_dir: str) -> tuple[dict, dict]:
    """Ten tables with the schemas of the engine's test data, scaled by
    ANALYTICS_ORDERS; rows in seeded order."""
    rng = np.random.default_rng([seed, 2])
    n_ord = ANALYTICS_ORDERS
    n_cust, n_supp, n_part = n_ord // 10, max(n_ord // 150, 10), n_ord * 2 // 15
    n_events = n_ord * 2 // 3
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    def perm(cols: dict) -> pa.Table:
        t = pa.table(cols)
        return t.take(pa.array(rng.permutation(t.num_rows)))

    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = perm({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(5, size=n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = perm({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "old", "red", "small", "green", "cold"])
    noun = np.array(["ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "cap"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = perm({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(8, size=n_part)], " "),
                              noun[rng.integers(8, size=n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90000 + pk % 1000) / 100.0,
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = perm({
        "o_orderkey": ok,
        "o_custkey": rng.integers(n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(3, size=n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", odays), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(5, size=n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, lines)
    n_li = len(lo)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    tables["lineitem"] = perm({
        "l_orderkey": lo,
        "l_partkey": rng.integers(n_part, size=n_li).astype(np.int64),
        "l_suppkey": rng.integers(n_supp, size=n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(3, size=n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(2, size=n_li)],
        "l_shipdate": pa.array(
            _days("1995-01-01", np.repeat(odays, lines) + rng.integers(1, 121, n_li)),
            pa.timestamp("us"),
        ),
    })
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = perm({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(1500, size=n_events).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(5, size=n_events)],
        "value": np.round(rng.exponential(40.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(100, size=n_events)],
    })
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"sf_dir": out_dir}, {"lineitem_rows": n_li, "orders_rows": n_ord}


# ---------------------------------------------------------------------------
# corpus: documents with exact and near duplicates, plus embeddings
# ---------------------------------------------------------------------------

EXACT_DUP_FRAC = 0.20
NEAR_DUP_FRAC = 0.20


def _doc_text(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(8, 90))
    return [VOCAB[k] for k in rng.integers(len(VOCAB), size=n)]


def _near_copy(rng: np.random.Generator, toks: list[str]) -> list[str]:
    """One token replaced: 3-shingle Jaccard stays well above 0.5 for
    documents of more than a dozen tokens."""
    out = list(toks)
    out[int(rng.integers(len(out)))] = "dup"
    return out


def _corpus_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` texts in seeded order: base texts, exact copies of random
    bases and one-token edits of random bases."""
    n_exact, n_near = int(n * EXACT_DUP_FRAC), int(n * NEAR_DUP_FRAC)
    n_base = n - n_exact - n_near
    toks = [_doc_text(rng) for _ in range(n_base)]
    toks += [toks[j] for j in rng.integers(n_base, size=n_exact)]
    toks += [_near_copy(rng, toks[j]) for j in rng.integers(n_base, size=n_near)]
    return [" ".join(toks[k]) for k in rng.permutation(n)]


def make_corpus(seed: int, out_dir: str) -> tuple[dict, dict]:
    """CORPUS_DOCS documents with EXACT_DUP_FRAC exact and NEAR_DUP_FRAC
    near duplicates, and CORPUS_EMBEDDINGS unit vectors."""
    rng = np.random.default_rng([seed, 3])
    texts = _corpus_texts(rng, CORPUS_DOCS)
    n = len(texts)
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(20, size=n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write_parquet(docs, os.path.join(out_dir, "documents.parquet"))
    v = rng.standard_normal((CORPUS_EMBEDDINGS, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(CORPUS_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=CORPUS_EMBEDDINGS), pa.int32()),
    })
    _write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    # exact-duplicate groups by text (a base can be copied twice)
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    dup_groups = [g for g in groups.values() if len(g) > 1]
    facts = {"docs": n, "exact_dup_groups": dup_groups}
    return {"sf_dir": out_dir}, facts


# ---------------------------------------------------------------------------
# stream: staged micro-batch files with cross-batch re-deliveries
# ---------------------------------------------------------------------------

REDELIVER_FRAC = 0.25


def _first_ids(docs: list[tuple[int, str]]) -> list[int]:
    """Smallest doc id per whitespace-normalized, lower-cased text."""
    first: dict[str, int] = {}
    for i, t in docs:
        first.setdefault(" ".join(t.lower().split()), i)
    return sorted(first.values())


def make_stream(seed: int, out_dir: str) -> tuple[dict, dict]:
    """STREAM_BATCHES parquet files of STREAM_BATCH_DOCS documents;
    every batch after the first re-delivers REDELIVER_FRAC earlier texts
    under new, larger doc ids. File mtimes increase with the batch index
    so the file source replays them in order. A second directory holds
    the first STREAM_WARMUP_BATCHES files, for a short warm-up drain."""
    rng = np.random.default_rng([seed, 4])
    src = os.path.join(out_dir, "incoming")
    warm = os.path.join(out_dir, "warmup")
    os.makedirs(src)
    os.makedirs(warm)
    seen: list[str] = []
    next_id = 0
    all_texts: list[tuple[int, str]] = []
    t0 = 1_700_000_000
    for b in range(STREAM_BATCHES):
        n_re = int(STREAM_BATCH_DOCS * REDELIVER_FRAC) if seen else 0
        texts = [" ".join(_doc_text(rng)) for _ in range(STREAM_BATCH_DOCS - n_re)]
        texts += [seen[k] for k in rng.integers(len(seen), size=n_re)] if n_re else []
        texts = [texts[k] for k in rng.permutation(len(texts))]
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        seen.extend(texts)
        all_texts.extend(zip(ids.tolist(), texts))
        batch = pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), len(texts), p=LANG_P)],
        })
        for d in (src, warm) if b < STREAM_WARMUP_BATCHES else (src,):
            path = os.path.join(d, f"batch_{b:03d}.parquet")
            _write_parquet(batch, path)
            os.utime(path, (t0 + b, t0 + b))
    n_warm = STREAM_WARMUP_BATCHES * STREAM_BATCH_DOCS
    facts = {
        "docs": len(all_texts), "batches": STREAM_BATCHES,
        "accepted_ids": _first_ids(all_texts),
        "warmup_docs": n_warm, "warmup_batches": STREAM_WARMUP_BATCHES,
        "warmup_accepted_ids": _first_ids(all_texts[:n_warm]),
    }
    return {"source_dir": src, "warmup_dir": warm}, facts


MAKERS = {
    "medallion": make_medallion,
    "analytics": make_analytics,
    "corpus_dedup": make_corpus,
    "stream_ingest": make_stream,
}


def generate(workload: str, seed: int, out_dir: str) -> tuple[dict, dict]:
    os.makedirs(out_dir, exist_ok=True)
    return MAKERS[workload](seed, out_dir)


if __name__ == "__main__":  # python3 perfbench/gen.py <workload> <seed> <dir>
    import sys

    _, facts = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in facts.items() if not isinstance(v, list)}))
