"""Seeded input generators for the benchmark.

Everything the program reads in a run is made here from ``--seed``:
the TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings`` (the same table names, columns and value domains the
registry queries and their DuckDB twins expect), and the RecentChanges
capture the streaming workloads replay or serve over SSE.  The same
seed always gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "small", "large", "green"]
PART_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

# events.event_type -> RecentChanges change type
CHANGE_TYPES = {
    "view": "edit",
    "click": "edit",
    "purchase": "create",
    "signup": "log",
    "error": "categorize",
}

_EPOCH = datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table: adding a table never shifts
    another table's values for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf 0.01 -> 60k
    lineitem rows, the same ratios as the TPC-H-style fixtures)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "lineitem": max(200, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(20, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    rng = _rng(seed, "events")
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary with planted
    exact duplicates (case/whitespace variants, ~3%) and near
    duplicates (one word changed plus a ``dup`` marker, ~8%), so every
    dedup operator has true pairs to find."""
    rng = _rng(seed, "documents")
    langs = list(rng.choice(LANGS, n))
    sources = [f"src{k}" for k in rng.integers(0, 20, n)]
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 10 and roll < 0.11:
            # a copy stays in its original's (lang, source) block, so
            # the blocked near-dup operators can pair it
            j = int(rng.integers(0, i))
            langs[i], sources[i] = langs[j], sources[j]
            if roll < 0.03:
                src = texts[j]
                texts.append(src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "  "))
                continue
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    rng = _rng(seed, "tpch")
    nc, ns, npt, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    part_price = 900.0 + (np.arange(npt) % 1000) / 10.0
    l_part = rng.integers(0, npt, nl, dtype=np.int64)
    l_qty = rng.integers(1, 51, nl).astype(np.float64)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npt), rng.choice(PART_NOUN, npt))]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npt)]),
                "p_type": pa.array(rng.choice(PART_TYPES, npt)),
                "p_size": pa.array(rng.integers(1, 51, npt).astype(np.int32)),
                "p_retailprice": pa.array(part_price),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, no)),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
                "l_partkey": pa.array(l_part),
                "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(l_qty),
                "l_extendedprice": pa.array(np.round(l_qty * part_price[l_part], 2)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
                "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, nl)),
            }
        ),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every registry table as ``<out_dir>/<name>.parquet`` (one
    file, one row group, like the fixtures); returns row counts."""
    n = sizes(sf)
    tables = tpch_tables(seed, sf)
    tables["events"] = events_table(seed, n["events"], n["users"])
    tables["documents"] = documents_table(seed, n["documents"])
    tables["embeddings"] = embeddings_table(seed, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- RecentChanges capture ---------------------------------------------------


class Capture:
    """A seeded RecentChanges capture and its enrichment dimensions.

    ``n_events`` Change dicts built from a generated ``events`` table:
    one change per event, ``user`` from ``user_id``, revision text from
    a generated ``documents`` table, and titles drawn from a pool of
    ``max(16, n_events // 4)`` so dedup state grows with the stream.
    """

    def __init__(self, seed: int, n_events: int, n_docs: int = 500, n_users: int = 200):
        ev = events_table(seed, n_events, n_users).to_pydict()
        docs = documents_table(seed, n_docs).to_pydict()
        rng = _rng(seed, "capture")
        n_titles = max(16, n_events // 4)
        title_ids = rng.integers(0, n_titles, n_events)
        namespaces = np.where(rng.random(n_events) < 0.8, 2, 0)
        bots = rng.random(n_events) < 0.1
        sites = np.where(rng.random(n_events) < 0.9, "en.wikipedia.org", "de.wikipedia.org")
        revids = rng.integers(0, n_docs, n_events)
        self.changes: list[dict] = []
        for i in range(n_events):
            ts: datetime = ev["ts"][i]
            site = str(sites[i])
            title = f"User:Page{int(title_ids[i])}"
            dt = ts.replace(tzinfo=timezone.utc).isoformat().replace("+00:00", "Z")
            self.changes.append(
                {
                    "id": int(ev["event_id"][i]),
                    "type": CHANGE_TYPES[ev["event_type"][i]],
                    "title": title,
                    "namespace": int(namespaces[i]),
                    "comment": ev["props"][i],
                    "user": f"User{ev['user_id'][i]}",
                    "bot": bool(bots[i]),
                    "minor": False,
                    "patrolled": False,
                    "wiki": site.split(".")[0] + "wiki",
                    "server_name": site,
                    "server_url": f"https://{site}",
                    "server_script_path": "/w",
                    "timestamp": int((ts - _EPOCH) / timedelta(seconds=1)),
                    "length": {"old": None, "new": int(ev["value"][i] * 10)},
                    "revision": {"old": None, "new": int(revids[i])},
                    "meta": {
                        "domain": site,
                        "partition": 0,
                        "uri": f"https://{site}/wiki/{title}",
                        "offset": i,
                        "topic": "eqiad.mediawiki.recentchange",
                        "request_id": f"req-{seed}-{i}",
                        "schema_uri": "/mediawiki/recentchange/1.0.0",
                        "dt": dt,
                        "id": f"evt-{seed}-{i}",
                    },
                }
            )
        self.users = [(f"User{u}", int(c)) for u, c in enumerate(rng.integers(0, 400, n_users))]
        self.revisions = list(zip(docs["doc_id"], docs["text"]))

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for change in self.changes:
                f.write(json.dumps(change, separators=(",", ":")) + "\n")
