"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_catalog_tables`` writes the ten TPC-H-ish parquet tables the
  operator catalog reads (``region nation customer supplier part orders
  lineitem events documents embeddings``), one file per table, with the
  column names, types and value domains of the catalog's test data. Row
  counts follow the test-data scale rule (``lineitem = 6M x sf``).
* ``EtlCorpus.interval`` builds one @daily interval of the reference
  ingest: Spotify-shaped playlist items and artist-snapshot records
  (FIXTURES.md sections 1-2), landed as JSON arrays by
  ``write_json_array``.

Everything is a pure function of its arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import json
import os
import string
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
EMBED_DIM = 64


def catalog_row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the test-data rule)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale ``sf`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = catalog_row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    np_ = n["part"]
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, np_)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, np_)],
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    users = max(50, round(ne * 0.015))
    # Sorted distinct microsecond offsets over 30 days: ts is unique, so
    # per-user latest-state queries are deterministic. Stored with
    # nanosecond precision, like the test data.
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, ne, replace=False))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = DOC_WORDS[int(rng.integers(0, 31))]
        else:
            words = list(np.array(DOC_WORDS)[rng.integers(0, 31, int(rng.integers(8, 80)))])
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table; return
    the in-memory (Arrow) bytes per table, the raw size the on-disk
    parquet is compared against."""
    os.makedirs(out_dir, exist_ok=True)
    raw = {}
    for name, table in catalog_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        raw[name] = table.nbytes
    return raw


# ---------------------------------------------------------------------------
# etl_ingest: one @daily interval of the reference pipeline
# ---------------------------------------------------------------------------

GENRES = [
    "techno", "melodic techno", "Hard-Techno", "minimal TECHNO", "tech house",
    "trance", "house", "deep house", "electro", "ambient", "drum and bass",
    "dub techno", "électronique", "", "breaks", "idm",
]
_B62 = string.digits + string.ascii_letters


def _b62_ids(rng, n: int) -> list[str]:
    """``n`` random 22-character base62 ids (the Spotify id shape)."""
    chars = np.array(list(_B62))[rng.integers(0, 62, (n, 22))]
    return ["".join(row) for row in chars.tolist()]


class EtlCorpus:
    """The seeded playlist/artist universe the ETL intervals draw from.

    ``items_per_interval`` playlist items land per @daily interval. Artists
    are reused with a Zipf law, tracks are re-ingested across days (the
    daily duplicates the views group by), and artist genres change from
    one day to the next.
    """

    def __init__(self, seed: int, items_per_interval: int, n_artists: int = 4000):
        self.seed = seed
        self.items = items_per_interval
        rng = np.random.default_rng([seed, 0])
        self.artist_ids = _b62_ids(rng, n_artists)
        self.artist_index = {a: i for i, a in enumerate(self.artist_ids)}
        w = 1.0 / np.arange(1, n_artists + 1) ** 1.1
        p = w / w.sum()
        # A track pool three days deep, so about a third of each day's
        # items were already ingested on an earlier day.
        self.n_tracks = items_per_interval * 3
        self.track_ids = _b62_ids(rng, self.n_tracks)
        counts = rng.integers(1, 5, self.n_tracks)
        draws = rng.choice(n_artists, int(counts.sum()), p=p).tolist()
        ends = np.cumsum(counts).tolist()
        self.track_artists = [
            []  # every 101st track carries the empty artist-array edge case
            if t % 101 == 0
            else sorted(set(draws[end - k : end]))
            for t, (k, end) in enumerate(zip(counts.tolist(), ends))
        ]
        self.track_info = [
            {
                "name": f"Träck {t} – {'ab'[t % 2]}",
                "artists": [{"id": self.artist_ids[a], "name": f"Artist {a}"} for a in arts],
                "album": f"al{t // 7}",
                "url": f"https://open.spotify.com/track/{self.track_ids[t]}",
            }
            for t, arts in enumerate(self.track_artists)
        ]

    def interval(self, day: int, start: datetime) -> dict:
        """Landed inputs of interval ``day`` (0-based): playlist items,
        artist snapshot records, the number of items with a usable track
        id (the rows the warehouse must gain) and those tracks' indices."""
        rng = np.random.default_rng([self.seed, 1, day])
        stamp = start + timedelta(days=day)
        n = self.items
        picked = rng.integers(0, self.n_tracks, n).tolist()
        id_u, rel_u, added_u, pop_u, url_u = rng.random((5, n)).tolist()
        added_s = rng.integers(0, 86_400, n).tolist()
        pops = rng.integers(0, 86, n).tolist()
        items, ingested = [], set()
        for i, ti in enumerate(picked):
            info = self.track_info[ti]
            u = id_u[i]
            tid = None if u < 0.01 else "" if u < 0.02 else self.track_ids[ti]
            if tid:
                ingested.add(ti)
            r = rel_u[i]
            rel = (
                f"{1990 + ti % 35}-{1 + ti % 12:02d}-{1 + ti % 28:02d}" if r < 0.45
                else f"{1990 + ti % 35}" if r < 0.9
                else "not-a-date" if r < 0.95
                else None
            )
            added = stamp + timedelta(seconds=added_s[i])
            items.append(
                {
                    "added_at": None if added_u[i] < 0.03 else added.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "track": {
                        "id": tid,
                        "name": info["name"],
                        "popularity": None if pop_u[i] < 0.05 else pops[i],
                        "preview_url": None,
                        "external_urls": {} if url_u[i] < 0.02 else {"spotify": info["url"]},
                        "artists": info["artists"],
                        "album": {"id": info["album"], "name": info["album"].upper(), "release_date": rel},
                    },
                }
            )
        # Snapshot: every artist of today's tracks except a few (their
        # tracks hit the views' left-join null path), plus a random slice
        # of the other artists; genres are re-drawn every day.
        seen = {a for it in picked for a in self.track_artists[it]}
        extra = rng.choice(len(self.artist_ids), len(self.artist_ids) // 20, replace=False)
        artists = [
            {
                "id": self.artist_ids[a],
                "name": f"  Artist {a} ",
                "genres": [GENRES[g] for g in rng.integers(0, len(GENRES), int(rng.integers(0, 5)))],
                "popularity": int(rng.integers(0, 101)),
                "followers": {"total": int(rng.pareto(1.2) * 1000)},
            }
            for a in sorted((seen | set(extra.tolist())) - {a for a in seen if a % 53 == 0})
        ]
        rows = sum(bool(it["track"]["id"]) for it in items)
        return {"stamp": stamp, "items": items, "artists": artists, "rows": rows, "ingested": ingested}


def write_json_array(records: list[dict], path: str) -> int:
    """Land ``records`` as one JSON array file; return its size in bytes."""
    data = json.dumps(records, ensure_ascii=False, separators=(",", ":")).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
