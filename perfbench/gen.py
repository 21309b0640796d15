"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: no Spark, so generation time is
kept apart from the program's own set-up and the same seed always gives
byte-identical Parquet files.

- :func:`write_tables` writes the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read.
- :class:`IngestPlan` yields per-client listing snapshots in the dirty
  raw formats the cleaners handle, together with the merge and
  observation counters each snapshot must produce.
- :class:`LeadPrepFeed` yields property change batches on the
  ``queries.geo.props_df`` grid.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "stream filter group order vector"
).split()


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group, no dictionary surprises: the same bytes
    # for the same seed
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="snappy")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 200),
        "events": max(int(1_000_000 * sf), 500),
        "documents": max(int(50_000 * sf), 200),
        "embeddings": max(int(20_000 * sf), 200),
    }


def write_tables(out_dir: str, sf: float, seed: int, only: tuple = ()) -> dict[str, int]:
    """Write the ten query tables at scale ``sf`` (or just those in
    ``only``); returns row counts."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        if only and name not in only:
            return
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    nc = n["customer"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, nc)]),
    })

    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, ns))),
    })

    npart = n["part"]
    adjs = np.array(["red", "blue", "hot", "cold", "old", "new", "large", "small"])
    nouns = np.array(["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adjs[rng.integers(0, 8, npart)], " "),
                                       nouns[rng.integers(0, 8, npart)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 56, npart).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(_round2(900.0 + (np.arange(npart) % 1000) * 0.1)),
    })

    no = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500000.0, no))),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)]),
    })

    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), per_order)
    l_line = (np.arange(nl) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    l_part = rng.integers(0, npart, nl).astype(np.int64)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, nl).astype("timedelta64[D]")
    put("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(l_line.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_round2(qty * (900.0 + (l_part % 1000) * 0.1))),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(ship),
    })

    ne = n["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"))
    put("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(nc // 100, 20), ne).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)]),
        "value": pa.array(_round2(rng.uniform(0.01, 490.0, ne))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    words = np.array(WORDS)
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[int(rng.integers(0, len(words)))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 80)))])
        texts.append(" ".join(toks))
    put("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "es", "de", "fr", "zh"])[rng.integers(0, 6, nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv, dim = n["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + 0.6 * rng.normal(size=(nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return rows


# --- ingest ------------------------------------------------------------------

INGEST_SCHEMA = pa.schema([
    ("client_id", pa.string()),
    ("external_id", pa.string()),
    ("title", pa.string()),
    ("price_raw", pa.string()),
    ("currency_raw", pa.string()),
    ("sqm_raw", pa.string()),
    ("bedrooms_raw", pa.string()),
    ("bathrooms_raw", pa.string()),
    ("lat", pa.string()),
    ("lng", pa.string()),
    ("features", pa.map_(pa.string(), pa.string())),
    ("status", pa.string()),
])


def _dirty_price(rng: np.random.Generator) -> tuple[str, str]:
    v = int(rng.integers(40_000, 900_000))
    form = int(rng.integers(0, 5))
    if form == 0:
        return f"${v:,}", "USD"
    if form == 1:
        return f"{v // 1000}.{v % 1000:03d},{int(rng.integers(0, 100)):02d}", "usd"
    if form == 2:
        return f"₡{v * 520:,}", "₡"
    if form == 3:
        return "", ""
    return str(v), "CRC"


def _listing(rng: np.random.Generator, client: str, ext: str) -> dict:
    price, cur = _dirty_price(rng)
    sqm = int(rng.integers(40, 900))
    no_coords = rng.random() < 0.04
    return {
        "client_id": client,
        "external_id": ext,
        "title": f"Casa {ext}" if rng.random() < 0.95 else "",
        "price_raw": price,
        "currency_raw": cur,
        "sqm_raw": [f"{sqm} m2", f"{sqm},5", f"1.{sqm:03d},56", ""][int(rng.integers(0, 4))],
        "bedrooms_raw": [str(int(rng.integers(1, 6))), "3 + den", ""][int(rng.integers(0, 3))],
        "bathrooms_raw": [f"{int(rng.integers(1, 4))}.5", "2", ""][int(rng.integers(0, 3))],
        "lat": None if no_coords else f"{9.5 + rng.random():.6f}",
        "lng": None if no_coords else f"{-84.5 + rng.random():.6f}",
        "features": [("garage", str(int(rng.integers(0, 3)))), ("pool", ["si", "no"][int(rng.integers(0, 2))])],
        "status": ["publish", "active", "published"][int(rng.integers(0, 3))],
    }


@dataclass
class _Client:
    name: str
    listings: dict[str, dict] = field(default_factory=dict)  # live source rows
    withdrawn: list[str] = field(default_factory=list)
    drafts: list[dict] = field(default_factory=list)
    next_id: int = 0


class IngestPlan:
    """Per-client snapshots with a fixed mix: ~75 % unchanged, ~15 %
    changed, ~5 % new, ~5 % withdrawn. Withdrawn listings may return
    later, so table size plateaus. The plan mirrors the target table
    (``key -> (content version, deleted)``) to predict every merge."""

    def __init__(self, seed: int, clients: int = 3, listings: int = 2000):
        self.rng = np.random.Generator(np.random.PCG64([seed, 1]))
        self.clients = [_Client(f"client-{i:02d}") for i in range(clients)]
        self.listings = listings
        self.table: dict[tuple[str, str], tuple[int, bool]] = {}
        self.versions: dict[tuple[str, str], int] = {}
        self.batch_no = 0

    def _fresh(self, c: _Client) -> str:
        c.next_id += 1
        return f"{c.name}-{c.next_id:07d}"

    def next_batch(self) -> tuple[pa.Table, dict, dict]:
        """Next client's full snapshot, its expected merge counters and
        its expected observation counters."""
        c = self.clients[self.batch_no % len(self.clients)]
        self.batch_no += 1
        rng = self.rng
        if not c.listings:
            for _ in range(self.listings):
                ext = self._fresh(c)
                c.listings[ext] = _listing(rng, c.name, ext)
            for _ in range(max(self.listings // 100, 1)):
                d = _listing(rng, c.name, self._fresh(c))
                d["status"] = "draft"  # filtered by the cleaner, never merged
                c.drafts.append(d)
        else:
            live = sorted(c.listings)
            n = len(live)
            picks = rng.permutation(n)
            n_out, n_chg, n_new = round(0.05 * n), round(0.15 * n), round(0.05 * n)
            for i in picks[:n_out]:
                c.withdrawn.append(live[i])
                del c.listings[live[i]]
            for i in picks[n_out:n_out + n_chg]:
                row = c.listings[live[i]]
                old = (row["price_raw"], row["currency_raw"])
                while (row["price_raw"], row["currency_raw"]) == old:
                    row["price_raw"], row["currency_raw"] = _dirty_price(rng)
                self.versions[(c.name, live[i])] = self.versions.get((c.name, live[i]), 0) + 1
            returning = min(n_new // 2, max(len(c.withdrawn) - n_out, 0))
            back = [c.withdrawn.pop(int(rng.integers(0, len(c.withdrawn) - n_out)))
                    for _ in range(returning)]
            for ext in back:
                c.listings[ext] = _listing(rng, c.name, ext)
                self.versions[(c.name, ext)] = self.versions.get((c.name, ext), 0) + 1
            for _ in range(n_new - returning):
                ext = self._fresh(c)
                c.listings[ext] = _listing(rng, c.name, ext)
        rows = [c.listings[k] for k in sorted(c.listings)] + c.drafts
        expect = self._apply(c)
        observed = {
            "n_rows": len(c.listings),
            "null_price": 0,  # the price cleaner maps empty/unparseable to 0.0
            "null_coords": sum(1 for r in c.listings.values() if r["lat"] is None),
        }
        return pa.Table.from_pylist(rows, schema=INGEST_SCHEMA), expect, observed

    def _apply(self, c: _Client) -> dict:
        out = {"inserted": 0, "updated": 0, "unchanged": 0, "soft_deleted": 0}
        for ext in c.listings:
            key = (c.name, ext)
            ver = self.versions.get(key, 0)
            have = self.table.get(key)
            if have is None:
                out["inserted"] += 1
            elif have[0] != ver or have[1]:
                out["updated"] += 1
            else:
                out["unchanged"] += 1
            self.table[key] = (ver, False)
        for key, (ver, _deleted) in list(self.table.items()):
            if key[0] != c.name:
                out["unchanged"] += 1  # other clients' rows are kept as-is
            elif key[1] not in c.listings:
                out["soft_deleted"] += 1  # re-marked on every absent batch
                self.table[key] = (ver, True)
        return out


# --- lead prep ---------------------------------------------------------------

FEED_SCHEMA = pa.schema([
    ("prop_id", pa.int64()),
    ("lat", pa.float64()),
    ("lon", pa.float64()),
    ("updated_at", pa.timestamp("us")),
])


class LeadPrepFeed:
    """Property change batches over a ``universe`` of ids on the
    ``queries.geo.props_df`` grid. About half of each batch was enriched
    before and has moved; about 10 % of ids appear twice with different
    ``updated_at`` (the later row wins)."""

    def __init__(self, seed: int, universe: int = 15_000, batch: int = 200):
        self.rng = np.random.Generator(np.random.PCG64([seed, 2]))
        self.universe, self.batch = universe, batch
        self.enriched: list[int] = []
        self.seen: set[int] = set()
        self.tick = 0

    @staticmethod
    def grid(prop_id: int) -> tuple[float, float]:
        return 9.5 + (prop_id % 250) * 0.0024, -84.3 + ((prop_id // 250) % 250) * 0.0024

    def _moved(self, pid: int) -> tuple[float, float]:
        lat, lon = self.grid(pid)
        # moves on a 1e-4 degree lattice, within ~1 km
        dlat, dlon = self.rng.integers(-90, 91, 2) * 1e-4
        return round(lat + dlat, 4), round(lon + dlon, 4)

    def next_batch(self) -> pa.Table:
        rng = self.rng
        n_old = min(self.batch // 2, len(self.enriched))
        old = list(rng.choice(self.enriched, n_old, replace=False)) if n_old else []
        fresh: list[int] = []
        while len(fresh) < self.batch - n_old:
            pid = int(rng.integers(0, self.universe))
            if pid not in self.seen and pid not in fresh:
                fresh.append(pid)
        ids = [int(x) for x in old] + fresh
        rows = []
        for pid in ids:
            lat, lon = self._moved(pid) if pid in self.seen else self.grid(pid)
            self.tick += 1
            rows.append((pid, lat, lon, self.tick))
        for pid in rng.choice(ids, self.batch // 10, replace=False):
            # a stale earlier update of the same property: it must lose
            lat, lon = self._moved(int(pid))
            rows.append((int(pid), lat, lon, 0))
        self.seen.update(ids)
        self.enriched.extend(fresh)
        order = rng.permutation(len(rows))
        cols = list(zip(*[rows[i] for i in order]))
        t0 = np.datetime64("2026-01-01T00:00:00", "us")
        return pa.table({
            "prop_id": pa.array(cols[0], pa.int64()),
            "lat": pa.array(cols[1], pa.float64()),
            "lon": pa.array(cols[2], pa.float64()),
            "updated_at": pa.array(t0 + np.array(cols[3]).astype("timedelta64[s]")),
        }, schema=FEED_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(table, path)
