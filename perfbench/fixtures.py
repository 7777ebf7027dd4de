"""Seeded inputs for the benchmark, rendered by the benchmark's own code.

Nothing here calls the program: the catalog tables are drawn with NumPy
and written with pyarrow, the KML feeds are formatted as plain strings,
and the expected feature set is a DuckDB query over the same events. A
change to the program can therefore never change its own input or the
answer it is checked against.

The tables follow the shapes of the repository's TPC-H-style test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), with every value drawn from the run's seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group filter stream"
).split()

# Feeds: one share per user; user u reports from 1 + u % 3 devices.
IMEI_BASE = 300_000_000_000_000
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "s")
MONTH_S = 30 * 24 * 3600


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated catalog."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    users: int
    events_per_user: int
    documents: int


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(n: int, rng: np.random.Generator) -> list[str]:
    """Random word texts with planted near-duplicates (one word changed)
    and exact duplicates, so the dedup query finds real clusters."""
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.08:
            words = texts[int(rng.integers(len(texts)))].split()
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(words))
        elif texts and r < 0.10:
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Every catalog table for ``scale``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    s = scale
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": [f"NATION_{k}" for k in nation_keys],
            "n_regionkey": pa.array(nation_keys % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(np.int32)),
            "c_acctbal": _money(-999.99, 9999.99, s.customers, rng),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(np.int32)),
            "s_acctbal": _money(-999.99, 9999.99, s.suppliers, rng),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(s.parts, dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, s.customers, s.orders)),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(1000, 500000, s.orders, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", s.orders, rng),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, s.orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, s.orders, s.lineitems)),
            "l_partkey": pa.array(rng.integers(0, s.parts, s.lineitems)),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, s.lineitems)),
            "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
            "l_extendedprice": _money(900, 105000, s.lineitems, rng),
            "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
            "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, s.lineitems)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, s.lineitems)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", s.lineitems, rng),
        }),
        "events": make_events(rng, s.users, s.events_per_user),
    }
    texts = _documents(s.documents, rng)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(s.documents, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), s.documents)],
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.normal(0.0, 0.12, (s.documents, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(s.documents, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.documents).astype(np.int32)),
    })
    return tables


def make_events(rng: np.random.Generator, users: int, per_user: int) -> pa.Table:
    """Event stream: exactly ``per_user`` events per user (so the input
    volume is the same for every seed), whole-second timestamps over 30
    days, event_id in time order (ties possible, broken by event_id)."""
    events = users * per_user
    secs = np.sort(rng.integers(0, MONTH_S, events))
    return pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array((EPOCH_2024 + secs).astype("datetime64[us]")),
        "user_id": pa.array(rng.permutation(np.repeat(np.arange(users, dtype=np.int64), per_user))),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, events)],
        "value": np.round(rng.exponential(60.0, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- KML feeds --------------------------------------------------------


def share_key(user_id: int) -> str:
    return f"BENCH{user_id:05d}"


def placemark_fields(events: pa.Table) -> dict[str, np.ndarray]:
    """Per-event values the KML carries: device (users own 1-3), lon/lat
    as the decimal strings written into the feed, and the time."""
    eid = events["event_id"].to_numpy()
    uid = events["user_id"].to_numpy()
    # coordinates from a per-event hash so they vary with the seed's
    # event-to-user assignment but need no extra random state
    h = (eid * 2654435761 + uid * 40503) % 1_000_003
    lon = [f"{-180 + x / 1000:.3f}" for x in (h % 360_000)]
    lat = [f"{-89.999 + x / 1000:.3f}" for x in (h % 179_998)]
    ts = events["ts"].to_numpy().astype("datetime64[s]")
    return {
        "event_id": eid,
        "user_id": uid,
        "imei": IMEI_BASE + uid * 10 + eid % (1 + uid % 3),
        "lon": lon,
        "lat": lat,
        "when": np.datetime_as_string(ts, unit="s"),
    }


def _placemark(f: dict, i: int) -> str:
    eid = int(f["event_id"][i])
    text = "" if eid % 3 == 0 else f'<Data name="Text"><value>msg {eid}</value></Data>'
    alt = f",{eid % 900}.0" if eid % 2 else ""
    return (
        "<Placemark>"
        f"<TimeStamp><when>{f['when'][i]}Z</when></TimeStamp>"
        f"<Point><coordinates>{f['lon'][i]},{f['lat'][i]}{alt}</coordinates></Point>"
        "<ExtendedData>"
        f'<Data name="Id"><value>{eid}</value></Data>'
        f'<Data name="Name"><value>Unit {int(f["user_id"][i])}</value></Data>'
        '<Data name="Device Type"><value>inReach Mini</value></Data>'
        f'<Data name="IMEI"><value>{int(f["imei"][i])}</value></Data>'
        '<Data name="Incident Id"><value></value></Data>'
        '<Data name="Valid GPS Fix"><value>True</value></Data>'
        f"{text}"
        '<Data name="Event"><value>Tracking message received.</value></Data>'
        f'<Data name="Device Identifier"><value>dev-{int(f["imei"][i]) % 100000}</value></Data>'
        f'<Data name="Course"><value>{eid % 360}.50 ° True</value></Data>'
        f'<Data name="Velocity"><value>{eid % 120}.0 km/h</value></Data>'
        "</ExtendedData></Placemark>"
    )


def render_feeds(events: pa.Table, users: list[int]) -> dict[str, str]:
    """One KML document per user (share), placemarks in event order,
    closed by a Point-less track placemark as Garmin feeds are."""
    f = placemark_fields(events)
    order = np.lexsort((f["event_id"], f["user_id"]))
    uid_sorted = f["user_id"][order]
    wanted = set(users)
    bodies: dict[str, list[str]] = {share_key(u): [] for u in users}
    for pos, i in enumerate(order):
        u = int(uid_sorted[pos])
        if u in wanted:
            bodies[share_key(u)].append(_placemark(f, int(i)))
    head = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document><name>Share</name><Folder>'
    )
    tail = (
        "<Placemark><name>track</name><LineString><coordinates>0,0 1,1"
        "</coordinates></LineString></Placemark></Folder></Document></kml>"
    )
    return {k: head + "".join(v) + tail for k, v in bodies.items()}


EXPECTED_FEATURES_SQL = """
WITH pm AS (
    SELECT user_id, event_id, ts, imei, lon, lat,
           row_number() OVER (PARTITION BY user_id, imei
                              ORDER BY ts DESC, event_id ASC) AS rn
    FROM placemarks
    WHERE user_id IN (SELECT user_id FROM shares)
)
SELECT user_id,
       'inreach-' || CAST(imei AS VARCHAR) AS id,
       strftime(ts, '%Y-%m-%dT%H:%M:%S.000Z') AS time,
       lon, lat
FROM pm WHERE rn = 1
"""


def expected_features(events: pa.Table, users: list[int]) -> dict[str, set[tuple]]:
    """Latest position per (share, device), computed by DuckDB straight
    from the seeded events: share key -> {(id, time, lon, lat)}, the
    answer the posted features must equal."""
    import duckdb

    f = placemark_fields(events)
    placemarks = pa.table({
        "user_id": f["user_id"],
        "event_id": f["event_id"],
        "ts": events["ts"],
        "imei": f["imei"],
        "lon": np.array(f["lon"], dtype=np.float64),
        "lat": np.array(f["lat"], dtype=np.float64),
    })
    shares = pa.table({"user_id": np.array(sorted(users), dtype=np.int64)})
    con = duckdb.connect()
    try:
        con.register("placemarks", placemarks)
        con.register("shares", shares)
        rows = con.execute(EXPECTED_FEATURES_SQL).fetchall()
    finally:
        con.close()
    out: dict[str, set[tuple]] = {share_key(u): set() for u in users}
    for user_id, *feature in rows:
        out[share_key(user_id)].add(tuple(feature))
    return out
