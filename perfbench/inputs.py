"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from the run's
seed: the same seed gives byte-identical inputs.  Nothing is read from
outside the benchmark's working directory.

* Alert workload: SharePoint-shaped JSONL pages carrying the dirty-value
  classes of FIXTURES.md §1, synthetic suburb / ward / area WKT layers
  inside the Cape Town extent, and email configs in the reference's three
  shapes (P6 SQL string, P7 ward, P7 service_area + planned).
* Catalog workload: the TPC-H-ish star schema plus the events, documents
  and embeddings tables, with the column names and parquet types the
  catalog readers expect.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

# Cape Town extent (lon, lat); the engine's StubGeocoder draws bboxes from
# 18.3..18.81 E, -34.3..-33.89 S, so geocoded footprints land on the layers.
MIN_X, MAX_X = 18.30, 18.90
MIN_Y, MAX_Y = -34.30, -33.70
SUBURB_GRID = 10  # 10 x 10 suburbs
WARD_GRID = 11  # 121 wards; the city has 116

SERVICE_AREAS = (
    "Water & Sanitation", "Electricity", "Roads & Transport", "Solid Waste",
    "Parks & Recreation", "Libraries", "City Health", "Fire & Rescue",
    "Law Enforcement", "Traffic Services", "Human Settlements",
    "Informal Settlements", "MyCiTi", "Stormwater", "Sewerage",
    "Electricity Generation", "Events", "Environmental Management",
    "Recreation & Parks", "Safety & Security", "Corporate Services",
    "Community Services", "Transport", "Housing",
)
STATUSES = ("Open", "Assigned", "Crew on Site", "Issue Resolved", "Closed")
# area types with the real-world typos the augmenter must tolerate; the
# first two resolve against the suburb layer, the region types against
# the region rows of the area layer, the last three are excluded from
# spatial work
SUBURB_TYPES = ("Official Planning Suburb", "Official Plannig Suburb")
REGION_TYPES = (
    "Electricity Service Region", "Water Service Region",
    "Water Service region", "Solid Waste Regional Service Area",
)
EXCLUDED_TYPES = (
    "Citywide", "Driving Licence Testing Centre",
    "Driving License Testing Centre",
)
TITLES = (
    "Water Off", "Power Outage", "Burst Pipe", "Road Closure",
    "Refuse Collection Delay", "Sewer Overflow", "Street Light Fault",
    "Planned Maintenance", "Low Water Pressure", "Cable Theft",
)
STREETS = (
    "Main Road", "Voortrekker Road", "Klipfontein Road", "Paul Kruger Street",
    "Wellington Road", "Durban Road", "Victoria Road", "Jan Smuts Drive",
    "Koeberg Road", "Lansdowne Road", "Old Paarl Road", "Church Street",
)
_SYLLABLES = (
    "so", "nei", "ke", "par", "klan", "ds", "gras", "sy", "du", "rban",
    "vil", "le", "bel", "hau", "zen", "mit", "chells", "plain", "wood",
    "stock", "ath", "lone", "kuils", "rivier", "ton", "bay", "fish", "hoek",
)


def _name(rng: random.Random, taken: set[str]) -> str:
    while True:
        n = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        n = n.upper()
        if n not in taken:
            taken.add(n)
            return n


def _rect(x0: float, y0: float, x1: float, y1: float) -> str:
    return (
        f"POLYGON (({x0:.6f} {y0:.6f}, {x1:.6f} {y0:.6f}, {x1:.6f} {y1:.6f}, "
        f"{x0:.6f} {y1:.6f}, {x0:.6f} {y0:.6f}))"
    )


@dataclass
class GisLayers:
    """Plain-row layers; the workload turns them into DataFrames."""

    suburbs: list[tuple[str, str]]  # (name, WKT); some names padded
    wards: list[tuple[str, str]]  # (ward number, WKT)
    areas: list[tuple[str, str, str]]  # (area_type, area, WKT)
    suburb_names: list[str]
    region_names: list[str]


def make_layers(seed: int) -> GisLayers:
    rng = random.Random(seed * 7919 + 1)
    taken: set[str] = set()
    dx = (MAX_X - MIN_X) / SUBURB_GRID
    dy = (MAX_Y - MIN_Y) / SUBURB_GRID
    suburbs, names, areas = [], [], []
    for i in range(SUBURB_GRID):
        for j in range(SUBURB_GRID):
            # jittered, slightly shrunk cell: neighbours never overlap
            x0 = MIN_X + i * dx + rng.uniform(0.0, 0.1) * dx
            y0 = MIN_Y + j * dy + rng.uniform(0.0, 0.1) * dy
            x1 = MIN_X + (i + 1) * dx - rng.uniform(0.0, 0.1) * dx
            y1 = MIN_Y + (j + 1) * dy - rng.uniform(0.0, 0.1) * dy
            name = _name(rng, taken)
            wkt = _rect(x0, y0, x1, y1)
            names.append(name)
            # layer names may carry trailing spaces (FIXTURES.md §3)
            suburbs.append((name + (" " if rng.random() < 0.2 else ""), wkt))
            for t in SUBURB_TYPES:
                areas.append((t, name, wkt))
    wdx = (MAX_X - MIN_X) / WARD_GRID
    wdy = (MAX_Y - MIN_Y) / WARD_GRID
    wards = [
        (
            str(1 + i * WARD_GRID + j),
            _rect(
                MIN_X + i * wdx, MIN_Y + j * wdy,
                MIN_X + (i + 1) * wdx, MIN_Y + (j + 1) * wdy,
            ),
        )
        for i in range(WARD_GRID)
        for j in range(WARD_GRID)
    ]
    regions = []
    for k in range(4):
        x0 = MIN_X + (k % 2) * (MAX_X - MIN_X) / 2
        y0 = MIN_Y + (k // 2) * (MAX_Y - MIN_Y) / 2
        rname = f"REGION {k + 1}"
        regions.append(rname)
        wkt = _rect(x0, y0, x0 + (MAX_X - MIN_X) / 2,
                    y0 + (MAX_Y - MIN_Y) / 2)
        for t in REGION_TYPES:
            areas.append((t, rname, wkt))
    return GisLayers(suburbs, wards, areas, names, regions)


@dataclass
class AlertPages:
    """The alert stream: page 0 preloads state, later pages each carry
    ``new_per_page`` fresh alerts and ``updates_per_page`` status
    changes of alerts already published."""

    seed: int
    layers: GisLayers
    preload: int
    new_per_page: int
    updates_per_page: int
    _rng: random.Random = field(init=False)
    _seq: int = field(default=0, init=False)
    _next_id: int = field(default=100000, init=False)
    # model of the expected state: Id -> last staged record (published
    # alerts only; null-publish rows are dropped at the gate)
    state: dict[int, dict] = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed * 104729 + 3)

    def _alert(self) -> dict:
        rng = self._rng
        aid = self._next_id
        self._next_id += 1
        # the mix of area kinds is fixed per 20 alerts, so every page
        # carries the same spatial work whatever the seed
        kind = (aid % 20) / 20
        if kind < 0.55:
            area_type = rng.choice(SUBURB_TYPES)
            area = rng.choice(self.layers.suburb_names)
            area = area + (" " if rng.random() < 0.1 else "")
        elif kind < 0.75:
            area_type = rng.choice(REGION_TYPES)
            area = rng.choice(self.layers.region_names)
        elif kind < 0.85:
            area_type = rng.choice(EXCLUDED_TYPES)
            area = "CITYWIDE" if area_type == "Citywide" else "MILNERTON DLTC"
        else:
            # unknown area: no layer hit, footprint comes from the geocoder
            area_type = rng.choice(SUBURB_TYPES + (None,))
            area = f"UNLISTED {rng.randint(1, 400)}"
        title = rng.choice(TITLES)
        street = rng.choice(STREETS)
        desc = f"{title} on {street} near {area.strip().title()}"
        if rng.random() < 0.2:
            desc += "\nCrews have been dispatched."
        loc_kind = rng.random()
        if loc_kind < 0.5:
            address = f"{street.upper()}, {area.strip()}"
        elif loc_kind < 0.65:
            address = desc[: rng.randint(5, 15)]  # prefix of description
        elif loc_kind < 0.8:
            address = None
        else:
            address = street
        selected = rng.choice((None, "", street, f"{street} and surrounds"))
        base = datetime(2024, 2, 1) + timedelta(minutes=rng.randint(0, 40000))
        publish = None if aid % 50 == 0 else base
        effective = base + timedelta(hours=rng.choice((0, 0, 2, 12)))
        expiry = effective + timedelta(days=rng.randint(0, 10))
        start = rng.choice(("06:00", "08:30", "22:00", "24:60", "23:60",
                            "Select...", "1:60"))
        end = rng.choice(("14:00", "17:00", "05:00", "1:60", "garbage",
                          None, "06:00"))
        ref = rng.choice((
            f"{rng.randint(10 ** 9, 10 ** 10 - 1)}", "n/a", "", None,
            f"{rng.randint(10 ** 9, 10 ** 10 - 1)}",
        ))

        def iso(d: datetime | None) -> str | None:
            return None if d is None else d.strftime("%Y-%m-%dT%H:%M:%SZ")

        return {
            "Id": aid,
            "Title1": title,
            "Service_x0020_Area12": rng.choice(SERVICE_AREAS),
            "Description12": desc,
            "Subtitle": rng.choice((None, f"{title}/Unplanned emergency "
                                    "maintenance", "Planned maintenance")),
            "Planned_x0020_Unplanned": rng.choice(("Planned", "Unplanned")),
            "Area": area,
            "Areatype": area_type,
            "Address_x0020_Location_x0020_2": address,
            "All_x0020_Location_x0020_Selected": selected,
            "Publish_x0020_Date": iso(publish),
            "Effective_x0020_Date": iso(effective),
            "Alert_x0020_Expiry_x0020_Date": iso(expiry),
            "Start_x0020_Time": start,
            "Forecast_x0020_End_x0020_Time": end,
            "Reference_x0020_No": ref,
            "Status12": rng.choice(STATUSES[:3]),
        }

    def _stamp(self, rec: dict) -> dict:
        rec = dict(rec)
        rec["_ingest_seq"] = self._seq
        self._seq += 1
        if rec["Publish_x0020_Date"] is not None:
            self.state[rec["Id"]] = rec
        return rec

    def preload_page(self) -> list[dict]:
        return [self._stamp(self._alert()) for _ in range(self.preload)]

    def next_page(self) -> tuple[list[dict], set[int]]:
        """One steady-state page and the Ids that are new in it."""
        rng = self._rng
        new = [self._stamp(self._alert()) for _ in range(self.new_per_page)]
        ids = sorted(self.state)
        # updates target alerts already published before this page
        upd_ids = rng.sample(ids[: len(ids) - self.new_per_page],
                             self.updates_per_page)
        updates = []
        for i in upd_ids:
            rec = dict(self.state[i])
            rec["Status12"] = rng.choice(
                [s for s in STATUSES if s != rec["Status12"]]
            )
            updates.append(self._stamp(rec))
        page = new + updates
        rng.shuffle(page)
        new_ids = {r["Id"] for r in new if r["Publish_x0020_Date"] is not None}
        return page, new_ids


def write_page(path: Path, records: list[dict]) -> None:
    tmp = path.with_name("." + path.name + ".tmp")
    with open(tmp, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    tmp.rename(path)  # the file source must never see a partial page


def make_email_configs(seed: int, n: int, layers: GisLayers) -> list:
    """``n`` email configs cycling through the reference's three shapes."""
    from service_alerts_connector_spark.plans.emailer import EmailConfig

    rng = random.Random(seed * 31337 + 5)
    out = []
    for k in range(n):
        shape = k % 3
        if shape == 0:
            sub = rng.choice(layers.suburb_names).lower()
            name = f"p6-{k:03d}"
            extra = {"predicate_sql": (
                f"lower(cast(inferred_suburbs as string)) rlike '{sub}' "
                "and area_type != 'Citywide'"
            )}
        elif shape == 1:
            name = f"ward-{k:03d}"
            extra = {"ward": str(rng.randint(1, WARD_GRID * WARD_GRID)),
                     "planned": (False, None)[(k // 3) % 2]}
        else:
            name = f"area-{k:03d}"
            extra = {"service_area": rng.choice(SERVICE_AREAS),
                     "planned": (True, False)[(k // 3) % 2]}
        out.append(EmailConfig(
            name=name, recipients=(f"{name}@example.org",), **extra))
    return out


# ---------------------------------------------------------------- catalog

_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "green")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "nut")


def write_catalog_tables(out_dir: Path, seed: int, sf: float) -> None:
    """TPC-H-ish tables + events/documents/embeddings at scale ``sf``
    (sf 0.01: 60 000 lineitem rows), one parquet file per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(50_000 * sf)

    def ts(days0: str, n: int, span_days: int, us: bool) -> pa.Array:
        base = np.datetime64(days0, "us")
        if us:
            off = rng.integers(0, span_days * 86_400_000_000, n)
        else:
            off = rng.integers(0, span_days, n) * 86_400_000_000
        return pa.array(base + off.astype("timedelta64[us]"),
                        pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": ts("1995-01-01", n_ord, 2404, us=False),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line),
                                    2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts("1995-01-02", n_line, 2499, us=False),
    })
    ev_ts = np.sort(ts("2024-01-01", n_ev, 30, us=True).to_numpy())
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev),
                            pa.int64()),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(1.2, 12.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup tiers' work)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64)).astype("float32")
    dup = rng.random(n_emb) < 0.05
    src = rng.integers(0, n_emb, n_emb)
    emb[dup] = emb[src[dup]] + rng.normal(scale=0.01, size=(dup.sum(), 64)
                                          ).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
