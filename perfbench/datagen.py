"""Deterministic inputs for the benchmark.

Two generators, both pure numpy + pyarrow (no Spark):

* :func:`write_tables` writes the ten test tables the registered queries
  read (``region`` … ``embeddings``) at scale factor 0.1: the same schema,
  row counts, key ranges and value distributions as the engine's test
  data.  The tables come from the fixed :data:`TABLE_SEED`, not from the
  workload seed, because the pinned output digests in ``digests.json``
  hold only for these exact bytes.
* :func:`write_season` lands one F1 season as raw CSV batches
  (``<year>/<event>/<session>/<table>.csv``) in the reference's string
  formats, and returns the true values the ingest must reproduce.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_DOCS = 250
EMBED_DIM = 64

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    """``n`` uniform dates in [lo, hi] as timestamp[us] values."""
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """The ten sf0.1 test tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _keys(n["customer"]),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(_cents(-999.99, 9999.99, n["customer"], rng)),
            "c_mktsegment": _pick(SEGMENTS, n["customer"], rng),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n["supplier"]),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_cents(-999.99, 9999.99, n["supplier"], rng)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": _keys(np_),
            "p_name": _pick(names, np_, rng),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], np_, rng),
            "p_type": _pick(PART_TYPES, np_, rng),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(no),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no)),
            "o_orderstatus": _pick(["F", "O", "P"], no, rng),
            "o_totalprice": pa.array(_cents(1000.0, 500000.0, no, rng)),
            "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", no, rng)),
            "o_orderpriority": _pick(PRIORITIES, no, rng),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, np_, nl)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(900.0, 105000.0, nl, rng)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(["A", "N", "R"], nl, rng),
            "l_linestatus": _pick(["F", "O"], nl, rng),
            "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", nl, rng)),
        }
    )
    ne = n["events"]
    start = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    span = 30 * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": _keys(ne),
            "ts": _ts(np.sort(start + rng.integers(0, span, ne))),
            "user_id": pa.array(rng.integers(0, 1500, ne)),
            "event_type": _pick(EVENT_TYPES, ne, rng),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng)
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": _keys(nv),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; 5% are a copy of
    an earlier document plus a ``dup`` token (the near-duplicates the
    dedup and curation stages must find)."""
    nd = SF01_ROWS["documents"]
    lengths = rng.integers(10, 101, nd)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    dups = np.sort(rng.choice(np.arange(nd // 10, nd), DUP_DOCS, replace=False))
    dup_set = set(dups.tolist())
    for i in dups:
        j = int(rng.integers(0, i))
        while j in dup_set:
            j = int(rng.integers(0, i))
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": _keys(nd),
            "text": pa.array(texts),
            "lang": _pick(LANGS, nd, rng, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    snappy, like the engine's test data); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(seed).items():
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(1, tbl.num_rows),
        )
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# F1 season batches (raw CSV, the reference's extractor output formats)
# ---------------------------------------------------------------------------

DRIVERS = [
    ("VER", 1, "Red Bull Racing"), ("PER", 11, "Red Bull Racing"),
    ("HAM", 44, "Mercedes"), ("RUS", 63, "Mercedes"),
    ("LEC", 16, "Ferrari"), ("SAI", 55, "Ferrari"),
    ("NOR", 4, "McLaren"), ("PIA", 81, "McLaren"),
    ("ALO", 14, "Aston Martin"), ("STR", 18, "Aston Martin"),
    ("OCO", 31, "Alpine"), ("GAS", 10, "Alpine"),
    ("ALB", 23, "Williams"), ("SAR", 2, "Williams"),
    ("TSU", 22, "RB"), ("RIC", 3, "RB"),
    ("BOT", 77, "Kick Sauber"), ("ZHO", 24, "Kick Sauber"),
    ("MAG", 20, "Haas"), ("HUL", 27, "Haas"),
]
#: Half a calendar: a full 24-event season made the lakehouse run too long
#: for 22 runs of each workload to fit the benchmark's time budget.
EVENTS_PER_SEASON = 12
SESSIONS = ("Q", "R")
COMPOUNDS = ["SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET"]
ACCURATE_SPELLINGS = ["True", "1", "1.0", "False", "0", "nan", ""]
SEASON_TABLES = ("laps_data", "session_results", "weather_data")

LAPS_COLUMNS = [
    "Driver", "DriverNumber", "Team", "LapNumber", "LapTime",
    "Sector1Time", "Sector2Time", "Sector3Time", "Time", "PitInTime",
    "PitOutTime", "Sector1SessionTime", "Sector2SessionTime",
    "Sector3SessionTime", "LapStartTime", "Stint", "Compound", "TyreLife",
    "IsAccurate",
]
RESULTS_COLUMNS = [
    "DriverNumber", "Driver", "Abbreviation", "TeamName", "Position", "Time",
    "Q1", "Q2", "Q3", "Interval", "Laps", "Status",
]
WEATHER_COLUMNS = [
    "Time", "AirTemp", "TrackTemp", "Humidity", "Pressure", "Rainfall",
    "WindDirection", "WindSpeed",
]


def fmt_mmssms(ms: int) -> str:
    """``MM:SS:mmm`` (the extractor's lap and sector format)."""
    m, r = divmod(ms, 60_000)
    return f"{m:02d}:{r // 1000:02d}:{r % 1000:03d}"


def fmt_hhmmssms(ms: int) -> str:
    """``HH:MM:SS:mmm`` (the extractor's wall-clock format)."""
    h, r = divmod(ms, 3_600_000)
    return f"{h:02d}:{fmt_mmssms(r)}"


def fmt_hhmmss(ms: int) -> str:
    """``HH:MM:SS`` (the extractor's session-time format; whole seconds)."""
    h, r = divmod(ms // 1000, 3600)
    return f"{h:02d}:{r // 60:02d}:{r % 60:02d}"


def event_name(i: int) -> str:
    return f"Grand_Prix_{i:02d}"


def write_season(raw_dir: str, year: int, seed: int, events: int = EVENTS_PER_SEASON) -> dict:
    """Land one season of ``events`` events under ``raw_dir`` and return
    the truth the ingest must reproduce: ``{"rows": {table: n},
    "lap_seconds": {(event, session, driver, lap): seconds or None}}``."""
    rng = np.random.default_rng([seed, year])
    rows = dict.fromkeys(SEASON_TABLES, 0)
    lap_seconds: dict[tuple[str, str, str, int], float | None] = {}
    for ev in range(events):
        for sk in SESSIONS:
            d = os.path.join(raw_dir, str(year), event_name(ev), sk)
            os.makedirs(d, exist_ok=True)
            n_laps = int(rng.integers(55, 66))
            laps, results = [], []
            for pos, (code, num, team) in enumerate(DRIVERS, start=1):
                clock = int(rng.integers(3_600_000, 3_900_000))
                session_ms = int(rng.integers(0, 20_000))
                stint, life = 1, 1
                compound = COMPOUNDS[int(rng.integers(0, 3))]
                for lap in range(1, n_laps + 1):
                    lap_ms = int(rng.integers(85_000, 97_000))
                    pit = lap > 1 and rng.random() < 0.04
                    if pit:
                        stint, life = stint + 1, 1
                        compound = COMPOUNDS[int(rng.integers(0, 3))]
                    s1 = int(rng.integers(25_000, 31_000))
                    s2 = int(rng.integers(25_000, 31_000))
                    lost = pit and rng.random() < 0.5
                    lap_seconds[(event_name(ev), sk, code, lap)] = (
                        None if lost else lap_ms / 1000.0
                    )
                    clock += lap_ms
                    laps.append([
                        code, num, team, lap,
                        "nan" if lost else fmt_mmssms(lap_ms),
                        fmt_mmssms(s1), fmt_mmssms(s2),
                        fmt_mmssms(lap_ms - s1 - s2),
                        fmt_hhmmssms(clock),
                        fmt_hhmmssms(clock) if pit else "",
                        fmt_hhmmssms(clock + 22_000) if pit else "",
                        fmt_hhmmss(session_ms + s1),
                        fmt_hhmmss(session_ms + s1 + s2),
                        fmt_hhmmss(session_ms + lap_ms),
                        fmt_hhmmss(session_ms),
                        stint, compound, life,
                        ACCURATE_SPELLINGS[int(rng.integers(0, 7))],
                    ])
                    session_ms += lap_ms
                    life += 1
                q = [fmt_mmssms(int(rng.integers(78_000, 84_000))) for _ in range(3)]
                results.append([
                    num, code, code, team, pos,
                    fmt_hhmmssms(session_ms) if pos == 1 else
                    "+" + fmt_hhmmssms(int(rng.integers(1_000, 90_000))),
                    q[0], q[1] if pos <= 15 else "", q[2] if pos <= 10 else "",
                    f"{rng.integers(0, 90_000) / 1000.0:.3f}", n_laps, "Finished",
                ])
            weather = []
            for i in range(int(rng.integers(100, 140))):
                weather.append([
                    fmt_hhmmssms(i * 60_000),
                    f"{24 + rng.integers(-30, 31) / 10:.1f}",
                    f"{38 + rng.integers(-50, 51) / 10:.1f}",
                    f"{rng.integers(300, 700) / 10:.1f}",
                    f"{rng.integers(10050, 10200) / 10:.1f}",
                    ["False", "True"][int(rng.random() < 0.1)],
                    int(rng.integers(0, 360)),
                    f"{rng.integers(0, 250) / 10:.1f}",
                ])
            for table, header, body in (
                ("laps_data", LAPS_COLUMNS, laps),
                ("session_results", RESULTS_COLUMNS, results),
                ("weather_data", WEATHER_COLUMNS, weather),
            ):
                with open(os.path.join(d, f"{table}.csv"), "w", newline="") as fh:
                    w = csv.writer(fh)
                    w.writerow(header)
                    w.writerows(body)
                rows[table] += len(body)
    return {"rows": rows, "lap_seconds": lap_seconds}


def season_year(seed: int, k: int) -> int:
    """Year of the ``k``-th ingested season; the seed picks the start."""
    return 1950 + seed % 50 + k


MERGE_UPDATES = 200
MERGE_INSERTS = 100
MERGE_WINDOW = 4_000
DELETE_WIDTH = 60


def merge_batch(seed: int, step: int):
    """Merge source batch ``step`` over the ``orders`` schema: 200 keys
    from one seeded window of 4,000 existing keys (new price and status;
    a key an earlier delete removed re-inserts), plus 100 fresh keys
    above the seeded range.  Returns an Arrow table."""
    rng = np.random.default_rng([seed, step, 1])
    n_orders = SF01_ROWS["orders"]
    lo = int(rng.integers(0, n_orders - MERGE_WINDOW))
    upd = lo + rng.choice(MERGE_WINDOW, MERGE_UPDATES, replace=False)
    ins = n_orders + step * MERGE_INSERTS + np.arange(MERGE_INSERTS)
    keys = np.concatenate([upd, ins]).astype(np.int64)
    n = len(keys)
    base = dt.datetime(2002, 1, 1)
    return pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, SF01_ROWS["customer"], n)),
            "o_orderstatus": _pick(["F", "O", "P"], n, rng),
            "o_totalprice": pa.array(_cents(1000.0, 500000.0, n, rng)),
            "o_orderdate": pa.array([base] * n, pa.timestamp("us")),
            "o_orderpriority": _pick(PRIORITIES, n, rng),
        }
    )


def delete_range(seed: int, step: int) -> tuple[int, int]:
    """Delete ``step``: a seeded half-open range of 60 seeded keys."""
    rng = np.random.default_rng([seed, step, 2])
    lo = int(rng.integers(0, SF01_ROWS["orders"] - DELETE_WIDTH))
    return lo, lo + DELETE_WIDTH
