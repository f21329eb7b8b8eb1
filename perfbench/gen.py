"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files. Three families:

- ``write_fixture``: the ten query tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column names,
  physical types and value ranges the repository's queries and their
  DuckDB oracles expect.
- ``write_landing``: one batch landing (covid CSVs + one food-orders CSV)
  with a recorded count of every row class the pipelines must route:
  clean rows, each quarantine reason, malformed CSV lines, dirty strings.
- ``write_stream_files``: covid CSVs for the streaming ingest, each with
  its own expected row count, written before any clock starts.

The expected outcome of each generated file is computed here, in plain
Python, from the same random draws -- never by running the engine.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# query fixture
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "blue", "old")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400_000_000


def fixture_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; 5% are near-duplicates (an
    earlier document plus ' dup') and 0.2% exact duplicates, so the dedup
    and LSH queries have true positives to find."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = fixture_rows(sf)
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    ts = lambda a: pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))  # noqa: E731
    tables = {
        "region": pa.table(
            {"r_regionkey": i32(range(5)),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pa.table(
            {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
             "n_regionkey": i32([i % 5 for i in range(25)])}
        ),
        "customer": pa.table(
            {"c_custkey": i64(range(nc)), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
             "c_nationkey": i32(rng.integers(0, 25, nc)),
             "c_acctbal": _money(rng, -999.99, 9999.99, nc),
             "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)]}
        ),
        "supplier": pa.table(
            {"s_suppkey": i64(range(ns)), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
             "s_nationkey": i32(rng.integers(0, 25, ns)),
             "s_acctbal": _money(rng, -999.99, 9999.99, ns)}
        ),
        "part": pa.table(
            {"p_partkey": i64(range(np_)),
             "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (np_, 2))],
             "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
             "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, np_)],
             "p_size": i32(rng.integers(1, 51, np_)),
             "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)}
        ),
    }
    orderdate = EPOCH_1995 + rng.integers(0, 2405, no) * np.timedelta64(1, "D")
    tables["orders"] = pa.table(
        {"o_orderkey": i64(range(no)), "o_custkey": i64(rng.integers(0, nc, no)),
         "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
         "o_totalprice": _money(rng, 1000, 500_000, no),
         "o_orderdate": ts(orderdate),
         "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)]}
    )
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = orderdate[l_order] + rng.integers(1, 122, nl) * np.timedelta64(1, "D")
    tables["lineitem"] = pa.table(
        {"l_orderkey": i64(l_order), "l_partkey": i64(rng.integers(0, np_, nl)),
         "l_suppkey": i64(rng.integers(0, ns, nl)),
         "l_linenumber": i32(rng.integers(1, 8, nl)),
         "l_quantity": qty,
         "l_extendedprice": _money(rng, 900, 105_000, nl),
         "l_discount": rng.integers(0, 11, nl) / 100.0,
         "l_tax": rng.integers(0, 9, nl) / 100.0,
         "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
         "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
         "l_shipdate": ts(ship)}
    )
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne))
    tables["events"] = pa.table(
        {"event_id": i64(range(ne)),
         "ts": ts(EPOCH_2024 + ev_ts * np.timedelta64(1, "us")),
         "user_id": i64(rng.integers(0, max(15, ne // 67), ne)),
         "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
         "value": np.round(rng.exponential(50.0, ne), 2),
         "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)]}
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet`` (one row group
    each, like the repository's own fixtures). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# covid landings
# ---------------------------------------------------------------------------

REASONS = ("missing_required_field", "invalid_date", "invalid_number", "non_positive_deaths")
ENTITIES = [f"Country_{i}" for i in range(60)] + ["Côte d'Ivoire", "Korea, South", "São Tomé"]
BAD_DATES = ("2021/03/04", "04-03-2021", "2021-3-4", "not a date", "2021-03-4 ")
BAD_NUMBERS = ("abc", "12x", "1,5", "--3", "n/a")
NON_POSITIVE = ("0", "-5", "0.4", "-0.9", "-120")


@dataclass
class CovidExpect:
    """What the covid pipeline must report for a set of files."""

    input_rows: int = 0          # data lines (header excluded)
    clean: int = 0
    death_sum: int = 0           # sum of int(float(deaths)) over clean rows
    reasons: dict[str, int] = field(default_factory=lambda: dict.fromkeys(REASONS, 0))
    short_lines: int = 0         # malformed: two fields
    long_lines: int = 0          # malformed: four fields, the third is "5"

    def add(self, other: "CovidExpect") -> None:
        self.input_rows += other.input_rows
        self.clean += other.clean
        self.death_sum += other.death_sum
        self.short_lines += other.short_lines
        self.long_lines += other.long_lines
        for k, v in other.reasons.items():
            self.reasons[k] += v

    @property
    def parse_failures(self) -> int:
        return self.short_lines + self.long_lines

    @property
    def quarantined(self) -> int:
        return sum(self.reasons.values())

    def as_streamed(self) -> "CovidExpect":
        """The streaming ingest reads without a corrupt-record column, so
        Spark keeps a malformed line's leading fields: a short line loses
        its deaths (missing_required_field), a long line drops its extra
        field and is clean with deaths 5."""
        out = CovidExpect(self.input_rows, self.clean + self.long_lines,
                          self.death_sum + 5 * self.long_lines, dict(self.reasons))
        out.reasons["missing_required_field"] += self.short_lines
        return out


def _csv_field(s: str) -> str:
    return f'"{s}"' if ("," in s or '"' in s) else s


DAYS = [f"{y}-{m:02d}-{d:02d}" for y in range(2020, 2024) for m in range(1, 13) for d in range(1, 29)]


def covid_lines(rng: random.Random, n: int) -> tuple[list[str], CovidExpect]:
    """``n`` data lines: ~88% clean (some with padded entities and
    fractional deaths), ~2% of each quarantine reason, ~1% malformed
    lines (wrong field count). No line has all three fields empty, so the
    file gate and the pipeline agree on what a record is."""
    exp = CovidExpect(input_rows=n)
    out = []
    rand, choice, randrange = rng.random, rng.choice, rng.randrange
    for _ in range(n):
        entity = choice(ENTITIES)
        if rand() < 0.05:
            entity = f"  {entity} "  # dirty: trimmed by the pipeline
        day = choice(DAYS)
        u = rand()
        if u < 0.88:
            whole = randrange(1, 200_001)
            # a fractional part is truncated away by the pipeline
            deaths = f"{whole}.{randrange(100):02d}" if u < 0.26 else str(whole)
            exp.clean += 1
            exp.death_sum += whole
        elif u < 0.90:
            slot = randrange(3)
            blank = choice(("", "   "))
            entity, day, deaths = [
                blank if i == slot else v
                for i, v in enumerate((entity, day, str(randrange(1, 1000))))
            ]
            exp.reasons["missing_required_field"] += 1
        elif u < 0.92:
            day, deaths = choice(BAD_DATES), str(randrange(1, 1000))
            exp.reasons["invalid_date"] += 1
        elif u < 0.94:
            deaths = choice(BAD_NUMBERS)
            exp.reasons["invalid_number"] += 1
        elif u < 0.96:
            deaths = choice(NON_POSITIVE)
            exp.reasons["non_positive_deaths"] += 1
        elif u < 0.97:
            entity = entity.replace(",", "")
            if u < 0.965:
                out.append(f"{entity},{day}")
                exp.short_lines += 1
            else:
                out.append(f"{entity},{day},5,extra")
                exp.long_lines += 1
            continue
        else:
            deaths = str(randrange(1, 1000))
            exp.clean += 1
            exp.death_sum += int(deaths)
        out.append(f"{_csv_field(entity)},{day},{_csv_field(deaths)}")
    return out, exp


def write_covid_csv(path: str, rng: random.Random, n: int) -> CovidExpect:
    lines, exp = covid_lines(rng, n)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("entity,Day,total_confirmed_deaths\n")
        fh.write("\n".join(lines))
        fh.write("\n")
    os.replace(tmp, path)
    return exp


# ---------------------------------------------------------------------------
# food-orders landings
# ---------------------------------------------------------------------------

STATUSES = (
    "Delivered", "delivered:", " DELIVERED ", "deli#vered", "delivered",
    "cancelled", "Pending::", "out for delivery", "",
)
RESTAURANTS = ("Pizza Hut::", "Burger#King!", "Taco Bell", "Café Rio", "Sub, Way", "KFC:")
ITEMS = ("burger", "fries, coke", "pizza:", "Pad Thai!", "salad", "ramen & gyoza")
PAYMENTS = ("card", "UPI:", "Cash", "wallet#")


def clean_food_string(s: str) -> str:
    """Python twin of food_orders.clean_food_orders' string rule."""
    s = s.strip(" ").lower()
    s = re.sub(r":+$", "", s)
    return re.sub(r"[^0-9A-Za-z ,.\-]", "", s)


@dataclass
class FoodExpect:
    total: int = 0
    delivered: int = 0
    # day -> (delivered orders, revenue); revenue is None when every
    # amount that day failed to parse (SQL sum over NULLs)
    daily: dict[str, tuple[int, float | None]] = field(default_factory=dict)


FOOD_DAYS = [f"2024-{m:02d}-{d:02d}" for m in range(1, 13) for d in range(1, 29)]
TIMES = [f"{h:02d}:{m:02d}" for h in range(24) for m in range(60)]
FEEDBACK = ("great!", "cold food:", "ok", "")


def write_food_csv(path: str, rng: random.Random, n: int) -> FoodExpect:
    exp = FoodExpect(total=n)
    daily: dict[str, list] = {}
    delivered_status = {s for s in STATUSES if s and clean_food_string(s) == "delivered"}
    rows = [
        "customer_id,date,time,order_id,items,amount,payment_mode,restaurant,"
        "order_status,rating,feedback"
    ]
    rand, choice, randrange = rng.random, rng.choice, rng.randrange
    for i in range(n):
        status = choice(STATUSES)
        day = choice(FOOD_DAYS)
        cents = randrange(100, 500_100)
        # 1% unparseable: try_cast gives NULL, still counted, not summed
        amount = "n/a" if rand() < 0.01 else f"{cents // 100}.{cents % 100:02d}"
        if status in delivered_status:
            exp.delivered += 1
            cell = daily.setdefault(day, [0, None])
            cell[0] += 1
            if amount != "n/a":
                cell[1] = (cell[1] or 0) + cents
        fields = (
            f"C{randrange(10_000):05d}:", day, choice(TIMES), f"O{i:07d}",
            choice(ITEMS), amount, choice(PAYMENTS), choice(RESTAURANTS),
            status, str(randrange(1, 6)), choice(FEEDBACK),
        )
        rows.append(",".join(_csv_field(f) for f in fields))
    exp.daily = {d: (c, None if cents is None else cents / 100) for d, (c, cents) in daily.items()}
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(rows))
        fh.write("\n")
    os.replace(tmp, path)
    return exp


@dataclass
class Landing:
    covid_glob: str
    covid_paths: list[str]
    food_path: str
    covid: CovidExpect
    food: FoodExpect
    nbytes: int

    @property
    def rows(self) -> int:
        return self.covid.input_rows + self.food.total


def write_landing(
    out_dir: str, seed: int, index: int, covid_files: int, covid_rows: int, food_rows: int
) -> Landing:
    """One landing directory: ``covid_files`` covid CSVs of ``covid_rows``
    data lines each plus one food-orders CSV of ``food_rows`` rows."""
    rng = random.Random(f"landing:{seed}:{index}")
    os.makedirs(out_dir, exist_ok=True)
    covid = CovidExpect()
    paths = []
    for j in range(covid_files):
        p = os.path.join(out_dir, f"covid_{index:03d}_{j:02d}.csv")
        covid.add(write_covid_csv(p, rng, covid_rows))
        paths.append(p)
    food_path = os.path.join(out_dir, f"food_{index:03d}.csv")
    food = write_food_csv(food_path, rng, food_rows)
    nbytes = sum(os.path.getsize(p) for p in [*paths, food_path])
    return Landing(os.path.join(out_dir, "covid_*.csv"), paths, food_path, covid, food, nbytes)


def write_stream_files(out_dir: str, seed: int, count: int, rows: int) -> list[tuple[str, CovidExpect]]:
    """``count`` covid CSVs to be renamed into the watched directory on
    schedule. Returns (path, expectation) in landing order."""
    rng = random.Random(f"stream:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for i in range(count):
        p = os.path.join(out_dir, f"stream_{i:04d}.csv")
        out.append((p, write_covid_csv(p, rng, rows)))
    return out
