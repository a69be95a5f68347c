"""Seeded input generators for the three workloads.

The same seed always yields the same inputs. The engine only ever sees
what is generated here: OpenWeatherMap-shaped documents and a weather
history (ingest, query mix), TPC-H-shaped tables (query mix) and a text
and embedding corpus with planted duplicates (curation).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Epoch second of the first history step; one step is one 5-minute tick.
T0 = 1_600_000_000
STEP_S = 300

DESCRIPTIONS = [
    "clear sky", "few clouds", "scattered clouds", "broken clouds",
    "overcast clouds", "shower rain", "light rain", "rain",
    "thunderstorm", "snow", "mist", "drizzle",
]
#: UTC offsets in seconds, negative ones included (FIXTURES.md §A1),
#: with a half-hour offset to keep the wall-clock arithmetic honest.
TZ_OFFSETS = [-36000, -18000, -12600, -10800, -3600, 0, 3600, 7200, 19800, 32400]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# ---------------------------------------------------------------------------
# Weather: history + per-tick documents
# ---------------------------------------------------------------------------


@dataclass
class WeatherWorld:
    """The cities, their fixed offsets and how much history precedes
    the first tick. Queries sent to the fetcher are ``q<i>`` for city
    ``i`` plus ``alias<j>`` slots that resolve to some other city's
    document (the reference's ``"Breda,nl"`` query/name mismatch)."""

    seed: int
    cities: list[str]
    tz: list[int]
    hist_steps: int
    n_dup: int
    n_conflict: int
    n_late: int
    #: pool of 0-3 element description arrays shared by history and docs
    pool: list[list[str]] = field(default_factory=list)

    @property
    def queries(self) -> list[str]:
        n_alias = self.n_dup + self.n_conflict
        return [f"q{i}" for i in range(len(self.cities))] + [
            f"alias{j}" for j in range(n_alias)
        ]


def make_world(seed: int, n_cities: int, hist_steps: int) -> WeatherWorld:
    rng = _rng(seed, 1)
    tz = [int(TZ_OFFSETS[i]) for i in rng.integers(0, len(TZ_OFFSETS), n_cities)]
    cities = [f"City {i:05d}" for i in range(n_cities)]
    pool = []
    for _ in range(64):
        n = int(rng.choice(4, p=[0.1, 0.6, 0.2, 0.1]))
        pool.append([DESCRIPTIONS[j] for j in rng.integers(0, len(DESCRIPTIONS), n)])
    return WeatherWorld(
        seed=seed,
        cities=cities,
        tz=tz,
        hist_steps=hist_steps,
        n_dup=max(1, round(0.02 * n_cities)),
        n_conflict=max(1, round(0.01 * n_cities)),
        n_late=max(1, round(0.05 * n_cities)),
        pool=pool,
    )


def history_table(world: WeatherWorld) -> pa.Table:
    """``hist_steps`` observations of every city, in the weather table's
    shape. Times are stored as UTC instants so Spark reads them as
    TIMESTAMP with the session pinned to UTC."""
    rng = _rng(world.seed, 2)
    n_c, n_s = len(world.cities), world.hist_steps
    steps = np.repeat(np.arange(n_s, dtype=np.int64), n_c)
    city_idx = np.tile(np.arange(n_c), n_s)
    tz = np.asarray(world.tz, dtype=np.int64)[city_idx]
    secs = T0 + steps * STEP_S + tz
    joined = np.array([", ".join(p) for p in world.pool], dtype=object)
    desc = joined[rng.integers(0, len(joined), n_c * n_s)]
    temp = rng.integers(-3000, 4500, n_c * n_s) / 100.0
    return pa.table(
        {
            "Time": pa.array(secs * 1_000_000, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "City_Name": pa.array(np.array(world.cities, dtype=object)[city_idx]),
            "Weather_Description": pa.array(desc, pa.string()),
            "Temperature": pa.array(temp, pa.float64()),
        }
    )


def _doc(world: WeatherWorld, rng: random.Random, city: int, step: int) -> dict:
    """One OpenWeatherMap /data/2.5/weather response, with the extra
    fields the API sends and the engine's read schema ignores."""
    temp = rng.randint(-3000, 4500) / 100.0
    return {
        "coord": {"lon": round(rng.uniform(-180, 180), 4), "lat": round(rng.uniform(-90, 90), 4)},
        "weather": [
            {"id": 800 + i, "main": d.split()[-1].title(), "description": d, "icon": "01d"}
            for i, d in enumerate(world.pool[rng.randrange(len(world.pool))])
        ],
        "base": "stations",
        "main": {
            "temp": temp,
            "feels_like": temp - 1.5,
            "temp_min": temp - 2.0,
            "pressure": rng.randint(980, 1040),
            "humidity": rng.randint(10, 100),
        },
        "visibility": 10000,
        "wind": {"speed": rng.randint(0, 200) / 10.0, "deg": rng.randint(0, 359)},
        "dt": T0 + step * STEP_S,
        "sys": {"country": "NL", "sunrise": T0, "sunset": T0 + 40000},
        "timezone": world.tz[city],
        "id": 2_750_000 + city,
        "name": world.cities[city],
        "cod": 200,
    }


def tick_docs(world: WeatherWorld, tick: int) -> dict[str, dict]:
    """The fetcher's answers for one tick, keyed by query string.

    Every city answers once: most with a fresh observation at this
    tick's step, ``n_late`` with a revised value for a key already in
    the history (the update path). The alias queries answer with an
    exact copy of another city's document (``n_dup``, removed by
    DISTINCT) or with a same-key document carrying different values
    (``n_conflict``, resolved last-write-wins inside the tick).
    """
    rng = random.Random(world.seed * 1_000_003 + tick)
    n_c = len(world.cities)
    step = world.hist_steps + tick
    late = set(rng.sample(range(n_c), world.n_late))
    docs = {}
    for i in range(n_c):
        past = rng.randrange(world.hist_steps) if i in late else step
        docs[f"q{i}"] = _doc(world, rng, i, past)
    for j in range(world.n_dup):
        docs[f"alias{j}"] = docs[f"q{rng.randrange(n_c)}"]
    for j in range(world.n_dup, world.n_dup + world.n_conflict):
        city = rng.randrange(n_c)
        src = docs[f"q{city}"]
        other = _doc(world, rng, city, 0)
        docs[f"alias{j}"] = {**src, "main": other["main"], "weather": other["weather"]}
    return docs


# ---------------------------------------------------------------------------
# TPC-H-shaped tables for the registered relational plans
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z


def _ts_us(secs: np.ndarray) -> pa.Array:
    return pa.array(secs.astype(np.int64) * 1_000_000, pa.int64()).cast(pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def write_tpch(sf_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write every table ``catalog.register_views`` loads, one parquet
    file each, in the driver testdata's column types (naive
    microsecond timestamps). ``orders`` has ``n_orders`` rows and
    ``lineitem`` 1-7 lines per order; the other tables are small
    because no measured plan reads them. Returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = _rng(seed, 3)
    n_cust = max(10, n_orders // 10)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    tables["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION{i:02d}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    tables["customer"] = pa.table(
        {"c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
         "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
         "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
         "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
         "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]}
    )
    n_supp = 100
    tables["supplier"] = pa.table(
        {"s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
         "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
         "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
         "s_acctbal": _cents(rng, -99_999, 999_999, n_supp)}
    )
    n_part = 200
    tables["part"] = pa.table(
        {"p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
         "p_name": [f"part {i}" for i in range(1, n_part + 1)],
         "p_brand": [f"Brand#{1 + i % 5}{1 + i % 4}" for i in range(n_part)],
         "p_type": [f"TYPE {i % 7}" for i in range(n_part)],
         "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
         "p_retailprice": _cents(rng, 90_000, 200_000, n_part)}
    )
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    odate = _EPOCH_1992 + rng.integers(0, 2400, n_orders) * 86400
    tables["orders"] = pa.table(
        {"o_orderkey": pa.array(okeys, pa.int64()),
         "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
         "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)],
         "o_totalprice": _cents(rng, 100_000, 50_000_000, n_orders),
         "o_orderdate": _ts_us(odate),
         "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)]}
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_okey = np.repeat(okeys, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * 86400
    tables["lineitem"] = pa.table(
        {"l_orderkey": pa.array(l_okey, pa.int64()),
         "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
         "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
         "l_linenumber": pa.array(l_num, pa.int32()),
         "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
         "l_extendedprice": _cents(rng, 90_000, 10_000_000, n_li),
         "l_discount": rng.integers(0, 11, n_li) / 100.0,
         "l_tax": rng.integers(0, 9, n_li) / 100.0,
         "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
         "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
         "l_shipdate": _ts_us(l_ship)}
    )
    n_ev = 100
    tables["events"] = pa.table(
        {"event_id": pa.array(np.arange(n_ev), pa.int64()),
         "ts": _ts_us(T0 + np.arange(n_ev) * 60),
         "user_id": pa.array(rng.integers(1, 20, n_ev), pa.int64()),
         "event_type": np.array(["view", "click"], dtype=object)[rng.integers(0, 2, n_ev)],
         "value": _cents(rng, 0, 10_000, n_ev),
         "props": ["{}"] * n_ev}
    )
    tables["documents"] = pa.table(
        {"doc_id": pa.array(np.arange(10), pa.int64()),
         "text": [f"document number {i} text" for i in range(10)],
         "lang": ["en"] * 10, "source": ["gen"] * 10,
         "n_chars": pa.array([len(f"document number {i} text") for i in range(10)], pa.int64())}
    )
    tables["embeddings"] = pa.table(
        {"vec_id": pa.array(np.arange(10), pa.int64()),
         "embedding": pa.array([list(map(float, rng.random(8, dtype=np.float32))) for _ in range(10)],
                               pa.list_(pa.float32())),
         "label": pa.array([i % 2 for i in range(10)], pa.int32())}
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Curation corpus: planted exact and near duplicates, planted neighbours
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs_path: str
    emb_path: str
    n_docs: int
    n_vecs: int
    #: planted exact-duplicate groups as {(smallest id, copies)}
    exact_groups: set[tuple[int, int]]
    #: planted near-duplicate pairs (id_a < id_b) above the Jaccard floor
    near_pairs: set[tuple[int, int]]
    #: doc id -> smallest id of its planted group (exact copies, or a
    #: near-duplicate base and its variants); unique docs are absent
    group_of: dict[int, int]
    #: query vector id -> id of its planted nearest neighbour
    neighbours: dict[int, int]
    #: the embeddings as written, row i is vector id i
    vecs: np.ndarray


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the engine's documented shingle set
    (single-space tokenization, ' '-joined n-grams)."""
    tok = text.split(" ")
    return {" ".join(tok[i:i + n]) for i in range(len(tok) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def write_corpus(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64,
    near_jaccard: float = 0.7, query_mod: int = 50,
) -> Corpus:
    """Text docs: ~8% in exact-duplicate groups of 2-4 copies, ~15% in
    near-duplicate clusters (one base plus 1-3 variants made by
    substituting 1-2 words, kept only when 3-shingle Jaccard to the base
    is at least ``near_jaccard``), the rest unique. Embeddings: every
    ``query_mod``-th vector (the IVF operator's query slice) gets a
    planted neighbour at a small perturbation."""
    rng = random.Random(seed * 7919 + 4)
    vocab = [f"w{i:04d}" for i in range(4000)]

    def fresh() -> list[str]:
        return rng.choices(vocab, k=rng.randint(30, 60))

    texts: list[str] = []
    seen: set[str] = set()
    exact_groups: set[tuple[int, int]] = set()
    near_pairs: set[tuple[int, int]] = set()
    group_of: dict[int, int] = {}

    def add(text: str) -> int | None:
        """Append a text no other document has; None if it collides."""
        if text in seen or len(texts) >= n_docs:
            return None
        seen.add(text)
        texts.append(text)
        return len(texts) - 1

    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.03:
            copies = rng.randint(2, 4)
            base = " ".join(fresh())
            if len(texts) + copies > n_docs or base in seen:
                continue
            first = len(texts)
            exact_groups.add((first, copies))
            add(base)
            texts.extend([base] * (copies - 1))
            group_of.update((i, first) for i in range(first, first + copies))
        elif r < 0.08:
            base_tok = fresh()
            base_id = add(" ".join(base_tok))
            if base_id is None:
                continue
            base_sh = shingles(texts[base_id])
            for _ in range(rng.randint(1, 3)):
                tok = list(base_tok)
                for _ in range(rng.randint(1, 2)):
                    tok[rng.randrange(len(tok))] = rng.choice(vocab)
                text = " ".join(tok)
                if jaccard(base_sh, shingles(text)) < near_jaccard:
                    continue
                var_id = add(text)
                if var_id is not None:
                    near_pairs.add((base_id, var_id))
                    group_of[base_id] = group_of[var_id] = base_id
        else:
            add(" ".join(fresh()))
    docs_path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}),
        docs_path,
    )

    nrng = _rng(seed, 5)
    vecs = nrng.standard_normal((n_vecs, dim)).astype(np.float32)
    neighbours = {}
    for q in range(0, n_vecs, query_mod):
        nb = q + 1 + int(nrng.integers(0, query_mod - 1))
        if nb >= n_vecs:
            continue
        vecs[nb] = vecs[q] + 0.02 * nrng.standard_normal(dim).astype(np.float32)
        neighbours[q] = nb
    emb_path = os.path.join(out_dir, "emb.parquet")
    pq.write_table(
        pa.table(
            {"vec_id": pa.array(range(n_vecs), pa.int64()),
             "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
        ),
        emb_path,
    )
    return Corpus(
        docs_path, emb_path, n_docs, n_vecs, exact_groups, near_pairs, group_of, neighbours, vecs
    )
