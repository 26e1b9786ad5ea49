"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of ``seed``: the same seed writes the same
bytes.  Outputs go under the benchmark's work directory (never into the
source tree) and are cached per seed, so a second run on a seed skips
generation; generation is never part of any timed number.

* ``lake``    -- the lake tables plus ``events`` at sf0.1, in the fixture
  schemas the registry queries and their DuckDB oracles expect
  (FIXTURES.md section A) and with the sf0.1 lake's row counts and value
  distributions.  It is one fixed snapshot; the run's seed orders the
  queries over it.
* the growing SAP table lives in ``sapserver/pyrfc.py`` (it is served to
  Python workers); ``sap_truth`` here derives its ground truth.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# lake
# ---------------------------------------------------------------------------

# Row counts of the lake the timed ops read: those of the sf0.1 lake the
# engine is benchmarked on (TESTDATA.md), lineitem 600k rows.  The warm-up
# lake has the same schemas and distributions at sf0.01.
SF_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
LAKE_SF, WARM_SF = 0.1, 0.01
# The lake is one fixed snapshot, as the engine serves it (seed 42, as
# TESTDATA.md's); the run's seed orders the queries.  The warm-up lake
# comes from another seed, so its values differ too.
LAKE_SEED, WARM_SEED = 42, 43

# Value domains measured on the sf0.1 lake.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_DAYS = 2404  # o_orderdate spans 1995-01-01 .. 2001-08-01
EVENT_USERS_PER_ROW = 1 / 66.67  # 1,500 users over 100k events
DAY_MS = 86_400_000
EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
EPOCH_2024_NS = 1_704_067_200 * 10**9


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(vocab: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(vocab, dtype=object)[idx], pa.string())


def write_lake(out_dir: str, seed: int, sf: float) -> None:
    """Write one lake snapshot at scale factor ``sf`` into ``out_dir``: the
    eight tables the chosen queries read, in the fixture schemas of
    FIXTURES.md section A, with the sf0.1 lake's key ranges, fan-outs and
    value domains (uniform foreign keys; Poisson(4) lines per order, lines
    in random order; ship date independent of order date)."""
    rng = np.random.default_rng(seed)
    rows = {t: round(k * sf) for t, k in SF_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(
        pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )

    nc = rows["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, nc)),
            }
        ),
        f"{out_dir}/customer.parquet",
    )

    ns = rows["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )

    npart = rows["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), i64),
                "p_name": _pick(names, rng.integers(0, len(names), npart)),
                "p_brand": _pick([f"Brand#{k}" for k in range(1, 26)], rng.integers(0, 25, npart)),
                "p_type": _pick(P_TYPES, rng.integers(0, 6, npart)),
                "p_size": pa.array(rng.integers(1, 51, npart), i32),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
        f"{out_dir}/part.parquet",
    )

    no = rows["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), i64),
                "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, no)),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": pa.array(
                    EPOCH_1995 + rng.integers(0, ORDER_DAYS, no) * DAY_MS, pa.timestamp("ms")
                ),
                "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, no)),
            }
        ),
        f"{out_dir}/orders.parquet",
    )

    nl = rows["lineitem"]
    ship_day = rng.integers(0, ORDER_DAYS, nl) + rng.integers(1, 96, nl)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
                "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, nl)),
                "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, nl)),
                "l_shipdate": pa.array(EPOCH_1995 + ship_day * DAY_MS, pa.timestamp("ms")),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )

    ne = rows["events"]
    # monotone-ish event time over 30 days from 2024-01-01
    ts = EPOCH_2024_NS + np.sort(rng.integers(0, 30 * 86_400 * 10**9, ne))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(ne), i64),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array(rng.integers(0, max(1, round(ne * EVENT_USERS_PER_ROW)), ne), i64),
                "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, ne)),
                "value": np.round(rng.exponential(50.0, ne), 2),
                "props": _pick([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, ne)),
            }
        ),
        f"{out_dir}/events.parquet",
    )


def lake(root: str, *, warm: bool = False) -> str:
    """Path of the timed (sf0.1) or warm-up (sf0.01) lake snapshot,
    generated on first use."""
    seed, sf = (WARM_SEED, WARM_SF) if warm else (LAKE_SEED, LAKE_SF)
    return _cached(root, f"lake-sf{sf}-{seed}", lambda d: write_lake(d, seed, sf))


# ---------------------------------------------------------------------------
# growing SAP table
# ---------------------------------------------------------------------------

# warm-up inputs come from another seed's generator: same shapes, other values
WARM_SEED_OFFSET = 1_000_000


@dataclass(frozen=True)
class SapTruth:
    """Ground truth of the SAP table at one size."""

    malformed: int  # planted malformed rows in the table
    keys: int  # distinct keys among its well-formed rows
    restated: tuple[tuple[str, str], ...]  # (key, newest ROLLNAME) restated by this run's rows


def sap_truth(seed: int, sizes: list[int]) -> list[SapTruth]:
    """Ground truth after each growth step of the served table (see
    sapserver/pyrfc.py for the planted rows)."""
    from perfbench.sapserver import pyrfc

    out, keys, malformed, lo = [], set(), 0, 0
    for n in sizes:
        restated = []
        for i in range(lo, n):
            if pyrfc.is_malformed(seed, i):
                malformed += 1
                continue
            key = pyrfc.key_of(seed, i)
            keys.add(key)
            if pyrfc.is_restated(seed, i):
                restated.append((key, pyrfc.values(seed, i)[4]))
        out.append(SapTruth(malformed, len(keys), tuple(restated)))
        lo = n
    return out


def _cached(root: str, name: str, build) -> str:
    """Build ``root/name`` once; a half-written directory never counts as
    cached (it is built under a temporary name and renamed)."""
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final
