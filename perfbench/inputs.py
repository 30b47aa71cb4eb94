"""Seeded benchmark inputs: click events on the wire, the star-schema
tables the dashboard queries read, and the dashboard call deck.

Everything here is a pure function of the seed, so the same seed gives
the same inputs on every host. The system under test only ever sees
the files these functions write.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference producer's distributions (producer/produce.py:25-56).
PAGES = (
    ("/", 25), ("/search", 15), ("/product/42", 12), ("/product/101", 8),
    ("/product/205", 5), ("/cart", 10), ("/checkout", 8),
    ("/user/profile", 7), ("/about", 3), ("/contact", 2), ("/help", 5),
)
COUNTRIES = (
    ("US", 35), ("IN", 20), ("DE", 12), ("FR", 10), ("JP", 8), ("GB", 7),
    ("CA", 5), ("AU", 3),
)
DEVICES = (("mobile", 60), ("desktop", 35), ("tablet", 5))

#: Share of wire records that are not valid events (dropped by
#: ``parse_clicks``) and of events stamped out of order.
MALFORMED_SHARE = 0.01
LATE_SHARE = 0.03
#: Out-of-order events lag the stream by at most this much event time,
#: well inside the exact rollup's 70 s watermark, so no valid event is
#: dropped and every finalized window can be checked exactly.
LATE_MAX_MS = 20_000
N_USERS = 2000

EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Click:
    event_id: str
    user_id: str
    ts: int  # epoch ms, event time
    page: str
    country: str


class ClickSource:
    """Seeded click-event stream in the reference's wire format.

    Event ``i`` has event time ``start_ms + i * step_ms`` (minus a lag
    for the out-of-order share). Callers draw events in order with
    ``take``; ``valid`` keeps every well-formed event drawn so far, the
    oracle for the stream checks.
    """

    def __init__(self, seed: int, start_ms: int, step_ms: float):
        self._rng = random.Random(f"clicks-{seed}")
        self._seed = seed
        self._start_ms = start_ms
        self._step_ms = step_ms
        self._i = 0
        self._last_page: dict[str, str] = {}
        self.valid: list[Click] = []
        self.malformed = 0

    def _pick(self, table) -> str:
        r = self._rng.randrange(100)
        for value, weight in table:
            if r < weight:
                return value
            r -= weight
        return table[-1][0]

    def take(self, n: int) -> list[str]:
        """The next ``n`` wire lines (JSON objects, some malformed)."""
        rng = self._rng
        lines = []
        for _ in range(n):
            i = self._i
            self._i += 1
            ts = int(self._start_ms + i * self._step_ms)
            if rng.random() < LATE_SHARE:
                ts -= rng.randrange(1_000, LATE_MAX_MS)
            user = f"u{rng.randrange(N_USERS):06d}"
            page = self._pick(PAGES)
            rec = {
                "event_id": f"{self._seed:08x}-{i:010d}-{rng.getrandbits(32):08x}",
                "user_id": user,
                "ts": ts,
                "page": page,
                "referrer": self._last_page.get(user, "direct"),
                "country": self._pick(COUNTRIES),
                "device": self._pick(DEVICES),
            }
            self._last_page[user] = page
            if rng.random() < MALFORMED_SHARE:
                self.malformed += 1
                line = json.dumps(rec)
                if rng.random() < 0.5:
                    line = line[: len(line) // 2]  # truncated JSON
                else:
                    rec.pop("ts")  # no event time: dropped as malformed
                    line = json.dumps(rec)
            else:
                self.valid.append(
                    Click(rec["event_id"], user, ts, page, rec["country"])
                )
                line = json.dumps(rec)
            lines.append(line)
        return lines


def write_wire_file(directory: str, name: str, lines: list[str]) -> str:
    """Write one JSON-lines file so that it appears atomically."""
    path = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, path)
    return path


def rollup_oracle(clicks: list[Click]) -> dict[tuple, tuple[int, int]]:
    """Exact minute rollup: (window_start_ms, page, country) ->
    (cnt, unique_users), recomputed from the generated events."""
    groups: dict[tuple, list] = {}
    for c in clicks:
        key = (c.ts - c.ts % 60_000, c.page, c.country)
        g = groups.setdefault(key, [0, set()])
        g[0] += 1
        g[1].add(c.user_id)
    return {k: (g[0], len(g[1])) for k, g in groups.items()}


# -- star schema + events tables ---------------------------------------

#: Row counts of the generated tables (the shape of the repository's
#: sf0.01 fixtures: events span 30 days, orders 1995-2001).
STAR_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "steel"]
_THINGS = ["widget", "bolt", "ring", "gear", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[ms]"), pa.timestamp("ms"))


def write_star_tables(seed: int, out_dir: str) -> None:
    """Write region, nation, customer, supplier, part, orders, lineitem
    and events as parquet files named like the repository's fixtures."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = STAR_ROWS

    def i32(a):
        return pa.array(a, pa.int32())

    def money(a):
        return pa.array(np.round(a, 2), pa.float64())

    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": i32([k % 5 for k in range(25)]),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": money(rng.uniform(-999.99, 9999.99, n["customer"])),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": money(rng.uniform(-999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(_COLORS, n["part"]), rng.choice(_THINGS, n["part"])
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PTYPES, n["part"]).tolist(),
            "p_size": i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": money(900.0 + (np.arange(n["part"]) % 1000) / 10),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": money(rng.uniform(1_000, 500_000, n["orders"])),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
        },
    }
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    flags = rng.integers(0, 6, li)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], li),
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": qty,
        "l_extendedprice": money(qty * rng.uniform(900.0, 2100.0, li)),
        "l_discount": money(rng.integers(0, 11, li) / 100),
        "l_tax": money(rng.integers(0, 9, li) / 100),
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2].tolist(),
        "l_linestatus": np.array(["F", "O"])[flags % 2].tolist(),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    }
    ev = n["events"]
    start_us = EPOCH_2024_MS * 1000
    ts_us = np.sort(rng.integers(start_us, start_us + 30 * 86_400_000_000, ev))
    tables["events"] = {
        "event_id": np.arange(ev, dtype=np.int64),
        # nanosecond timestamps, as in the repository's fixtures
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": rng.integers(0, 150, ev),
        "event_type": rng.choice(_EVENT_TYPES, ev).tolist(),
        "value": money(np.minimum(rng.exponential(50.0, ev), 490.0) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def deck(names: list[str], seed: int, passes: int) -> list[str]:
    """``passes`` shuffled passes over ``names``: every name is called
    the same number of times, in a seeded order."""
    rng = random.Random(f"deck-{seed}")
    out: list[str] = []
    for _ in range(passes):
        p = list(names)
        rng.shuffle(p)
        out.extend(p)
    return out
