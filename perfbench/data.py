"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same rows.  Two kinds of input are made:

- TPC-H-shaped tables (plus ``events``, ``documents``, ``embeddings``) in the
  layout of the engine's testdata, for the frozen operator pack;
- a patron backlog for the poll loop.  Its ``orders``/``customer`` tables go
  through the engine's own ``queries.pipeline_modes._sierra_from_orders``, so
  the sierra rows are derived exactly as the oracle-checked
  ``pipeline_*_mode`` queries derive them; the benchmark then only re-times
  ``creation_timestamp`` to split NEW from pre-existing patrons.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql.types import LongType

from engine.schemas import SINK_RECORD

#: keyed-hash salt of every benchmark drain
SALT = "perfbench"
#: seeded watermark: every generated NEW/UPDATED/DELETED timestamp is later,
#: every pre-existing patron's creation timestamp is earlier
WATERMARK_TS = "1994-12-31 00:00:00"
WATERMARK_DATE = "1994-12-31"
#: frozen run timestamp (``run_all_modes(now=...)``), after all generated data
RUN_NOW = dt.datetime(2030, 1, 1)
#: warehouse geoids carry a state code no fake transport emits (those give
#: 01-56 and NYC borough FIPS 36xxx), so a memo hit is visible on the wire
MEMO_GEOID_PREFIX = "99"
#: deleted patrons get ids from here up, disjoint from every active id
DELETED_ID_BASE = 10_000_000_000

# The patron backlog's traffic mix.  PATRONS and DUP_SHARE are measured on
# the engine's sf0.1 testdata: its customer table has 15 000 rows, and 355
# of its orders repeat a customer's order of the same day (355 / 14 999
# customers with orders).  MEMO_SHARE is the warehouse memo's share of the
# oracle-checked ``pipeline_updated_mode`` (even custkeys, one half).
# NEW_SHARE and DELETED_SHARE have no source: they are assumptions.
PATRONS = 15_000
DUP_SHARE = 355 / 14_999
MEMO_SHARE = 0.5
NEW_SHARE = 0.4
DELETED_SHARE = 0.1
#: scale of the operator pack's tables (orders = 1 500 000 * PACK_SF)
PACK_SF = 0.005

_DAY0 = np.datetime64("1995-01-01")
_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the testdata order-date span
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STREETS = ["MAIN", "BROADWAY", "W 42ND", "E 96TH", "PARK", "GRAND", "LENOX", "ATLANTIC", "OCEAN", "JEROME"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch data "
    "window column join small big line customer query order group sort filter "
    "stream spark vector"
).split()


def sha_hex(text: str) -> str:
    """``sha2(concat(salt, text), 256)`` as the engine's F2 hash emits it,
    computed independently of Spark."""
    return hashlib.sha256((SALT + text).encode("utf-8")).hexdigest()


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def _customers(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "c_custkey": keys.astype("int64"),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n),
        }
    )


def _orders(rng, orderkeys: np.ndarray, custkeys: np.ndarray, days: np.ndarray) -> pd.DataFrame:
    n = len(orderkeys)
    return pd.DataFrame(
        {
            "o_orderkey": orderkeys.astype("int64"),
            "o_custkey": custkeys.astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": (_DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        }
    )


def write_pack_tables(out_dir: str, seed: int) -> int:
    """The ten testdata tables at scale ``PACK_SF``.  Returns the total row
    count written."""
    rng = np.random.default_rng(seed)
    sf = PACK_SF
    n_cust, n_ord, n_part = int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_supp, n_events, n_docs = max(10, int(10_000 * sf)), int(1_000_000 * sf), int(50_000 * sf)
    n_line, n_vecs = 4 * n_ord, n_docs

    tables: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": _customers(rng, np.arange(n_cust)),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "red", "blue", "green", "large", "shiny", "matte", "old"], n_part),
                        rng.choice(["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": _orders(
            rng, np.arange(n_ord), rng.integers(0, n_cust, n_ord), rng.integers(0, _DAYS, n_ord)
        ),
    }
    ship = rng.integers(1, _DAYS + 90, n_line)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": (_DAY0 + ship.astype("timedelta64[D]")).astype("datetime64[us]"),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": (np.datetime64("2024-01-01") + (secs * 1e6).astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(2, n_events // 66), n_events).astype("int64"),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
            "value": np.round(rng.uniform(0.01, 500, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [" ".join(rng.choice(_WORDS, rng.integers(8, 80))) for _ in range(n_docs)]
    # a few exact repeats so the dedup operators have something to drop
    for i in range(0, n_docs, 25):
        texts[i] = texts[(i * 7 + 3) % n_docs]
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.normal(size=(n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 5, n_vecs).astype("int32"),
        }
    )
    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    return sum(len(df) for df in tables.values())


@dataclass
class Backlog:
    """The generator's own account of a patron backlog: what a correct drain
    must emit, computed without Spark."""

    roles: pd.DataFrame  # (custkey, is_new) per active patron
    active_rows: int
    new_ids: set[int] = field(default_factory=set)
    preexisting_ids: set[int] = field(default_factory=set)
    deleted_ids: set[int] = field(default_factory=set)
    memo_ids: set[int] = field(default_factory=set)

    def expected_mode_of(self) -> dict[str, str]:
        """sha256(salt‖id) → the mode that must emit it."""
        out = {}
        for mode, ids in (
            ("new", self.new_ids),
            ("updated", self.preexisting_ids),
            ("deleted", self.deleted_ids),
        ):
            out.update({sha_hex(str(i)): mode for i in ids})
        return out

    def memo_hits(self) -> set[str]:
        """sha256(salt‖id) of the UPDATED patrons the memo must geocode."""
        return {sha_hex(str(i)) for i in self.memo_ids}

    def summary(self) -> dict:
        n_upd = len(self.preexisting_ids)
        total = len(self.new_ids) + n_upd + len(self.deleted_ids)
        return {
            "source_rows": self.active_rows + len(self.deleted_ids),
            "new": len(self.new_ids),
            "updated": n_upd,
            "deleted": len(self.deleted_ids),
            "memo_hit_share": round(len(self.memo_ids) / n_upd, 4),
            "deleted_share": round(len(self.deleted_ids) / total, 4),
        }


def _warehouse_rows(ids, address_hashes) -> pd.DataFrame:
    """``patron_info`` rows; only the hashes and the geoid matter to the
    drain, the rest is cargo."""
    return pd.DataFrame(
        {
            "patron_id": [sha_hex(str(i)) for i in ids],
            "address_hash": address_hashes,
            "postal_code": "10001",
            "geoid": [f"{MEMO_GEOID_PREFIX}{i % 10**9:09d}" for i in ids],
            "creation_date_et": "1980-01-01",
            "deletion_date_et": None,
            "circ_active_date_et": "1999-01-01",
            "ptype_code": 1,
            "pcode3": None,
            "patron_home_library_code": "wh",
            "initial_patron_home_library_code": "wh",
        }
    )


def write_patron_backlog(out_dir: str, seed: int) -> Backlog:
    """Write ``orders``/``customer`` for ``_sierra_from_orders`` (one order
    per patron, whose date is the patron's timestamp, plus ``DUP_SHARE``
    repeat orders on the same day that the keep-first dedup must collapse),
    the warehouse memo ``patron_info`` and the ``deleted`` feed.

    The memo holds ``MEMO_SHARE`` of the pre-existing patrons, keyed by the
    address hash of the row keep-first keeps (lowest ``display_order``),
    plus every deleted patron.  Deleted ids are disjoint from active ones.

    sf0.1's orders give each customer about ten rows over the whole date
    span; the backlog keeps one row per patron (plus the same-day repeats),
    so a pass stays a few production pages long."""
    rng = np.random.default_rng(seed)
    patrons = PATRONS
    keys = np.arange(patrons)
    days = rng.integers(0, _DAYS, patrons)
    is_new = rng.random(patrons) < NEW_SHARE
    dups = rng.choice(patrons, int(patrons * DUP_SHARE), replace=False)
    cust = np.concatenate([keys, dups])
    orders = _orders(rng, np.arange(len(cust)), cust, np.concatenate([days, days[dups]]))
    customers = _customers(rng, keys)
    # ``_sierra_from_orders`` maps c_name to the street line; patrons get
    # street addresses, so the geocode cascade's re-parse and NYC tiers see
    # parseable input
    customers["c_name"] = [
        f"{h} {s} {t}"
        for h, s, t in zip(
            rng.integers(1, 9999, patrons),
            rng.choice(_STREETS, patrons),
            rng.choice(["ST", "AVE", "PL", "BLVD", "RD"], patrons),
        )
    ]

    # The address key of each patron's first order, derived as
    # ``_sierra_from_orders`` derives it (its DuckDB twin ``_SIERRA_SQL``
    # replicates it the same way): address = c_name, city = c_mktsegment,
    # region 'NY', postal = lpad(orderkey % 89999 + 10000, 5) || '-1234'.
    first = orders.sort_values("o_orderkey").drop_duplicates("o_custkey")
    first = first.merge(customers, left_on="o_custkey", right_on="c_custkey")
    pre = first[~is_new[first.o_custkey.to_numpy()]]
    memo = pre[rng.random(len(pre)) < MEMO_SHARE]
    memo_keys = [
        f"{c}_{a}_{m}_NY_{k % 89999 + 10000:05d}-1234"
        for c, a, m, k in zip(memo.o_custkey, memo.c_name, memo.c_mktsegment, memo.o_orderkey)
    ]

    n_del = int(patrons * DELETED_SHARE)
    del_ids = np.arange(n_del, dtype="int64") + DELETED_ID_BASE
    del_days = rng.integers(0, _DAYS, n_del)
    deleted = pd.DataFrame(
        {
            "patron_id_plaintext": del_ids,
            "deletion_date_et": list((_DAY0 + del_days.astype("timedelta64[D]")).astype(dt.date)),
        }
    )

    # instants (Spark TIMESTAMP), as the poller's ordering columns are; a
    # naive column would read back as TIMESTAMP_NTZ, which a streaming
    # watermark refuses
    orders["o_orderdate"] = orders["o_orderdate"].dt.tz_localize("UTC")
    write_parquet(customers, os.path.join(out_dir, "customer.parquet"))
    write_parquet(orders, os.path.join(out_dir, "orders.parquet"))
    write_parquet(
        pd.concat(
            [
                _warehouse_rows(memo.o_custkey, [sha_hex(k) for k in memo_keys]),
                _warehouse_rows(del_ids, [sha_hex(f"deleted-{i}") for i in del_ids]),
            ],
            ignore_index=True,
        ),
        os.path.join(out_dir, "patron_info.parquet"),
        pa.schema([(f.name, pa.int64() if isinstance(f.dataType, LongType) else pa.string())
                   for f in SINK_RECORD.fields]),
    )
    write_parquet(
        deleted,
        os.path.join(out_dir, "deleted.parquet"),
        pa.schema([("patron_id_plaintext", pa.int64()), ("deletion_date_et", pa.date32())]),
    )
    return Backlog(
        roles=pd.DataFrame({"custkey": keys, "is_new": is_new}),
        active_rows=len(orders),
        new_ids=set(keys[is_new].tolist()),
        preexisting_ids=set(keys[~is_new].tolist()),
        deleted_ids=set(del_ids.tolist()),
        memo_ids=set(memo.o_custkey.tolist()),
    )
