"""Seeded input generators for the three workloads.

Everything here is plain Python / NumPy / PyArrow: the program under
test only ever sees the files these functions write. The same seed
gives byte-identical inputs; sizes never depend on the seed, so two
seeds differ in values only, not in the amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# sync: a Salesforce-shaped change log for one object (Opportunity-like)

SYNC_BASE_ROWS = 4_000  # records in the log before the initial load
SYNC_CYCLES = 4  # incremental cycles per round
SYNC_CYCLE_ROWS = 800  # change lines appended before each cycle
SYNC_INSERT_SHARE = 0.10  # share of change lines that are new keys

# describe() field list: one field per distinct Spark type the
# SF_TYPE_MAP lattice yields for JDBC-writable types. multipicklist
# (array) and base64 (binary) are left out: Spark's JDBC writer has no
# Derby type for arrays.
SYNC_FIELDS = [
    {"name": "Id", "type": "id", "nillable": False},
    {"name": "SystemModstamp", "type": "datetime", "nillable": False},
    {"name": "Name", "type": "string"},
    {"name": "AccountId", "type": "reference"},
    {"name": "StageName", "type": "picklist"},
    {"name": "Description", "type": "textarea"},
    {"name": "Website", "type": "url"},
    {"name": "IsClosed", "type": "boolean"},
    {"name": "NumberOfEmployees", "type": "int"},
    {"name": "Score__c", "type": "double"},
    {"name": "Probability", "type": "percent"},
    {"name": "Amount", "type": "currency"},
    {"name": "CloseDate", "type": "date"},
]
SYNC_KEY = "Id"
SYNC_TS = "SystemModstamp"

_STAGES = ["Prospecting", "Qualification", "Proposal", "Negotiation", "Closed Won", "Closed Lost"]
_WORDS = ["alpha", "bravo", "delta", "omega", "cloud", "field", "lake", "stream", "pipe", "batch"]
_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def sf_id(prefix: str, n: int) -> str:
    """18-char Salesforce Id: 3-char key prefix + 12 base-62 digits,
    plus the 3-char case-safe checksum suffix."""
    body = []
    for _ in range(12):
        n, r = divmod(n, 62)
        body.append(_B62[r])
    id15 = prefix + "".join(reversed(body))
    suffix = ""
    for i in range(3):
        bits = sum(1 << j for j, ch in enumerate(id15[i * 5 : i * 5 + 5]) if ch.isupper())
        suffix += "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345"[bits]
    return id15 + suffix


class SyncLog:
    """Generates the change log line by line and keeps, in plain Python,
    the latest record per key — the expected warehouse contents."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.n_keys = 0
        self.ts = dt.datetime(2024, 1, 1)
        self.latest: dict[str, dict] = {}

    def _record(self, key: str) -> dict:
        rng = self.rng
        self.ts += dt.timedelta(milliseconds=rng.randint(1, 2000))
        return {
            "Id": key,
            "SystemModstamp": self.ts.isoformat(sep=" ", timespec="milliseconds"),
            "Name": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} deal {rng.randrange(10**6)}",
            "AccountId": sf_id("001", rng.randrange(5_000)),
            "StageName": rng.choice(_STAGES),
            "Description": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 12))),
            "Website": f"https://{rng.choice(_WORDS)}{rng.randrange(1000)}.example.com",
            "IsClosed": rng.random() < 0.3,
            "NumberOfEmployees": rng.randrange(1, 200_000),
            "Score__c": rng.random() * 1000.0,
            "Probability": float(rng.randrange(0, 101)),
            "Amount": f"{rng.randrange(0, 10**9) / 100:.2f}",
            "CloseDate": (dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(730))).isoformat(),
        }

    def _emit(self, key: str) -> str:
        rec = self._record(key)
        self.latest[key] = rec
        return json.dumps(rec)

    def base(self) -> list[str]:
        lines = [self._emit(sf_id("006", k)) for k in range(SYNC_BASE_ROWS)]
        self.n_keys = SYNC_BASE_ROWS
        return lines

    def cycle(self) -> list[str]:
        """SYNC_CYCLE_ROWS change lines: updates of existing keys (a key
        may change more than once in one cycle) plus new-key inserts."""
        lines = []
        for _ in range(SYNC_CYCLE_ROWS):
            if self.rng.random() < SYNC_INSERT_SHARE:
                key = sf_id("006", self.n_keys)
                self.n_keys += 1
            else:
                key = sf_id("006", self.rng.randrange(self.n_keys))
            lines.append(self._emit(key))
        return lines

    @property
    def watermark(self) -> str:
        return self.ts.isoformat(sep=" ")


def expected_row(rec: dict) -> tuple:
    """A log record as the Python values the warehouse should hold,
    typed the way the describe() field types say."""
    return (
        rec["Id"],
        dt.datetime.fromisoformat(rec["SystemModstamp"]),
        rec["Name"],
        rec["AccountId"],
        rec["StageName"],
        rec["Description"],
        rec["Website"],
        rec["IsClosed"],
        rec["NumberOfEmployees"],
        rec["Score__c"],
        rec["Probability"],
        Decimal(rec["Amount"]),
        dt.date.fromisoformat(rec["CloseDate"]),
    )


# ---------------------------------------------------------------------------
# lake, query mix: TPC-H-shaped parquet in the FIXTURES.md schemas and domains

N_CUSTOMER = 3_000
N_ORDERS = 30_000
N_EVENTS = 25_000
N_USERS = 150

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ms(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "ms").astype(np.int64)
    hi = np.datetime64(end, "ms").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[ms]")


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write region, nation, customer, orders, lineitem and events as
    ``<out_dir>/<table>.parquet``; returns row counts per table."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64) * 4
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMER + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(850.0, 450_000.0, N_ORDERS), 2),
        "o_orderdate": _ms("1995-01-01", "2001-08-01", N_ORDERS, rng),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    lines_per = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines_per.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(ok, lines_per),
        "l_partkey": rng.integers(1, 20_001, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ms("1995-01-02", "2001-11-04", n_li, rng),
    })
    ts_lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts_hi = np.datetime64("2024-01-30", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": rng.integers(ts_lo, ts_hi, N_EVENTS).astype("datetime64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.0, 500.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    for name, table in t.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------------------
# lake, near-duplicate removal: an LLM-style corpus with planted near-copy clusters and chains

DEDUP_THRESHOLD = 0.8
DEDUP_HASHES = 64
DEDUP_BANDS = 16  # r = 4 rows per band: miss probability 1.9e-12 at J = 0.95
DEDUP_FAR_ABOVE = 0.95  # planted pairs at or above this must all be found

N_ORIGINALS = 4_500  # unrelated documents
N_CLUSTERS = 750  # originals that receive near copies
COPIES_PER_CLUSTER = 2
N_CHAINS = 6
CHAIN_LEN = 40  # each link rewrites a few words of the previous document
VOCAB = 30_000
DOC_WORDS = (80, 140)


def _mutate(words: list[str], n: int, rng: random.Random) -> list[str]:
    out = list(words)
    for i in rng.sample(range(len(out)), n):
        out[i] = f"w{rng.randrange(VOCAB)}"
    return out


def corpus(seed: int) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """(docs, planted): docs are (doc_id, text) in a seeded shuffled id
    order; planted lists the (a, b) pairs that were written as near
    copies of each other (copy of an original, or adjacent chain links)."""
    rng = random.Random(seed * 104729 + 3)
    texts: list[list[str]] = []
    planted_idx: list[tuple[int, int]] = []
    for _ in range(N_ORIGINALS):
        n = rng.randint(*DOC_WORDS)
        texts.append([f"w{rng.randrange(VOCAB)}" for _ in range(n)])
    for c in rng.sample(range(N_ORIGINALS), N_CLUSTERS):
        for _ in range(COPIES_PER_CLUSTER):
            texts.append(_mutate(texts[c], rng.randint(1, 3), rng))
            planted_idx.append((c, len(texts) - 1))
    for _ in range(N_CHAINS):
        texts.append([f"w{rng.randrange(VOCAB)}" for _ in range(DOC_WORDS[1])])
        for _ in range(CHAIN_LEN - 1):
            texts.append(_mutate(texts[-1], 4, rng))
            planted_idx.append((len(texts) - 2, len(texts) - 1))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    docs = [(ids[i], " ".join(w)) for i, w in enumerate(texts)]
    planted = [(ids[a], ids[b]) for a, b in planted_idx]
    return docs, planted


def write_corpus(path: str, docs: list[tuple[int, str]]) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": [t for _, t in docs],
        }),
        path,
    )
