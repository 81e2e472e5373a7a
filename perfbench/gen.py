"""Seeded input generator: TPC-H-shaped source tables and landing batches.

Everything the program sees in a benchmark run comes from here: the base
source tables (written as ``<table>.parquet`` files in one directory, the
layout ``tables.load_table`` reads) and the micro-batch files that land
one at a time during the measured loop. The same seed yields the same
rows and byte-identical parquet files.

Batches are generated lazily, one per call, from the generator's current
view of the data, so a run can land as many as its time allows. Each
generator also keeps the final image of every source row it changed,
which is what the correctness oracles recompute from.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the base tables: about 1/19 of TPC-H sf0.1 (1/3 for the
# documents), so that every run fits the benchmark's time budget. A unit
# runs the same Spark jobs as at sf0.1, but bytes weigh less in its time;
# perfbench/README.md gives the measured shares at both sizes.
SCALE = {
    "customer": 1000,
    "supplier": 80,
    "part": 1200,
    "orders": 8000,
    "documents": 1500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["bolt", "ring", "widget", "gear", "valve", "panel", "screw", "pipe"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

FIRST_DAY = dt.datetime(1995, 1, 1)
N_DAYS = (dt.datetime(2001, 8, 1) - FIRST_DAY).days

# The held-out share of the corpus: doc_id % DOC_ARRIVAL_MOD == 0 arrives
# after the initial stats build (the convention of llmdata.incrstats).
DOC_ARRIVAL_MOD = 10

# Landing-batch shapes (rows per batch).
ORDER_EDITS, ORDER_REASSIGNS, ORDER_NEW = 30, 10, 10
DOC_ARRIVALS, DOC_EDITS = 8, 16

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
}


def write_parquet(columns: dict, table: str, path: str) -> None:
    """Write one table file; no pandas metadata, so bytes depend on rows only."""
    pq.write_table(pa.Table.from_pydict(columns, schema=SCHEMAS[table]), path)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _days(day_offsets) -> list:
    return [FIRST_DAY + dt.timedelta(days=int(d)) for d in day_offsets]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """Pseudo-words from syllables: lowercase, no whitespace, distinct."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "fi"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(syl, size=int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class SourceData:
    """Base source tables for one seed, plus the batch generators' state."""

    def __init__(self, seed: int, scale: dict | None = None):
        self.seed = seed
        self.scale = dict(SCALE, **(scale or {}))
        self.tables = self._base_tables()

    def _base_tables(self) -> dict[str, dict]:
        s = self.scale
        rng = _rng(self.seed, 0)
        t: dict[str, dict] = {}
        t["region"] = {"r_regionkey": list(range(5)), "r_name": REGIONS}
        t["nation"] = {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        }
        nc = s["customer"]
        t["customer"] = {
            "c_custkey": list(range(nc)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).tolist(),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2).tolist(),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
        ns = s["supplier"]
        t["supplier"] = {
            "s_suppkey": list(range(ns)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).tolist(),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2).tolist(),
        }
        npart = s["part"]
        price = np.round(900.0 + (np.arange(npart) % 2000) * 0.1, 2)
        t["part"] = {
            "p_partkey": list(range(npart)),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(COLORS, npart), rng.choice(NOUNS, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": rng.integers(1, 51, npart).tolist(),
            "p_retailprice": price.tolist(),
        }
        no = s["orders"]
        odays = rng.integers(0, N_DAYS + 1, no)
        t["orders"] = {
            "o_orderkey": list(range(no)),
            "o_custkey": rng.integers(0, nc, no).tolist(),
            "o_orderstatus": rng.choice(STATUSES, no).tolist(),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2).tolist(),
            "o_orderdate": _days(odays),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
        t["lineitem"] = self._lineitem(rng, odays, price)
        t["documents"] = self._documents()
        return t

    def _lineitem(self, rng, odays, price) -> dict:
        npart, ns = self.scale["part"], self.scale["supplier"]
        n = rng.integers(1, 8, len(odays))
        okey = np.repeat(np.arange(len(odays)), n)
        # line numbers 1..n per order
        line = np.arange(len(okey)) - np.repeat(np.cumsum(n) - n, n) + 1
        # about one order in seven carries a re-sent line image, the
        # duplicate-key shape the bronze dedup resolves
        dup_orders = np.flatnonzero(rng.random(len(odays)) < 0.15)
        dup_line = (rng.random(len(dup_orders)) * n[dup_orders]).astype(np.int64) + 1
        okey = np.concatenate([okey, dup_orders])
        line = np.concatenate([line, dup_line])
        order = np.lexsort((line, okey))
        okey, line = okey[order], line[order]
        m = len(okey)
        pk = rng.integers(0, npart, m)
        qty = rng.integers(1, 51, m).astype(np.float64)
        ship = odays[okey] + rng.integers(1, 122, m)
        return {
            "l_orderkey": okey.tolist(),
            "l_partkey": pk.tolist(),
            "l_suppkey": rng.integers(0, ns, m).tolist(),
            "l_linenumber": line.tolist(),
            "l_quantity": qty.tolist(),
            "l_extendedprice": np.round(qty * price[pk], 2).tolist(),
            "l_discount": (rng.integers(0, 11, m) / 100).round(2).tolist(),
            "l_tax": (rng.integers(0, 9, m) / 100).round(2).tolist(),
            "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
            "l_linestatus": rng.choice(["F", "O"], m).tolist(),
            "l_shipdate": _days(ship),
        }

    def _documents(self) -> dict:
        rng = _rng(self.seed, 1)
        self.vocab = _vocab(rng, 600)
        # Zipf-like word frequencies, as in natural text
        w = 1.0 / np.arange(1, len(self.vocab) + 1)
        self.word_p = w / w.sum()
        nd = self.scale["documents"]
        texts = [self._text(rng) for _ in range(nd)]
        return {
            "doc_id": list(range(nd)),
            "text": texts,
            "lang": rng.choice(LANGS, nd).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": [len(x) for x in texts],
        }

    def _text(self, rng, n: int | None = None) -> str:
        n = int(rng.integers(20, 90)) if n is None else n
        return " ".join(rng.choice(self.vocab, size=n, p=self.word_p))

    def write(self, out_dir: str, tables=None) -> dict[str, int]:
        """Write ``<table>.parquet`` files; returns bytes written per table."""
        os.makedirs(out_dir, exist_ok=True)
        sizes = {}
        for name in tables or self.tables:
            path = os.path.join(out_dir, f"{name}.parquet")
            write_parquet(self.tables[name], name, path)
            sizes[name] = os.path.getsize(path)
        return sizes


def _rows(cols: dict) -> list[dict]:
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())]


def _columns(rows: list[dict], table: str) -> dict:
    return {c: [r[c] for r in rows] for c in SCHEMAS[table].names}


class OrderBatches:
    """Order micro-batches: price/priority edits of recent orders, customer
    reassignments of recent orders, and brand-new order keys."""

    def __init__(self, src: SourceData):
        self.seed = src.seed
        self.n_cust = src.scale["customer"]
        self.current = {r["o_orderkey"]: r for r in _rows(src.tables["orders"])}
        self.next_key = max(self.current) + 1
        # "recent" = the latest fifth of order dates: a real batch clusters
        # in current dates, which is what lets month/year scopes prune
        cutoff = FIRST_DAY + dt.timedelta(days=int(N_DAYS * 0.8))
        self.recent = sorted(k for k, r in self.current.items() if r["o_orderdate"] >= cutoff)
        self.n = 0

    def next(self) -> tuple[dict, dict]:
        """Return (columns, properties) of the next batch."""
        rng = _rng(self.seed, 2, self.n)
        self.n += 1
        picked = rng.choice(self.recent, ORDER_EDITS + ORDER_REASSIGNS, replace=False)
        rows = []
        for k in picked[:ORDER_EDITS]:
            r = dict(self.current[int(k)])
            r["o_totalprice"] = round(r["o_totalprice"] * float(rng.uniform(0.8, 1.2)), 2)
            r["o_orderpriority"] = str(rng.choice(PRIORITIES))
            rows.append(r)
        for k in picked[ORDER_EDITS:]:
            r = dict(self.current[int(k)])
            r["o_custkey"] = (r["o_custkey"] + int(rng.integers(1, self.n_cust))) % self.n_cust
            rows.append(r)
        for _ in range(ORDER_NEW):
            rows.append(
                {
                    "o_orderkey": self.next_key,
                    "o_custkey": int(rng.integers(0, self.n_cust)),
                    "o_orderstatus": "O",
                    "o_totalprice": round(float(rng.uniform(1000.0, 500000.0)), 2),
                    "o_orderdate": _days([N_DAYS - int(rng.integers(0, 60))])[0],
                    "o_orderpriority": str(rng.choice(PRIORITIES)),
                }
            )
            self.recent.append(self.next_key)
            self.next_key += 1
        for r in rows:
            self.current[r["o_orderkey"]] = r
        n = len(rows)
        props = {
            "rows": n,
            "edit_share": ORDER_EDITS / n,
            "reassign_share": ORDER_REASSIGNS / n,
            "new_key_share": ORDER_NEW / n,
        }
        return _columns(rows, "orders"), props

    def final_orders(self) -> dict:
        """Raw orders after every landed batch (one image per key)."""
        return _columns([self.current[k] for k in sorted(self.current)], "orders")


class DocBatches:
    """Document micro-batches: held-out arrivals plus edits of existing
    documents that both drop and add tokens (complete new images)."""

    def __init__(self, src: SourceData):
        self.seed = src.seed
        self.src = src
        docs = _rows(src.tables["documents"])
        self.current = {r["doc_id"]: r for r in docs if r["doc_id"] % DOC_ARRIVAL_MOD}
        self.pending = [r for r in docs if r["doc_id"] % DOC_ARRIVAL_MOD == 0]
        self.n = 0

    def _edit(self, rng, doc: dict) -> tuple[dict, bool]:
        toks = doc["text"].split(" ")
        # drop a span, then splice in fresh words (some new to the doc)
        start = int(rng.integers(0, len(toks)))
        span = int(rng.integers(1, min(8, len(toks) - start) + 1))
        kept = toks[:start] + toks[start + span :]
        new = self.src._text(rng, int(rng.integers(1, 9))).split(" ")
        at = int(rng.integers(0, len(kept) + 1))
        toks2 = kept[:at] + new + kept[at:]
        text = " ".join(toks2)
        drops = bool(set(toks) - set(toks2))
        return dict(doc, text=text, n_chars=len(text)), drops

    def next(self) -> tuple[dict, dict]:
        rng = _rng(self.seed, 3, self.n)
        self.n += 1
        rows = self.pending[:DOC_ARRIVALS]
        self.pending = self.pending[DOC_ARRIVALS:]
        n_drop = 0
        for k in rng.choice(sorted(self.current), DOC_EDITS, replace=False):
            row, drops = self._edit(rng, self.current[int(k)])
            rows.append(row)
            n_drop += drops
        for r in rows:
            self.current[r["doc_id"]] = r
        n = len(rows)
        props = {
            "rows": n,
            "arrival_share": (n - DOC_EDITS) / n,
            "edit_share": DOC_EDITS / n,
            "token_drop_share": n_drop / n,
        }
        return _columns(rows, "documents"), props

    def final_documents(self) -> dict:
        """The corpus after every landed batch."""
        return _columns([self.current[k] for k in sorted(self.current)], "documents")
