"""Seeded inputs for the benchmark workloads.

Two kinds of input, both a pure function of the workload seed:

* ``write_tables`` writes the tables the workload's registered queries
  and index builds read, with the column names, types and value shapes of
  the engine's standard test data (TESTDATA.md). Sizes are fixed by
  ``TABLE_ROWS``; the queries are bound by driver scheduling at these
  sizes, so larger inputs would only lengthen a run.
* ``EtlModel`` generates API-shaped record batches for the ingest
  workload and keeps an independent Python model of what the loaded
  table must hold after every step.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_ROWS = {
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 1000,
    "events": 10000,
    "embeddings": 500,
}

#: Written as a directory of parquet files, the layout a streaming source
#: reads directly (``streaming.runner.events_stream`` would otherwise link
#: a single file into a fixed scratch directory).
_DIR_TABLES = ("events",)
_EVENT_USERS = 150
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_EMBED_DIM = 64

_VOCAB = (
    "a the data row column table key value join group sort filter hash "
    "merge scan agg window stream batch spark query line part order "
    "customer vector big small fast slow"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]


def _ts(base: str, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    out = {
        "nation": pa.table({
            "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n["nation"])],
            "n_regionkey": pa.array(
                [i % 5 for i in range(n["nation"])], pa.int32()
            ),
        }),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, n["nation"], nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, n["nation"], ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    day = 86_400 * 10**6
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, no) * day),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, nl) * day),
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        words = list(rng.choice(_VOCAB, int(rng.integers(10, 101))))
        if i % 20 == 11:
            words.append("dup")
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    ne = n["events"]
    # strictly increasing stamps, so (user_id, ts) is unique
    gaps = rng.integers(1, 2 * 30 * day // ne, ne)
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, _EVENT_USERS, ne, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": _money(rng, 0, 50, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, _EMBED_DIM), dtype=np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype=np.int32),
    })
    return out


def embeddings(root: str) -> np.ndarray:
    """The embedding vectors written under ``root``, in ``vec_id`` order."""
    t = pq.read_table(os.path.join(root, "embeddings.parquet"))
    return np.array(t["embedding"].to_pylist(), dtype=np.float64)


def write_tables(seed: int, root: str) -> None:
    """Write the query inputs under ``root``: one parquet file a table, or
    a directory holding one file for the tables of ``_DIR_TABLES``."""
    os.makedirs(root, exist_ok=True)
    for name, table in _tables(seed).items():
        path = os.path.join(root, f"{name}.parquet")
        if name in _DIR_TABLES:
            os.makedirs(path)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(table, path)


def duckdb_views(con, root: str) -> None:
    """Register every input table as a DuckDB view of the same files."""
    for name in TABLE_ROWS:
        path = os.path.join(root, f"{name}.parquet")
        if name in _DIR_TABLES:
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}')"
        )


# --- ingest records ------------------------------------------------------

#: The sanitized column names the loaded table must carry, written out for
#: the generator's key vocabulary (FIXTURES.md section 2.1 rules: leading
#: digit gets ``_``, ``.`` and space become ``_``, anything else outside
#: ``[A-Za-z0-9_]`` is dropped).
EXPECTED_COLUMNS = {
    "id": None,
    "_1st_touch": None,
    "contact_email": None,
    "updated_at": None,
    "amount": None,
    "is_active": None,
    "region": None,
    "contact_info": ("e_mail", "_2nd_phone"),
    "line_items": ("qty", "sku_id"),
    "promo_code": None,
}

_TOUCH = ["web", "mail", "ads", "partner"]
_AREAS = ["north", "south", "east", "west"]


class EtlModel:
    """Record batches for one ingest pass plus the expected table state.

    Batch ``b`` holds ids ``[b * batch_rows, (b + 1) * batch_rows)``; its
    ``updated at`` stamps are later than every stamp of batch ``b - 1``.
    ``promo code`` first appears in batch 1 (add-only evolution). Amounts
    are integers so that every sum is exact."""

    def __init__(self, seed: int, batches: int, batch_rows: int):
        self.rng = np.random.default_rng(seed)
        self.batch_rows = batch_rows
        self.batches = [self._batch(b) for b in range(batches)]
        self.rows: dict[int, dict] = {}  # id -> {"amount": expected amount}
        self.max_updated = max(
            r["updated at"] for batch in self.batches for r in batch
        )
        n_total = batches * batch_rows
        # upsert source: every 5th loaded id (matched) plus new ids
        matched = range(0, n_total, 5)
        fresh = range(n_total, n_total + batch_rows // 2)
        self.upsert_source = [
            self._record(i, batches, with_promo=True)
            for i in (*matched, *fresh)
        ]
        self.upsert_matched = len(matched)

    def _stamp(self, batch: int, i: int) -> str:
        base = dt.datetime(2024, 1, 1) + dt.timedelta(days=batch)
        t = base + dt.timedelta(seconds=int(self.rng.integers(0, 86_000)))
        return t.strftime("%Y-%m-%d %H:%M:%S")

    def _record(self, i: int, batch: int, with_promo: bool) -> dict:
        rng = self.rng
        kind = i % 4
        if kind == 0:
            items = None
        elif kind == 1:
            items = []
        else:
            items = [
                {"sku id": f"sku-{int(rng.integers(0, 500))}",
                 "qty!": int(rng.integers(1, 20))}
                for _ in range(int(rng.integers(1, 4)))
            ]
        rec = {
            "id": i,
            "1st touch": _TOUCH[int(rng.integers(0, len(_TOUCH)))],
            "contact.email": f"user{i}@example.com",
            "updated at": self._stamp(batch, i),
            "amount($)": int(rng.integers(1, 10_000)),
            "is active?": bool(rng.integers(0, 2)),
            "region🙂": _AREAS[int(rng.integers(0, len(_AREAS)))],
            "contact info": {
                "e.mail": f"u{i}@example.org",
                "2nd phone": f"555-{i % 10_000:04d}",
            },
            "line items": items,
        }
        if with_promo:
            rec["promo code"] = f"P{int(rng.integers(0, 50))}" if i % 3 else None
        return rec

    def _batch(self, b: int) -> list[dict]:
        lo = b * self.batch_rows
        return [
            self._record(i, b, with_promo=b > 0)
            for i in range(lo, lo + self.batch_rows)
        ]

    # --- expected state ----------------------------------------------
    def reset(self) -> None:
        self.rows = {}

    def apply_append(self, batch: list[dict]) -> None:
        for r in batch:
            self.rows[r["id"]] = {"amount": r["amount($)"]}

    def apply_upsert(self) -> None:
        self.apply_append(self.upsert_source)

    def apply_update(self, mod: int) -> int:
        hit = [k for k in self.rows if k % mod == 0]
        for k in hit:
            self.rows[k]["amount"] += 1
        return len(hit)

    def apply_delete(self, mod: int, rem: int) -> int:
        hit = [k for k in self.rows if k % mod == rem]
        for k in hit:
            del self.rows[k]
        return len(hit)

    def state(self) -> tuple[int, int, frozenset]:
        """(row count, exact amount sum, key set)."""
        keys = frozenset(self.rows)
        return len(keys), sum(r["amount"] for r in self.rows.values()), keys
