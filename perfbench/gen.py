"""Seeded input generators for the workloads.

Everything the program under test sees is made here from the run's seed:
the lake tables the queries read (a TPC-H-like ``customer``/``orders``/
``lineitem`` plus ``events`` and ``documents``, in the schemas the engine's
query catalog expects), the
landing directories of the ingest→merge pipeline, and the change sets,
key ranges and read ranges of the versioned-DML rotation.  The same seed
always yields byte-identical inputs.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131 * _US_PER_DAY  # 1995-01-01 in microseconds since 1970
_EPOCH_2024 = 19723 * _US_PER_DAY  # 2024-01-01
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a the spark hash window stream batch part line column order small sort "
    "fast value scan slow group agg filter query big key row table merge data "
    "join vector customer"
).split()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _choice(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


SF = 0.1  # scale factor of the lake: 600k lineitem rows
LAKE_TABLES = ("customer", "orders", "lineitem", "events", "documents")


def lake_tables(out: Path, seed: int, tables=LAKE_TABLES) -> Path:
    """Write the lake tables named in ``tables`` under ``out``; each table
    draws from its own seeded stream, so a subset holds the same rows as
    the full set."""
    out.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(LAKE_TABLES):
        if name in tables:
            _write(out, name, _TABLE_GEN[name](np.random.default_rng([seed, 1, i])))
    return out


def _n(base: int) -> int:
    """Rows of a table whose scale-factor-1 size is ``base``."""
    return int(base * SF)


def _gen_customer(rng):
    n = _n(150_000)
    return {
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": _choice(rng, _SEGMENTS, n),
    }


def _gen_orders(rng):
    n = _n(1_500_000)
    return {
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, _n(150_000), n).astype("int64")),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n) * _US_PER_DAY),
        "o_orderpriority": _choice(rng, _PRIORITIES, n),
    }


def _gen_lineitem(rng):
    n = _n(6_000_000)
    return {
        "l_orderkey": pa.array(rng.integers(0, _n(1_500_000), n).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, _n(200_000), n).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, _n(10_000), n).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, n) * _US_PER_DAY),
    }


def _gen_events(rng):
    n = _n(1_000_000)
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n))),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n).astype("int64")),
        "event_type": _choice(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _gen_documents(rng):
    n = _n(50_000)
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(w))]) for w in rng.integers(8, 100, n)]
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


_TABLE_GEN = {name: globals()[f"_gen_{name}"] for name in LAKE_TABLES}


# -- pipeline_analytics: landing files -------------------------------------

#: (format, stem, keyed) for every landing file of one round.  Keyed files
#: carry ``id`` and merge by MERGE; the others merge by INSERT OVERWRITE.
LANDING = (
    ("csv", "orders", True),
    ("csv", "wide", False),
    ("json", "products", True),
    ("parquet", "accounts", True),
    ("txt", "notes", False),
)
WIDE_COLS, WIDE_ROWS = 2000, 100  # the reference's 4,450 x 50k CSV, scaled to the run budget (README)


def landing_round(
    out: Path, seed: int, rnd: int, rows: int, key_space: int, full: bool = False
) -> dict[str, tuple[int, int]]:
    """Write one landing directory; return, per table, the rows it lands
    in the staging database and the rows its target must hold after the
    round has merged.

    Keyed tables draw ``rows`` distinct ids out of ``key_space``; the
    ``full`` round (set-up's CTAS) lands every id, so after it every keyed
    target holds exactly ``key_space`` rows and later rounds update in
    place.  Unkeyed tables are overwritten with the round's rows."""
    rng = np.random.default_rng([seed, 2, rnd])
    expect: dict[str, tuple[int, int]] = {}
    for fmt, stem, keyed in LANDING:
        n = key_space if (keyed and full) else rows
        if stem == "wide":
            n = WIDE_ROWS
        cols: dict[str, np.ndarray] = {}
        if keyed:
            ids = np.arange(key_space) if full else rng.choice(key_space, n, replace=False)
            cols["id"] = ids.astype("int64")
        if stem == "wide":
            block = rng.integers(0, 10_000, (n, WIDE_COLS))
            for j in range(WIDE_COLS):
                cols[f"c{j:04d}"] = block[:, j]
        else:
            cols["name"] = np.asarray([f"{stem}_{i}" for i in rng.integers(0, 1_000_000, n)], dtype=object)
            cols["qty"] = rng.integers(0, 1000, n).astype("int64")
            cols["price"] = np.round(rng.uniform(0, 1000, n), 2)
            cols["ts"] = np.asarray(
                [f"2024-01-{d:02d}T{h:02d}:00:00" for d, h in zip(rng.integers(1, 29, n), rng.integers(0, 24, n))],
                dtype=object,
            )
        folder = out / ("docx" if fmt == "txt" else fmt)
        folder.mkdir(parents=True, exist_ok=True)
        path = folder / f"{stem}.{fmt}"
        if fmt == "csv":
            with open(path, "wb") as f:
                f.write((",".join(cols) + "\n").encode())
                pcsv.write_csv(pa.table(cols), f, pcsv.WriteOptions(include_header=False, quoting_style="none"))
        elif fmt == "json":
            recs = [
                {k: (v.item() if hasattr(v, "item") else v) for k, v in zip(cols, row)}
                for row in zip(*cols.values())
            ]
            path.write_text("[\n" + ",\n".join(map(json.dumps, recs)) + "\n]\n")  # one record a line
        elif fmt == "parquet":
            pq.write_table(pa.table({k: pa.array(v) for k, v in cols.items()}), path)
        else:
            path.write_text("\n".join(f"{a} {b} {c}" for a, b, c in zip(cols["name"], cols["qty"], cols["ts"])) + "\n")
        table = f"{'text' if fmt == 'txt' else fmt}_{stem}"
        expect[table] = (n, key_space if keyed else n)
    return expect


# -- lakehouse_dml ----------------------------------------------------------


class DmlPlan:
    """Seeded change sets of the versioned-DML rotation, drawn against a
    model of the table's live keys so that every op does work and the live
    row count stays fixed.

    The base table holds every order key except ``k % 4 == 3`` (the
    holes).  Each round the upsert updates the live keys of one window and
    fills its holes, the delete removes those same holes again, and the
    apply batch updates keys ``% 4 == 0`` of a second window, deletes
    ``apply_rows`` live keys ``% 4 == 1`` there and re-inserts the keys the
    previous round's apply deleted."""

    def __init__(self, orders: pa.Table, seed: int, window: int, apply_rows: int, read_rows: int):
        self.rng = np.random.default_rng([seed, 3])
        self.orders = orders
        self.n = orders.num_rows
        self.window, self.apply_rows, self.read_rows = window, apply_rows, read_rows
        keys = np.arange(self.n)
        self.live = set(keys[keys % 4 != 3].tolist())
        self.deleted: list[int] = []

    def base(self) -> pa.Table:
        return self.orders.filter(pc.not_equal(pc.bit_wise_and(self.orders["o_orderkey"], 3), 3))

    def _rows(self, keys: list[int], price_scale: float) -> pa.Table:
        t = self.orders.take(pa.array(sorted(keys), type=pa.int64()))
        price = pc.round(pc.multiply(t["o_totalprice"], price_scale), 2)
        return t.set_column(t.schema.get_field_index("o_totalprice"), "o_totalprice", price)

    def _window(self) -> tuple[int, int]:
        lo = int(self.rng.integers(0, (self.n - self.window) // 4)) * 4
        return lo, lo + self.window - 1

    def next_round(self, out: Path) -> dict:
        """Write this round's change sets under ``out``; return the op
        arguments and the change counts each op must produce."""
        out.mkdir(parents=True, exist_ok=True)
        live = self.live
        lo, hi = self._window()
        upd = [k for k in range(lo, hi + 1) if k in live]
        ins = [k for k in range(lo, hi + 1) if k % 4 == 3]
        pq.write_table(self._rows(upd + ins, 1.0 + float(self.rng.uniform(0.01, 0.5))), out / "upsert.parquet")
        a_lo, a_hi = self._window()
        a_upd = [k for k in range(a_lo, a_hi + 1) if k % 4 == 0 and k in live]
        cand = [k for k in range(a_lo, a_hi + 1) if k % 4 == 1 and k in live]
        a_del = sorted(self.rng.choice(cand, self.apply_rows, replace=False).tolist())
        a_ins = self.deleted
        changes = pa.concat_tables([
            self._rows(keys, scale).append_column("op", pa.array([op] * len(keys), pa.string()))
            for op, keys, scale in (("U", a_upd, 0.9), ("D", a_del, 1.0), ("I", a_ins, 1.0))
        ])
        pq.write_table(changes, out / "apply.parquet")
        live.difference_update(a_del)
        live.update(a_ins)
        self.deleted = a_del
        r_lo = int(self.rng.integers(0, self.n - self.read_rows))
        r_hi = r_lo + self.read_rows - 1
        return {
            "dir": out,
            "upsert": {"update_postimage": len(upd), "insert": len(ins)},
            "delete_range": (lo, hi),
            "delete": {"delete": len(ins)},
            "apply_range": (a_lo, a_hi),
            "apply": {"update_postimage": len(a_upd), "delete": len(a_del), "insert": len(a_ins)},
            "read_range": (r_lo, r_hi),
            "read_rows": sum(1 for k in range(r_lo, r_hi + 1) if k in live),
            "live_rows": len(live),
        }
