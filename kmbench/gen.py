"""Seeded, hermetic input generator for the benchmark.

Everything here is a pure function of ``seed`` and the requested sizes: the
same seed gives byte-identical files, a different seed gives different ones,
and nothing is read from outside the output directory. Two kinds of input:

- points files in the reference engine's ``"x, y"`` text format (one point per
  line, coordinates joined by ``", "``), parsed by
  ``sources.points_txt.read_points_txt``;
- the ten parquet tables the registered queries read (``sources.TABLE_SCHEMAS``),
  shaped like the TPC-H-style test tables: uniform keys, TIMESTAMP(us)
  wall-clock dates, 2-decimal money, a 31-word document vocabulary with ~5 %
  exact duplicates marked ``" dup"``, and unit-norm 64-d embeddings weakly
  clustered by label.

Only numpy and pyarrow are used, so generation costs no Spark time and stays
out of the benchmark's ``setup_s``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Coordinates are written fixed-width "ddd.dddd" (7 digits, value in [0, 1000)),
# so a line is assembled by integer arithmetic into one byte matrix instead of
# per-number string formatting.
_FIELD = 8  # "ddd.dddd"
_SEP = b", "


def points_matrix(n: int, dim: int, seed: int) -> np.ndarray:
    """The integer coordinates (units of 1e-4) that ``write_points`` writes."""
    rng = np.random.default_rng([seed, 0x504F494E])
    return rng.integers(0, 10_000_000, size=(n, dim), dtype=np.int64)


def write_points(path: str, n: int, dim: int, seed: int) -> int:
    """Write ``n`` uniform points of ``dim`` coordinates in ``"x, y"`` format.

    Returns the file size in bytes."""
    ints = points_matrix(n, dim, seed)
    stride = _FIELD + len(_SEP)
    width = dim * stride - len(_SEP) + 1  # last field ends in "\n"
    buf = np.empty((n, width), dtype=np.uint8)
    for d in range(dim):
        off = d * stride
        x = ints[:, d].copy()
        for pos in (7, 6, 5, 4, 2, 1, 0):
            buf[:, off + pos] = 48 + x % 10
            x //= 10
        buf[:, off + 3] = ord(".")
        if d < dim - 1:
            buf[:, off + _FIELD] = _SEP[0]
            buf[:, off + _FIELD + 1] = _SEP[1]
    buf[:, -1] = ord("\n")
    buf.tofile(path)
    return buf.size


# Table sizes per unit of scale; scale 1.0 matches the sf0.01 test tables.
_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMBED_DIM = 64
_DAY_US = 86_400 * 1_000_000


def _day(y: int, m: int, d: int) -> int:
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01")).astype(int))


def _dates(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    days = rng.integers(lo, hi + 1, size=n)
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)])


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rows = {t: max(1, int(round(n * scale))) for t, n in _ROWS.items()}

    def rng_for(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, n = rng_for(1), rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(r, n, -999.99, 9999.99),
            "c_mktsegment": _pick(r, _SEGMENTS, n),
        }
    )

    r, n = rng_for(2), rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(r, n, -999.99, 9999.99),
        }
    )

    r, n = rng_for(3), rows["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": _pick(r, names, n),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(r, _PART_TYPES, n),
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
        }
    )

    r, n = rng_for(4), rows["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, rows["customer"], n), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n),
            "o_totalprice": _money(r, n, 1000.0, 500000.0),
            "o_orderdate": _dates(r, n, _day(1995, 1, 1), _day(2001, 8, 1)),
            "o_orderpriority": _pick(r, _PRIORITIES, n),
        }
    )

    r, n = rng_for(5), rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, rows["orders"], n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, rows["part"], n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, rows["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(r, n, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n),
            "l_linestatus": _pick(r, ["F", "O"], n),
            "l_shipdate": _dates(r, n, _day(1995, 1, 2), _day(2001, 11, 4)),
        }
    )

    r, n = rng_for(6), rows["events"]
    start_us = _day(2024, 1, 1) * _DAY_US
    ts = np.sort(r.integers(0, 30 * _DAY_US, n)) + start_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
            "event_type": _pick(r, _EVENT_TYPES, n),
            "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )

    r, n = rng_for(7), rows["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 100)))]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(r, _LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r, n = rng_for(8), rows["embeddings"]
    labels = r.integers(0, 10, n)
    centers = r.normal(0.0, 1.0, (10, _EMBED_DIM))
    x = 0.15 * centers[labels] + r.normal(0.0, 1.0, (n, _EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
