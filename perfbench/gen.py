"""Seeded input generation for the benchmark (no Spark).

Everything the engine sees is written here: DMS-shaped landing files
(headerless positional CSV, ``LOADnnnnnnnn.csv`` for the full load and
``2YYYYMMDD-nnnnnnnnn.csv`` for CDC files with the op column first) and
the corpus workload's document batches and embeddings, taken in a seeded
order from the repository's test documents and embeddings under ``data/``.

The generator also keeps the EXPECTED state of every DMS table: each CDC
file it emits is applied to a pandas frame with the same latest-wins
rule the paper's MERGE implements (last op per key in file order wins;
``D`` of an absent key is a no-op; ``U`` of an absent key inserts). The
check after the run compares the engine's table against that frame with
an order-independent hash, so no engine code takes part in the check.

The same seed gives byte-identical files: every random draw comes from a
``numpy`` generator seeded with ``(seed, table, file)``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# column types: "long", "int", "double" (two decimals), "string", "date"
SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "long"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "long"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "long"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "date"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "long"),
        ("l_partkey", "long"),
        ("l_suppkey", "long"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "date"),
    ],
}

PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}

_TABLE_IDS = {name: i for i, name in enumerate(SCHEMAS)}
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_TYPES = np.array(["ECONOMY ANODIZED STEEL", "LARGE BRUSHED BRASS", "SMALL PLATED COPPER",
                   "PROMO POLISHED TIN", "STANDARD BURNISHED NICKEL"])
_WORDS = np.array(["almond", "azure", "blush", "chiffon", "coral", "cream", "forest",
                   "ghost", "honeydew", "ivory", "lace", "linen", "misty", "navy"])
_DAY0 = np.datetime64("1992-01-01")
CHANGE_FRAC = 0.01  # share of a table's rows one CDC file changes


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _money(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """Two-decimal doubles, drawn as integer cents, so sums in cents are
    exact on both sides of the check."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, 2400, n)
    return np.datetime_as_string(_DAY0 + days.astype("timedelta64[D]"), unit="D").astype(object)


def _labels(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.array([f"{prefix}#{k:09d}" for k in keys], dtype=object)


def make_rows(table: str, keys: np.ndarray, rng: np.random.Generator,
              sizes: dict[str, int]) -> pd.DataFrame:
    """Rows of ``table`` for primary keys ``keys`` (for lineitem, ``keys``
    is the encoded ``orderkey * 8 + linenumber``)."""
    n = len(keys)
    n_cust = max(sizes.get("customer", 1500), 1)
    n_part = max(sizes.get("part", 2000), 1)
    n_supp = max(sizes.get("supplier", 100), 1)
    if table == "region":
        cols = {"r_regionkey": keys.astype(np.int64), "r_name": _labels("REGION", keys)}
    elif table == "nation":
        cols = {"n_nationkey": keys.astype(np.int64), "n_name": _labels("NATION", keys),
                "n_regionkey": rng.integers(0, 5, n)}
    elif table == "customer":
        cols = {"c_custkey": keys, "c_name": _labels("Customer", keys),
                "c_nationkey": rng.integers(0, 25, n),
                "c_acctbal": _money(rng, n, -999, 9999),
                "c_mktsegment": rng.choice(_SEGMENTS, n).astype(object)}
    elif table == "supplier":
        cols = {"s_suppkey": keys, "s_name": _labels("Supplier", keys),
                "s_nationkey": rng.integers(0, 25, n),
                "s_acctbal": _money(rng, n, -999, 9999)}
    elif table == "part":
        w = rng.choice(_WORDS, (n, 2))
        cols = {"p_partkey": keys,
                "p_name": np.array([f"{a} {b}" for a, b in w], dtype=object),
                "p_brand": np.array([f"Brand#{i}" for i in rng.integers(11, 56, n)], dtype=object),
                "p_type": rng.choice(_TYPES, n).astype(object),
                "p_size": rng.integers(1, 51, n),
                "p_retailprice": _money(rng, n, 900, 2100)}
    elif table == "orders":
        cols = {"o_orderkey": keys, "o_custkey": rng.integers(1, n_cust + 1, n),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n).astype(object),
                "o_totalprice": _money(rng, n, 800, 500000),
                "o_orderdate": _dates(rng, n),
                "o_orderpriority": rng.choice(_PRIORITIES, n).astype(object)}
    elif table == "lineitem":
        qty = rng.integers(1, 51, n)
        cols = {"l_orderkey": keys // 8, "l_partkey": rng.integers(1, n_part + 1, n),
                "l_suppkey": rng.integers(1, n_supp + 1, n),
                "l_linenumber": keys % 8,
                "l_quantity": qty.astype(np.float64),
                "l_extendedprice": _money(rng, n, 900, 100000),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n).astype(object),
                "l_linestatus": rng.choice(np.array(["F", "O"]), n).astype(object),
                "l_shipdate": _dates(rng, n)}
    else:
        raise ValueError(f"unknown table {table!r}")
    df = pd.DataFrame(cols)
    for name, typ in SCHEMAS[table]:
        if typ in ("long", "int"):
            df[name] = df[name].astype(np.int64)
    return df[[c for c, _ in SCHEMAS[table]]]


def initial_keys(table: str, rows: int) -> np.ndarray:
    """Primary keys of the first load. Lineitem has 1-7 lines per order,
    encoded as ``orderkey * 8 + linenumber``."""
    if table in ("region", "nation"):
        return np.arange(rows, dtype=np.int64)
    if table != "lineitem":
        return np.arange(1, rows + 1, dtype=np.int64)
    lines = 1 + (np.arange(rows // 4 + 1) * 7919) % 7
    orderkeys = np.repeat(np.arange(1, len(lines) + 1), lines)[:rows]
    first = np.r_[0, np.flatnonzero(np.diff(orderkeys)) + 1]
    linenos = np.arange(rows) - np.repeat(first, np.diff(np.r_[first, rows])) + 1
    return orderkeys.astype(np.int64) * 8 + linenos


def encode_keys(table: str, df: pd.DataFrame) -> np.ndarray:
    if table == "lineitem":
        return df["l_orderkey"].to_numpy(np.int64) * 8 + df["l_linenumber"].to_numpy(np.int64)
    return df[PRIMARY_KEYS[table][0]].to_numpy(np.int64)


def write_csv(df: pd.DataFrame, path: str) -> int:
    """Headerless positional CSV, unquoted (no value holds a comma);
    doubles print in their shortest exact form. Returns bytes written."""
    import pyarrow as pa
    import pyarrow.csv as pcsv

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pcsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), path,
                   write_options=pcsv.WriteOptions(include_header=False, quoting_style="none"))
    return os.path.getsize(path)


@dataclass
class DmsTable:
    """One landed DMS table and its expected state (indexed by encoded key)."""

    schema: str
    table: str
    state: pd.DataFrame
    next_key: int
    files: list[str] = field(default_factory=list)

    @property
    def full_path(self) -> str:
        return f"{self.schema}/{self.table}"

    @property
    def target(self) -> str:
        return f"{self.schema}_{self.table}"


class DmsLanding:
    """Writes a DMS landing area under ``stage`` and tracks expected state.

    ``band`` (a fraction of the key space, or None) makes each CDC file's
    updates and deletes hit a narrow band of existing keys that drifts by
    half a band per file — the clustered-table case; inserts always take
    new keys above the current maximum."""

    def __init__(self, stage: str, seed: int, tables: list[tuple[str, str]],
                 sizes: dict[str, int], band: float | None = None):
        self.stage = stage
        self.seed = seed
        self.sizes = sizes
        self.band = band
        self.n_files = 0
        self.tables: list[DmsTable] = []
        for i, (schema, table) in enumerate(tables):
            keys = initial_keys(table, sizes[table])
            df = make_rows(table, keys, _rng(seed, i, _TABLE_IDS[table], 0), sizes)
            df.index = keys
            top = int(keys.max()) // 8 if table == "lineitem" else int(keys.max())
            self.tables.append(DmsTable(schema, table, df, top + 1))

    def table_dir(self, t: DmsTable) -> str:
        return os.path.join(self.stage, t.schema, t.table)

    def write_full_load(self) -> tuple[int, int]:
        """``LOAD00000001.csv`` per table; returns (rows, bytes)."""
        rows = nbytes = 0
        for t in self.tables:
            p = os.path.join(self.table_dir(t), "LOAD00000001.csv")
            nbytes += write_csv(t.state, p)
            rows += len(t.state)
            t.files.append(p)
        return rows, nbytes

    def _changes(self, t: DmsTable, rng: np.random.Generator) -> pd.DataFrame:
        keys = t.state.index.to_numpy()
        n = max(1, int(round(CHANGE_FRAC * len(keys))))
        small = t.table in ("region", "nation")
        n_ins = 0 if small else max(1, n // 4)
        n_del = 0 if small else max(1, n // 4)
        n_upd = max(1, n - n_ins - n_del)
        pool = np.sort(keys)
        if self.band is not None:
            width = max(n_upd + n_del, int(self.band * len(pool)))
            start = int((self.n_files * width // 2) % max(1, len(pool) - width))
            pool = pool[start:start + width]
        picked = rng.choice(pool, min(len(pool), n_upd + n_del), replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        if t.table == "lineitem":
            new_orders = t.next_key + np.arange((n_ins + 2) // 3)
            ins = (new_orders[:, None] * 8 + np.arange(1, 4)[None, :]).ravel()[:n_ins]
            t.next_key = int(new_orders.max()) + 1 if n_ins else t.next_key
        else:
            ins = t.next_key + np.arange(n_ins)
            t.next_key += n_ins
        # a few keys change twice in one file: latest-wins inside a file
        twice = upd[: max(0, n_upd // 20)]
        parts = []
        for op, ks in (("I", ins), ("U", upd), ("D", dele), ("U", twice)):
            if len(ks) == 0:
                continue
            rows = make_rows(t.table, np.asarray(ks, dtype=np.int64), rng, self.sizes)
            if op == "D":  # DMS writes the before-image of a delete
                rows = t.state.loc[ks].reset_index(drop=True)
            rows.insert(0, "op", op)
            parts.append(rows)
        return pd.concat(parts, ignore_index=True)

    def write_cdc(self) -> tuple[int, int]:
        """One CDC file per table; applies it to the expected state.
        Returns (change rows, bytes)."""
        self.n_files += 1
        day = str(np.datetime64("2024-01-01") + np.timedelta64(self.n_files, "D"))
        name = f"{day.replace('-', '')}-{self.n_files:09d}.csv"
        rows = nbytes = 0
        for i, t in enumerate(self.tables):
            ch = self._changes(t, _rng(self.seed, i, _TABLE_IDS[t.table], self.n_files))
            p = os.path.join(self.table_dir(t), name)
            nbytes += write_csv(ch, p)
            rows += len(ch)
            t.files.append(p)
            self._apply(t, ch)
        return rows, nbytes

    @staticmethod
    def _apply(t: DmsTable, ch: pd.DataFrame) -> None:
        last = ch.assign(_k=encode_keys(t.table, ch)).drop_duplicates("_k", keep="last")
        keep = last[last["op"] != "D"].drop(columns="op").set_index("_k")
        keep.index.name = None
        st = t.state.drop(index=last["_k"].to_numpy(), errors="ignore")
        t.state = pd.concat([st, keep[st.columns]])


def state_hash(df: pd.DataFrame, columns: list[tuple[str, str]]) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes mod 2^64) over the
    canonical form of ``df``: integers as int64, doubles as float64,
    strings and dates as text."""
    canon = {}
    for name, typ in columns:
        col = df[name]
        if typ in ("long", "int"):
            canon[name] = col.astype(np.int64).to_numpy()
        elif typ == "double":
            canon[name] = col.astype(np.float64).to_numpy()
        else:
            canon[name] = col.astype(str).to_numpy(dtype=object)
    h = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False).to_numpy(np.uint64)
    with np.errstate(over="ignore"):
        return len(df), int(h.sum(dtype=np.uint64))


# ---------------------------------------------------------------- corpus

# The corpus workload's documents (5000) and embeddings (2000, 64-dim unit
# vectors) are the repository's sf0.1 test tables, committed unchanged
# under data/; a seed only picks their order.
CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def corpus_documents(seed: int) -> pd.DataFrame:
    """Every sample document (``doc_id``, ``text``, ``lang``) in the seed's order.

    The sample's near-copies (477 of its 5000 documents, in 256 pairs)
    share their first six words. The order shuffles these groups, not
    single documents, so a group lands together; in a plain shuffle, the
    pairs within a prefix shrink with the square of its length. Groups of
    near-copies and single documents are shuffled apart and then spread
    evenly over the order, so every landed prefix holds the sample's
    near-copy rate for every seed, and the near-dup pass does the same
    amount of work whatever the seed."""
    df = pd.read_parquet(os.path.join(CORPUS_DIR, "documents.parquet"), columns=["doc_id", "text", "lang"])
    group = df["text"].str.split().str[:6].str.join(" ").factorize()[0]
    sizes = np.bincount(group)
    rng = _rng(seed, 100)
    slot = np.empty(len(sizes))
    for kind in (sizes > 1, sizes == 1):
        ids = rng.permutation(np.flatnonzero(kind))
        slot[ids] = (np.arange(len(ids)) + 0.5) / len(ids)
    return df.assign(_r=slot[group]).sort_values(["_r", "doc_id"]).drop(columns="_r").reset_index(drop=True)


def corpus_embeddings(seed: int, n: int) -> pd.DataFrame:
    """``n`` sample embeddings picked by the seed, in ``vec_id`` order."""
    df = pd.read_parquet(os.path.join(CORPUS_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"])
    return df.iloc[np.sort(_rng(seed, 200).permutation(len(df))[:n])].reset_index(drop=True)


def write_parquet(df: pd.DataFrame, path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    fields = []
    for c in df.columns:
        if c == "embedding":
            fields.append(pa.field(c, pa.list_(pa.float32())))
        elif df[c].dtype == np.int64:
            fields.append(pa.field(c, pa.int64()))
        else:
            fields.append(pa.field(c, pa.string()))
    pq.write_table(pa.Table.from_pandas(df, schema=pa.schema(fields), preserve_index=False), path)
    return os.path.getsize(path)
