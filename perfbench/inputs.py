"""Seeded input generators and their ground truth.

Every generator draws from ``numpy.random.default_rng(seed)`` only, writes
parquet with pyarrow, and computes the answer the engine must return with
numpy alone, so a check never trusts the engine it checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Set

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the key and tolerances of ``queries._li_compare``
LI_KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
LI_ABS_TOL = {"l_extendedprice": 0.01, "default": 0.0}


@dataclass
class CompareTruth:
    """What a compare of the generated pair must report."""

    common_rows: int
    df1_unique: int
    df2_unique: int
    unequal_rows: int
    # unequal count of every compared (non-key) common column
    unequal_by_column: Dict[str, int]


@dataclass
class ComparePair:
    left: str
    right: str
    join_columns: List[str]
    abs_tol: object
    truth: CompareTruth
    file_bytes: int = 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _write(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``
    so the scan has more than one split to parallelise over."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def lineitem_pair(seed: int, rows: int, out_dir: str, files: int = 4) -> ComparePair:
    """A ``lineitem``-shaped pair on the 4-column unique key.

    Each side drops its own seeded 2% of orders. The right side carries the
    four perturbation families of ``queries._li_pair``, each on a seeded
    share of rows: ``l_extendedprice`` + 0.001 (inside ``abs_tol``, so
    equal), ``l_tax`` + 0.5 (outside it), ``l_discount`` set to NULL and a
    lower-cased ``l_returnflag``.
    """
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=rows // 3 + 8)
    lines = lines[: np.searchsorted(np.cumsum(lines), rows) + 1]
    n_orders = len(lines)
    # sparse order keys, as TPC-H's
    okeys = np.sort(rng.choice(np.arange(1, 8 * n_orders), n_orders, replace=False))
    orderkey = np.repeat(okeys, lines)[:rows]
    linenumber = (
        np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines)[:rows] + 1
    ).astype(np.int32)
    n = len(orderkey)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    base = {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": (
            np.datetime64("1992-01-02") + rng.integers(0, 2526, n).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    }

    # each side loses a different seeded 2% of orders
    drop = rng.choice(okeys, size=2 * max(1, n_orders // 50), replace=False)
    half = len(drop) // 2
    in_left = ~np.isin(orderkey, drop[:half])
    in_right = ~np.isin(orderkey, drop[half:])

    within = rng.random(n) < 0.10
    nulled = rng.random(n) < 0.06
    outside = rng.random(n) < 0.09
    lowered = rng.random(n) < 0.08

    right = dict(base)
    right["l_extendedprice"] = np.where(within, base["l_extendedprice"] + 0.001, base["l_extendedprice"])
    right["l_tax"] = np.where(outside, base["l_tax"] + 0.5, base["l_tax"])
    right["l_returnflag"] = np.where(lowered, np.char.lower(base["l_returnflag"]), base["l_returnflag"])
    right_table = pa.table(right)
    right_table = right_table.set_column(
        right_table.schema.get_field_index("l_discount"),
        "l_discount",
        pa.array(base["l_discount"], mask=nulled),
    )

    left_path = os.path.join(out_dir, "left")
    right_path = os.path.join(out_dir, "right")
    _write(pa.table(base).filter(pa.array(in_left)), left_path, files)
    _write(right_table.filter(pa.array(in_right)), right_path, files)

    common = in_left & in_right
    unequal = {c: 0 for c in base if c not in LI_KEYS}
    unequal.update(
        l_discount=int((common & nulled).sum()),
        l_tax=int((common & outside).sum()),
        l_returnflag=int((common & lowered).sum()),
    )
    truth = CompareTruth(
        common_rows=int(common.sum()),
        df1_unique=int((in_left & ~in_right).sum()),
        df2_unique=int((in_right & ~in_left).sum()),
        unequal_rows=int((common & (nulled | outside | lowered)).sum()),
        unequal_by_column=unequal,
    )
    return ComparePair(
        left_path, right_path, list(LI_KEYS), dict(LI_ABS_TOL), truth,
        _dir_bytes(left_path) + _dir_bytes(right_path),
    )


def wide_pair(
    seed: int, rows: int, out_dir: str, data_cols: int = 50, shared: int = 40, files: int = 4
) -> ComparePair:
    """A pair in the shape of the reference's ``generate_data.py``: one
    bigint key and ``data_cols`` data columns per side, ``shared`` of them
    on both sides. Values are int 0-9, float in [0, 1) or one of
    {aaa, bbb, ccc}. About 1% of the cells of every shared column differ on
    the right, and each side lacks its own seeded 1% of keys."""
    rng = np.random.default_rng(seed)
    key = rng.permutation(np.arange(10 * rows, dtype=np.int64))[:rows]
    words = np.array(["aaa", "bbb", "ccc"])

    def column(kind: int, size: int) -> np.ndarray:
        if kind == 0:
            return rng.integers(0, 10, size).astype(np.int64)
        if kind == 1:
            return rng.random(size)
        return words[rng.integers(0, 3, size)]

    def changed(kind: int, v: np.ndarray) -> np.ndarray:
        if kind == 0:
            return (v + rng.integers(1, 10, len(v))) % 10
        if kind == 1:
            return v + 1.0
        return words[(np.searchsorted(words, v) + rng.integers(1, 3, len(v))) % 3]

    left: Dict[str, np.ndarray] = {"key": key}
    right: Dict[str, np.ndarray] = {"key": key}
    diff_cells = {}
    for i in range(shared):
        kind = i % 3
        name = f"c{i:03d}"
        v = column(kind, rows)
        diff = rng.random(rows) < 0.01
        left[name] = v
        right[name] = np.where(diff, changed(kind, v), v)
        diff_cells[name] = diff
    for i in range(shared, data_cols):
        left[f"l{i:03d}"] = column(i % 3, rows)
        right[f"r{i:03d}"] = column(i % 3, rows)

    in_left = rng.random(rows) >= 0.01
    in_right = rng.random(rows) >= 0.01
    left_path = os.path.join(out_dir, "left")
    right_path = os.path.join(out_dir, "right")
    _write(pa.table(left).filter(pa.array(in_left)), left_path, files)
    _write(pa.table(right).filter(pa.array(in_right)), right_path, files)

    common = in_left & in_right
    any_diff = np.zeros(rows, dtype=bool)
    for d in diff_cells.values():
        any_diff |= d
    truth = CompareTruth(
        common_rows=int(common.sum()),
        df1_unique=int((in_left & ~in_right).sum()),
        df2_unique=int((in_right & ~in_left).sum()),
        unequal_rows=int((common & any_diff).sum()),
        unequal_by_column={c: int((common & d).sum()) for c, d in diff_cells.items()},
    )
    return ComparePair(
        left_path, right_path, ["key"], 0, truth,
        _dir_bytes(left_path) + _dir_bytes(right_path),
    )


@dataclass
class DocBatch:
    path: str
    ids: List[int]
    # doc id -> the verdict the ledger must give it
    expected: Dict[int, str] = field(default_factory=dict)
    file_bytes: int = 0


class DocStream:
    """Seeded ``documents``-shaped batches for the MinHash ledger.

    Every batch holds ``fresh`` newly written documents plus exact copies:
    ``corpus_copies`` of documents first ingested in earlier batches and
    ``batch_copies`` of fresh documents of the same batch. Copies carry
    higher ids than their originals, so the expected verdicts are exact:
    a fresh document is ``new``, a copy of an earlier batch's document is
    ``dup_corpus`` and a copy of the same batch's document is ``dup_batch``.
    Fresh documents are 12-60 words drawn from a 4,000-word vocabulary, so
    two of them sharing half their 3-word shingles is vanishingly rare.
    """

    def __init__(self, seed: int, out_dir: str, fresh: int, corpus_copies: int, batch_copies: int):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.fresh = fresh
        self.corpus_copies = corpus_copies
        self.batch_copies = batch_copies
        self.vocab = np.array([f"w{i:04d}" for i in range(4000)])
        self.next_id = 0
        self.batches = 0
        self.ingested: List[str] = []  # texts of every fresh doc of earlier batches
        self._seen: Set[str] = set()

    def _fresh_text(self) -> str:
        while True:
            words = self.vocab[self.rng.integers(0, len(self.vocab), self.rng.integers(12, 61))]
            text = " ".join(words)
            if text not in self._seen:
                self._seen.add(text)
                return text

    def next_batch(self, write: bool = True) -> DocBatch:
        """The stream's next batch. With ``write=False`` the batch is drawn
        (so the stream advances exactly as it would) but no file is written."""
        rng = self.rng
        ids: List[int] = []
        texts: List[str] = []
        expected: Dict[int, str] = {}

        def add(text: str, verdict: str) -> None:
            ids.append(self.next_id)
            texts.append(text)
            expected[self.next_id] = verdict
            self.next_id += 1

        fresh = [self._fresh_text() for _ in range(self.fresh)]
        for t in fresh:
            add(t, "new")
        if self.ingested:
            for i in rng.integers(0, len(self.ingested), self.corpus_copies):
                add(self.ingested[i], "dup_corpus")
        for i in rng.integers(0, len(fresh), self.batch_copies):
            add(fresh[i], "dup_batch")
        self.ingested.extend(fresh)

        path = os.path.join(self.out_dir, f"batch-{self.batches:04d}")
        self.batches += 1
        order = rng.permutation(len(ids))
        if not write:
            return DocBatch(path, ids, expected)
        _write(
            pa.table({
                "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
                "text": pa.array([texts[i] for i in order]),
            }),
            path,
            files=1,
        )
        return DocBatch(path, ids, expected, _dir_bytes(path))


def doc_batches(seed: int, out_dir: str, first: int, count: int, *sizes: int) -> List[DocBatch]:
    """Batches ``first`` to ``first + count - 1`` of the seeded
    :class:`DocStream` with ``sizes`` = (fresh, corpus_copies,
    batch_copies). The earlier batches are drawn again but not written, so
    a batch is the same whichever chunk it is generated in."""
    stream = DocStream(seed, out_dir, *sizes)
    for _ in range(first):
        stream.next_batch(write=False)
    return [stream.next_batch() for _ in range(count)]
