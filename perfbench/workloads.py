"""The benchmark's workloads: what one op does and how its output is checked.

Each op goes through the engine's public API only, reads the generated
parquet files and wraps each public call in ``span(<layer>)``. An untimed
run passes a span that does nothing.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from typing import Callable, Dict, List, Optional

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (rows, wide data columns, wide shared columns, docs per ledger batch)
# are fixed per workload so every run of a workload does the same work.
TALL_ROWS = 150_000
WIDE_ROWS = 10_000
WIDE_DATA_COLS = 50
WIDE_SHARED_COLS = 40
LEDGER_FRESH = 220
LEDGER_CORPUS_COPIES = 20
LEDGER_BATCH_COPIES = 10
LEDGER_BUCKETS = 8
# batches generated at a time; the stream is extended when a run uses them up
LEDGER_CHUNK = 8


def generate(fn, *args):
    """Run generator ``fn`` of :mod:`perfbench.inputs` in a child interpreter
    and return its result. The generator's memory peak then stays out of
    this process's VmHWM, and so out of ``peak_rss_mb``."""
    child = subprocess.run(
        [sys.executable, "-c", _CHILD],
        input=pickle.dumps((fn.__name__, args)),
        capture_output=True,
        cwd=ROOT,
    )
    if child.returncode:
        raise RuntimeError(f"input generator {fn.__name__} failed:\n{child.stderr.decode()}")
    return pickle.loads(child.stdout)


_CHILD = (
    "import pickle, sys; from perfbench import inputs; "
    "name, args = pickle.load(sys.stdin.buffer); "
    "pickle.dump(getattr(inputs, name)(*args), sys.stdout.buffer)"
)


def check_compare(truth: inputs.CompareTruth, got: Dict) -> Optional[str]:
    """Compare the numbers an op reported against the generator's truth."""
    errors = []
    for k in ("common_rows", "df1_unique", "df2_unique", "unequal_rows"):
        if got[k] != getattr(truth, k):
            errors.append(f"{k}={got[k]} expected {getattr(truth, k)}")
    for c, want in truth.unequal_by_column.items():
        have = got["unequal_by_column"].get(c, 0)
        if have != want:
            errors.append(f"unequal[{c}]={have} expected {want}")
    return "; ".join(errors) or None


class _ComparePairWorkload:
    """Shared set-up of the three compare workloads."""

    pair: inputs.ComparePair

    def next_input(self) -> None:
        """Every op reads the same pair."""

    def input_bytes(self) -> int:
        return self.pair.file_bytes

    def _compare(self, spark, span):
        from datacompy_spark import SparkCompare

        left = spark.read.parquet(self.pair.left)
        right = spark.read.parquet(self.pair.right)
        with span("compare.build"):
            return SparkCompare(
                spark, left, right,
                join_columns=self.pair.join_columns,
                abs_tol=self.pair.abs_tol,
                assume_unique=self.assume_unique,
            )

    def check(self, got: Dict) -> Optional[str]:
        return check_compare(self.pair.truth, got)


class _ReportWorkload(_ComparePairWorkload):
    layers = ("compare.build", "report.data", "report.render")

    def op(self, spark, span) -> Dict:
        cmp = self._compare(spark, span)
        try:
            with span("report.data"):
                data = cmp.build_report_data(sample_count=10)
            with span("report.render"):
                text = data.render()
        finally:
            cmp.uncache()
        rs = data.row_summary
        mismatched = [s.column for s in data.mismatch_stats.stats if s.unequal_cnt]
        missing_in_text = [c for c in mismatched if c not in text]
        return {
            "common_rows": rs.common_rows,
            "df1_unique": rs.df1_unique,
            "df2_unique": rs.df2_unique,
            "unequal_rows": rs.unequal_rows,
            "unequal_by_column": {s.column: s.unequal_cnt for s in data.mismatch_stats.stats},
            "render": f"columns missing from the text: {missing_in_text}" if missing_in_text else None,
        }

    def check(self, got: Dict) -> Optional[str]:
        return "; ".join(e for e in (super().check(got), got["render"]) if e) or None


class TallReport(_ReportWorkload):
    """Compare + report of a lineitem-shaped pair (the reference's unit of
    work): executor join and statistics dominate, plan build is small."""

    assume_unique = True

    def prepare(self, seed: int, root: str) -> None:
        self.pair = generate(inputs.lineitem_pair, seed, TALL_ROWS, root)


class TallGate(_ComparePairWorkload):
    """The pass/fail route of a CLI or CI check on the same pair: statistics
    only, with no exceptions cache and no sampling."""

    assume_unique = True
    layers = ("compare.build", "compare.stats")

    def prepare(self, seed: int, root: str) -> None:
        self.pair = generate(inputs.lineitem_pair, seed, TALL_ROWS, root)

    def op(self, spark, span) -> Dict:
        cmp = self._compare(spark, span)
        with span("compare.stats"):
            matches = cmp.matches()
            stats = cmp.column_stats
        both = cmp.intersect_rows_count
        return {
            "common_rows": both,
            "df1_unique": cmp.df1_unq_rows_count,
            "df2_unique": cmp.df2_unq_rows_count,
            "unequal_rows": both - cmp.count_matching_rows(),
            "unequal_by_column": {s["column"]: s["unequal_cnt"] for s in stats},
            "matches": matches,
        }

    def check(self, got: Dict) -> Optional[str]:
        err = super().check(got)
        if got["matches"]:
            err = "; ".join(filter(None, [err, "matches() is True on a differing pair"]))
        return err


class WideReport(_ReportWorkload):
    """Compare + report of a wide pair where every shared column mismatches:
    plan build and one sample action per column dominate."""

    assume_unique = False

    def prepare(self, seed: int, root: str) -> None:
        self.pair = generate(
            inputs.wide_pair, seed, WIDE_ROWS, root, WIDE_DATA_COLS, WIDE_SHARED_COLS
        )


class LedgerIngest:
    """Ingests of seeded document batches into one MinHash ledger: the only
    workload that writes state it later reads, and it runs no compare code.
    """

    layers = ("dedup.ingest", "dedup.verdicts")

    def prepare(self, seed: int, root: str) -> None:
        """Start an empty ledger and the seeded batch sequence. The set-up's
        warm-up op is the ledger's first ingest, so every timed op probes
        a ledger that already holds documents."""
        self.ledger = f"ledger_{os.path.basename(root).replace('-', '_')}"
        self.seed, self.root = seed, root
        self.batches: List[inputs.DocBatch] = []
        self._extend()
        self.batch, self.used = None, 0

    def _extend(self) -> None:
        self.batches += generate(
            inputs.doc_batches, self.seed, self.root, len(self.batches), LEDGER_CHUNK,
            LEDGER_FRESH, LEDGER_CORPUS_COPIES, LEDGER_BATCH_COPIES,
        )

    def next_input(self) -> None:
        """The next batch of the stream; called between ops, outside their
        timing."""
        if self.used == len(self.batches):
            self._extend()
        self.batch = self.batches[self.used]
        self.used += 1

    def input_bytes(self) -> int:
        return self.batch.file_bytes

    def ledger_dirs(self, spark) -> List[str]:
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return [os.path.join(wh, f"{self.ledger}_{t}") for t in ("bands", "shingles")]

    def op(self, spark, span) -> Dict:
        from datacompy_spark.operators.dedup import incremental_minhash_ledger

        batch = spark.read.parquet(self.batch.path)
        with span("dedup.ingest") as rec:
            out = incremental_minhash_ledger(
                spark, batch, self.ledger, "doc_id", "text", num_buckets=LEDGER_BUCKETS
            )
        with span("dedup.verdicts"):
            rows = out.collect()
        files = [
            os.path.join(d, f)
            for d in self.ledger_dirs(spark)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        rec["ledger_files"] = float(len(files))
        rec["ledger_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        return {"verdicts": [(r["doc_id"], r["verdict"]) for r in rows]}

    def check(self, got: Dict) -> Optional[str]:
        expected = self.batch.expected
        seen: Dict[int, str] = {}
        errors = []
        for doc, verdict in got["verdicts"]:
            if doc in seen:
                errors.append(f"doc {doc} has more than one verdict")
            seen[doc] = verdict
        if set(seen) != set(expected):
            errors.append(f"{len(set(expected) - set(seen))} docs without a verdict, "
                          f"{len(set(seen) - set(expected))} verdicts for unknown docs")
        wrong = [(d, seen[d], v) for d, v in expected.items() if d in seen and seen[d] != v]
        if wrong:
            errors.append(f"{len(wrong)} wrong verdicts, e.g. doc {wrong[0][0]} got "
                          f"{wrong[0][1]} expected {wrong[0][2]}")
        return "; ".join(errors) or None


WORKLOADS: Dict[str, Callable[[], object]] = {
    "tall_report": TallReport,
    "tall_gate": TallGate,
    "wide_report": WideReport,
    "ledger_ingest": LedgerIngest,
}
