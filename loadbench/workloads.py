"""The three closed-loop workloads, each driving cdf_spark's public API.

A workload is prepared once (untimed), then ``op()`` is called in a loop.
``reset()`` restores the per-op state before every op and ``check()``
compares the op's output with the replay ``gen.py`` wrote; neither is
timed. Every op does identical work on identical state.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import partial
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from cdf_spark.contracts import Contract, DomainRule, RangeRule, RegexRule
from cdf_spark.operators.graph import connected_components, pagerank
from cdf_spark.operators.preference import bradley_terry_strengths
from cdf_spark.operators.temporal import cohort_retention
from cdf_spark.package.ledger import CheckpointLedger, ParquetDestination
from cdf_spark.runtime import LoadPipeline
from cdf_spark.sources.base import CursorSpec, ResourceDescriptor, WriteDisposition
from cdf_spark.sources.files import FileResource
from cdf_spark.streaming import StreamingLoadPipeline, WatermarkLedger, WatermarkPolicy

CONTRACT = Contract(
    rules=[
        RangeRule("amount", min=gen.RANGE_MIN, max=gen.RANGE_MAX),
        DomainRule("cat", allowed=list(gen.CATEGORIES)),
        RegexRule("payload", pattern=gen.PAYLOAD_PATTERN),
    ]
)
ROW_SCHEMA_DDL = "id BIGINT, seq BIGINT, ev BIGINT, amount DOUBLE, cat STRING, payload STRING"


def _descriptor(resource_id: str) -> ResourceDescriptor:
    return ResourceDescriptor(
        resource_id,
        primary_key=["id"],
        cursor=CursorSpec("seq"),
        dedup_keys=["id"],
        dedup_keep="last",
    )


def _sorted(table: pa.Table, key: str | list[str]) -> pa.Table:
    keys = [key] if isinstance(key, str) else key
    return table.sort_by([(k, "ascending") for k in keys])


def _read_sorted(path: Path, key: str | list[str]) -> pa.Table:
    return _sorted(pq.read_table(path), key)


def _same_rows(actual: pa.Table, expected: pa.Table) -> str | None:
    """None when equal; else a one-line description of the first difference."""
    if actual.num_rows != expected.num_rows:
        return f"{actual.num_rows} rows, expected {expected.num_rows}"
    for name in expected.column_names:
        if name not in actual.column_names:
            return f"column {name} missing"
        a = actual.column(name).cast(expected.schema.field(name).type)
        if not a.equals(expected.column(name)):
            return f"column {name} differs"
    return None


class BulkLoad:
    """One ``LoadPipeline.run`` of a fixed parquet input into a fresh
    destination, package root and ledger: contract, keep-last dedup on
    ``seq``, late quarantine, APPEND, verify and checkpoint."""

    name = "bulk_load"

    def __init__(self, spark, data: Path, work: Path):
        self.spark = spark
        self.input = data / "input" / "rows"
        self.input_bytes = sum(p.stat().st_size for p in self.input.glob("*.parquet"))
        self.input_roots = [self.input]
        self.expected = _read_sorted(data / "expected" / "dest.parquet", "id")
        self.facts = json.loads((data / "expected" / "facts.json").read_text())
        self.state = work / "op"

    def reset(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        self.state.mkdir(parents=True)

    def op(self, tracer):
        pipe = LoadPipeline(
            resource=FileResource(_descriptor("bulk"), str(self.input)),
            contract=CONTRACT,
            package_root=str(self.state / "packages"),
            ledger=CheckpointLedger(self.state / "ledger"),
            destination=ParquetDestination(self.state / "dest"),
            disposition=WriteDisposition.APPEND,
            watermark_column="ev",
            watermark_value=gen.WATERMARK,
            late_action="quarantine",
        )
        return pipe.run(self.spark)

    def check(self, result) -> str | None:
        f = self.facts
        if result.rows_quarantined != f["rows_quarantined"]:
            return f"quarantined {result.rows_quarantined}, expected {f['rows_quarantined']}"
        if result.rows_late != f["rows_late"]:
            return f"late {result.rows_late}, expected {f['rows_late']}"
        if result.receipt is None or not result.receipt.verified:
            return "receipt not verified"
        ck = CheckpointLedger(self.state / "ledger").latest("bulk")
        if ck is None or ck.positions.get("seq") != f["checkpoint_seq"]:
            return f"checkpoint position {ck and ck.positions}, expected seq={f['checkpoint_seq']}"
        return _same_rows(_read_sorted(self.state / "dest", "id"), self.expected)


class CdcMerge:
    """One ``StreamingLoadPipeline`` availableNow drain of the change files,
    one file per epoch, into a MERGE destination restored (untimed) from
    a pristine keyed snapshot, with a fresh stream checkpoint and ledgers
    whose watermark starts at the same stored value every op."""

    name = "cdc_merge"

    def __init__(self, spark, data: Path, work: Path):
        from pyspark.sql.types import _parse_datatype_string

        self.spark = spark
        self.snapshot = data / "input" / "snapshot"
        self.changes = data / "input" / "changes"
        files = sorted(self.changes.glob("*.parquet"))
        # the file source orders a drain by modification time
        base = int(time.time()) - len(files)
        for i, p in enumerate(files):
            os.utime(p, (base + i, base + i))
        self.input_bytes = sum(p.stat().st_size for p in files)
        self.input_roots = [self.changes]
        self.schema = _parse_datatype_string(ROW_SCHEMA_DDL)
        self.expected = _read_sorted(data / "expected" / "table.parquet", "id")
        self.expected_epochs = json.loads((data / "expected" / "epochs.json").read_text())
        self.pristine_ledger = work / "pristine_ledger"
        WatermarkLedger(self.pristine_ledger, "cdc").advance("ev", gen.WATERMARK)
        self.state = work / "op"
        self.epoch_walls: list[float] = []

    def reset(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        self.state.mkdir(parents=True)
        shutil.copytree(self.snapshot, self.state / "table")
        shutil.copytree(self.pristine_ledger, self.state / "ledger")

    def op(self, tracer):
        pipe = StreamingLoadPipeline(
            descriptor=_descriptor("cdc"),
            source_path=str(self.changes),
            schema=self.schema,
            contract=CONTRACT,
            watermark=WatermarkPolicy("ev", delay=gen.CDC_DELAY),
            late_action="quarantine",
            package_root=str(self.state / "packages"),
            ledger_root=str(self.state / "ledger"),
            destination=ParquetDestination(self.state / "table", merge_keys=["id"]),
            disposition=WriteDisposition.MERGE,
            reader_options={"maxFilesPerTrigger": 1},
        )
        # epoch wall: foreachBatch entry to checkpoint advance (the
        # advance is the epoch's last step)
        walls = self.epoch_walls = []
        process = pipe._process_epoch

        def timed_epoch(batch_df, epoch_id):
            t0 = time.perf_counter()
            process(batch_df, epoch_id)
            walls.append(time.perf_counter() - t0)

        pipe._process_epoch = timed_epoch
        return pipe.run(self.spark, checkpoint_dir=str(self.state / "stream_checkpoint"))

    def check(self, epochs) -> str | None:
        if len(epochs) != len(self.expected_epochs):
            return f"{len(epochs)} epochs, expected {len(self.expected_epochs)}"
        for got, want in zip(epochs, self.expected_epochs):
            seen = {
                "rows_admitted": got.rows_admitted,
                "rows_late": got.rows_late,
                "rows_quarantined": got.rows_quarantined,
                "watermark_after": got.watermark_after,
            }
            if seen != want:
                return f"epoch {got.epoch_id}: {seen}, expected {want}"
            if not got.receipt_verified:
                return f"epoch {got.epoch_id}: receipt not verified"
        ck = CheckpointLedger(self.state / "ledger").latest("cdc")
        if ck is None or ck.positions.get("epoch") != epochs[-1].epoch_id:
            return f"checkpoint position {ck and ck.positions}, expected the last epoch"
        return _same_rows(_read_sorted(self.state / "table", "id"), self.expected)


class IterativePass:
    """One fixed pass of four loop-heavy operator calls, each written to
    the noop sink: PageRank, connected components, Bradley-Terry and
    weekly cohort retention."""

    name = "iterative_pass"
    CALLS = (
        ("operators.graph.pagerank", "pr_edges",
         partial(pagerank, iterations=gen.PR_ITERATIONS, damping_pct=gen.PR_DAMPING),
         "pagerank.parquet", "id"),
        ("operators.graph.connected_components", "cc_edges", connected_components,
         "components.parquet", "id"),
        ("operators.preference.bradley_terry_strengths", "duels",
         partial(bradley_terry_strengths, iterations=gen.BT_ITERATIONS),
         "bradley_terry.parquet", "id"),
        ("operators.temporal.cohort_retention", "events",
         partial(cohort_retention, max_offset=gen.COHORT_MAX_OFFSET),
         "cohorts.parquet", ["cohort_week", "week_offset"]),
    )

    def __init__(self, spark, data: Path, work: Path):
        self.spark = spark
        self.inputs = {c[1]: data / "input" / c[1] for c in self.CALLS}
        self.input_bytes = sum(
            p.stat().st_size for d in self.inputs.values() for p in d.glob("*.parquet")
        )
        self.input_roots = list(self.inputs.values())
        self.expected = {c[0]: _read_sorted(data / "expected" / c[3], c[4]) for c in self.CALLS}

    def reset(self) -> None:
        pass

    def op(self, tracer):
        out = {}
        for name, inp, fn, _, _ in self.CALLS:
            with tracer.span(name):
                df = fn(self.spark.read.parquet(str(self.inputs[inp])))
                df.write.format("noop").mode("overwrite").save()
            out[name] = df
        return out

    def check(self, frames) -> str | None:
        for name, _, _, _, key in self.CALLS:
            got = pa.Table.from_pandas(frames[name].toPandas(), preserve_index=False)
            diff = _same_rows(_sorted(got, key), self.expected[name])
            if diff:
                return f"{name}: {diff}"
        return None


WORKLOADS = {w.name: w for w in (BulkLoad, CdcMerge, IterativePass)}
