"""Per-partition lineage + resumable runs (north rule; SURVEY §2.8).

The reference persists ``(path, inode) -> (offset, lastReadLine)`` to SQLite
every 100 ms (internal/input/tail/repository.go:50-120, tail.go:473-497) and
seeks to the saved offset on restart (tail.go:418) — at-least-once. This
engine is strictly stronger (exactly-once across retries):

- **Work unit** = input file (the file-scan task granule; at 10^12 rows an
  Iceberg scan-task manifest plays the same role). The unit list comes from
  the filesystem/manifest, never from scanning row data.
- **Idempotent output**: each run processes ALL uncommitted units over ONE
  persisted parsed frame and writes every sink partitioned by unit with
  dynamic partition overwrite (a per-write option; the session conf is left
  as found) — a retried unit replaces its own output, never duplicates it.
- **Atomic lineage commit**: after the sink writes succeed, one lineage row
  per unit (run_id, unit, rows_in/parsed/dropped/routed, status, ts) is
  committed to :class:`LineageStore`, one JSON file per unit via
  temp+rename — the analog of an Iceberg snapshot commit, with no Spark job
  per unit. The four counts come from ``operators.aggregate.
  pipeline_metrics`` keyed by unit, the same core the roster keys by
  source. Crash before the commit -> the unit is reprocessed and its
  output overwritten (no dup, no loss). Crash after -> it is skipped.
- **Resume** = anti-join of the unit list against committed lineage
  (a driver-side set difference over file names — partition pruning happens
  BEFORE any data is read, mirroring the offset seek).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import pipeline_metrics
from ..operators.routing import SinkSpec

UNIT_COL = "_unit"

_METRICS = ("rows_in", "rows_parsed", "rows_dropped", "rows_routed")
_METRICS_SCHEMA = (
    "run_id string, unit string, rows_in long, rows_parsed long, "
    "rows_dropped long, rows_routed long, status string"
)


def _unit_path(unit: str) -> str:
    # input_file_name() yields a percent-encoded file:// URI — decode it,
    # or units with spaces etc. stat-fail and silently disable the reset
    return unquote(urlparse(unit).path or unit)


def unit_size(unit: str) -> int | None:
    """Current byte size of a unit (a file:// URI from input_file_name);
    None when unreadable. The manifest of a real table format carries this."""
    try:
        return os.path.getsize(_unit_path(unit))
    except OSError:
        return None


def unit_mtime_ns(unit: str) -> int | None:
    """Current mtime (ns) of a unit; None when unreadable. Recorded at
    commit so same-size-or-larger replacements are detected, not just
    shrinks (a real table format's snapshot id plays this role)."""
    try:
        return os.stat(_unit_path(unit)).st_mtime_ns
    except OSError:
        return None


class LineageStore:
    """One JSON file per committed (run_id, unit) — atomic via rename."""

    def __init__(self, base: str):
        self.base = base

    def _run_dir(self, run_id: str) -> str:
        return os.path.join(self.base, run_id)

    def committed(self, run_id: str) -> dict[str, dict]:
        d = self._run_dir(run_id)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    rec = json.load(fh)
                out[rec["unit"]] = rec
        return out

    def commit(self, run_id: str, records: list[dict]) -> None:
        d = self._run_dir(run_id)
        os.makedirs(d, exist_ok=True)
        for rec in records:
            tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(rec, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, os.path.join(d, f"{uuid.uuid5(uuid.NAMESPACE_URL, rec['unit']).hex}.json"))

    def invalidate(self, run_id: str, unit: str) -> None:
        """Drop a unit's commit so the next run reprocesses it (the offset
        reset of tail.go:409-415 at unit granularity)."""
        p = os.path.join(
            self._run_dir(run_id), f"{uuid.uuid5(uuid.NAMESPACE_URL, unit).hex}.json"
        )
        if os.path.exists(p):
            os.remove(p)

    def metrics_df(self, spark: SparkSession, run_id: str) -> DataFrame:
        rows = [
            (r["run_id"], r["unit"], *(r[m] for m in _METRICS), r["status"])
            for r in self.committed(run_id).values()
        ]
        return spark.createDataFrame(rows, _METRICS_SCHEMA)


class ResumablePipeline:
    """Exactly-once resumable pipeline runner over file-unit granules.

    ``pipeline_fn(df) -> (parsed_df, keep_pred)`` is the parse+filter
    stage; sinks receive ``parsed_df`` rows that satisfy ``keep_pred`` and
    whose tag matches their pattern.
    """

    def __init__(self, work_dir: str, sinks: list[SinkSpec]):
        self.work_dir = work_dir
        self.sinks = sinks
        self.lineage = LineageStore(os.path.join(work_dir, "_lineage"))

    def _sink_dir(self, sink: SinkSpec) -> str:
        return os.path.join(self.work_dir, "sinks", sink.name)

    def _clear_units(self, units: set[str]) -> None:
        """Remove every sink's output for units about to be rewritten.
        Dynamic overwrite replaces only the partitions a write produces, so
        a reprocessed unit that now routes no rows to a sink would keep its
        old rows there. The units are uncommitted, so a crash after this
        reprocesses them."""
        prefix = f"{UNIT_COL}="
        for s in self.sinks:
            d = self._sink_dir(s)
            for name in os.listdir(d) if os.path.isdir(d) else ():
                if name.startswith(prefix) and unquote(name[len(prefix):]) in units:
                    shutil.rmtree(os.path.join(d, name))

    def list_units(self, spark: SparkSession, input_path: str) -> list[str]:
        df = spark.read.parquet(input_path)
        return sorted(
            r[0]
            for r in df.select(F.input_file_name().alias("f")).distinct().collect()
        )

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        pipeline_fn: Callable[[DataFrame], tuple[DataFrame, Column]],
        run_id: str,
        fail_after_units: int | None = None,
        max_units_per_batch: int | None = None,
    ) -> dict:
        """Process all units not yet committed for ``run_id``.

        ``fail_after_units``/``max_units_per_batch`` exist for the
        crash-resume tests (FIXTURES.md F8): process only a prefix of the
        todo list, optionally 'crash' (raise) after writing sink data but
        BEFORE committing lineage for the tail half of that prefix.
        """
        # drop Spark's cached file listing/sizes for this input up front —
        # after a truncation/rotation a stale cached length makes the scan
        # read past the new EOF (cheap: metadata only)
        spark.catalog.refreshByPath(input_path)
        units = self.list_units(spark, input_path)
        committed = self.lineage.committed(run_id)
        # truncation/replacement reset (tail.go:409-415: offset > size ->
        # seek 0), generalized: a committed unit whose file CHANGED since
        # commit — shrunk, grew (append), or was replaced in place (size
        # equal but mtime moved) — is invalidated so it reprocesses; the
        # dynamic-partition-overwrite sink replaces its old output (no dup).
        # Records from older stores may lack unit_mtime_ns; the mtime check
        # only fires when both sides are present.
        truncated = []
        for u, rec in committed.items():
            cur, old = unit_size(u), rec.get("unit_size")
            cur_mt, old_mt = unit_mtime_ns(u), rec.get("unit_mtime_ns")
            changed = (
                cur is not None and old is not None and cur != old
            ) or (cur_mt is not None and old_mt is not None and cur_mt != old_mt)
            if changed:
                self.lineage.invalidate(run_id, u)
                truncated.append(u)
        for u in truncated:
            committed.pop(u)
        done = set(committed)
        todo = [u for u in units if u not in done]
        if max_units_per_batch is not None:
            todo = todo[:max_units_per_batch]
        if not todo:
            return {"processed": 0, "skipped": len(done)}

        df = spark.read.parquet(*todo).withColumn(UNIT_COL, F.input_file_name())
        parsed, keep = pipeline_fn(df)
        parsed = parsed.persist()
        try:
            self._clear_units(set(todo))
            for s in self.sinks:
                (
                    parsed.filter(keep & s.compiled.column(F.col("tag")))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(UNIT_COL)
                    .parquet(self._sink_dir(s))
                )
            # per-unit metrics (A2): the one accounting core, keyed by unit
            stats = {
                r[UNIT_COL]: r
                for r in pipeline_metrics(parsed, keep, self.sinks, UNIT_COL).collect()
            }
        finally:
            parsed.unpersist()

        for i, u in enumerate(todo):
            if fail_after_units is not None and i >= fail_after_units:
                # simulated crash: sink data written, lineage NOT committed
                raise RuntimeError(f"injected failure before committing {u}")
            st = stats.get(u)
            self.lineage.commit(
                run_id,
                [
                    {
                        "run_id": run_id,
                        "unit": u,
                        **{m: st[m] if st else 0 for m in _METRICS},
                        "status": "committed",
                        "committed_at": time.time(),
                        "unit_size": unit_size(u),
                        "unit_mtime_ns": unit_mtime_ns(u),
                    }
                ],
            )
        return {"processed": len(todo), "skipped": len(done)}

    def read_sink(self, spark: SparkSession, sink_name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.work_dir, "sinks", sink_name))
