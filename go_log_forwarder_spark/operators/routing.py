"""Multi-sink routing — the reference's fan-out (engine.go:137-143).

Every flushed batch goes to EVERY output; each output independently drops
events whose tag doesn't match its pattern (stdout.go:90, counter.go:48,
splunk.go:162, gelf.go:98). Note the reference's stdout sink has a
drop-rest-of-batch bug on tag mismatch (stdout.go:90-92 ``return nil``
instead of ``continue``); we implement the counter's continue semantics for
every sink, as SURVEY §2.7-K1 prescribes.

Spark realization — two shapes:

1. :func:`route_exploded` — ONE projection computing the array of matching
   sink names per row, then ``explode``. A single scan produces the full
   (row x sink) routing relation; per-sink aggregates are one groupBy away.
   No data is duplicated until the explode, and Catalyst prunes columns
   that sinks don't need.

2. :func:`fan_out_writes` — for actual sink I/O: persist the routed
   DataFrame once (avoids recomputing the parse per sink — the reference
   re-serializes per output, we don't), then one filtered write per sink.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.tags import CompiledTagPattern, compile_tag_pattern


@dataclass(frozen=True)
class SinkSpec:
    """One output plugin: name + tag match pattern (+ free-form kind)."""

    name: str
    match: str = "*"
    kind: str = "parquet"

    @property
    def compiled(self) -> CompiledTagPattern:
        return compile_tag_pattern(self.match)


def route_exploded(
    df: DataFrame,
    sinks: list[SinkSpec],
    tag_col: str = "tag",
    by_index: bool = False,
) -> DataFrame:
    """Add a ``sink`` column, one output row per (event, matching sink),
    holding the sink's name, or its position in ``sinks`` when
    ``by_index``.

    Rows matching no sink are dropped (they would reach no output)."""
    tag = F.col(tag_col)
    candidates = F.array(
        *[
            F.when(s.compiled.column(tag), F.lit(i if by_index else s.name)).otherwise(
                F.lit(None)
            )
            for i, s in enumerate(sinks)
        ]
    )
    matched = F.filter(candidates, lambda x: x.isNotNull())
    return df.withColumn("sink", F.explode(matched))


def fan_out_writes(
    df: DataFrame,
    sinks: list[SinkSpec],
    write_fn,
    tag_col: str = "tag",
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> dict[str, int]:
    """Compute the pipeline once, write each sink's filtered view.

    ``write_fn(sink: SinkSpec, sink_df: DataFrame) -> None`` performs the
    actual write (parquet append, console, metrics table...) and MUST run
    an action on ``sink_df``. Returns per-sink routed-row counts (the
    counter output, counter.go:46-62) harvested from ``Observation``
    metrics folded into the write job itself — ONE action per sink, never
    a second counting pass over the persisted frame.
    """
    from pyspark.sql import Observation

    df = df.persist(storage_level)
    try:
        counts: dict[str, int] = {}
        for s in sinks:
            obs = Observation(f"fanout_{s.name}")
            sink_df = df.filter(s.compiled.column(F.col(tag_col))).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            write_fn(s, sink_df)
            counts[s.name] = obs.get["n"]
        return counts
    finally:
        df.unpersist()
