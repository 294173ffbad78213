"""End-to-end KG-construction pipeline + resumable stage runner.

Logical plan (BASELINE.json north_star):

    documents(doc_id, spans)
      → render_text            (native array expressions, spans preserved)
      → extract                (ONE Arrow-batched stage → mentions, triples)
      → canonicalize           (LSH blocking + connected components)
      → rewrite + salted merge (global triples / entities tables)

The stage graph is defined ONCE, by ``_stages``: an ordered table of
(name, builder, bucket column).  It has two evaluations:

  * ``build_graph`` — the pure-DataFrame core (lazy, no I/O) that a
    library user calls; it builds a stage on first access, so only the
    stages its four outputs depend on, and persists the extraction output
    and the canonical map, the two frames read by several later stages.
  * ``KGPipeline.run`` — materialization: each stage writes a table with
    per-partition lineage + a completion marker, later stages read the
    written table back, and a re-run SKIPS completed stages (exact resume
    after failure, north_rule).

Partitioning at scale: documents/mentions/triples bucket naturally by
doc_id (generation/extraction are narrow); a stage with a bucket column is
written partitioned by ``h60(column) mod n_buckets``, so the global
tables' downstream point lookups prune partitions.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.spans import render_text
from ..hashing import h60
from ..io import tables
from ..operators import agg, extract, linking


def _stages(documents: DataFrame, extractor) -> list:
    """The stage table, in dependency order: (name, build(t, info), bucket
    column or None).  ``t`` maps the earlier stages' names to their frames;
    ``info`` is the stage's own metrics dict (canonicalize records its CC
    strategy and round count there)."""
    return [
        ("extracted", lambda t, info: extract.extract_combined(
            documents.select("doc_id", render_text("spans").alias("text")),
            "text", extractor), "doc_id"),
        ("mentions", lambda t, info: extract.explode_combined(t["extracted"])[0], None),
        ("triples", lambda t, info: extract.explode_combined(t["extracted"])[1], None),
        ("canonical_map", lambda t, info: linking.canonicalize(
            t["mentions"], metrics=info), None),
        ("entities", lambda t, info: linking.entities_table(t["canonical_map"]), None),
        ("canonical_triples", lambda t, info: linking.rewrite_triples(
            t["triples"], t["canonical_map"]), "subj"),
        ("triples_global", lambda t, info: agg.merge_triples_global(
            t["canonical_triples"].drop("bucket")), None),
        ("entities_global", lambda t, info: agg.merge_entities_global(t["mentions"]), None),
    ]


# build_graph's persists: the combined extraction output (read by both
# explodes — persisting mentions and triples separately ran the Arrow
# extraction stage twice, r6) and the canonical map (read by entities and
# the triple rewrite).  DISK_ONLY, not the default MEMORY_AND_DISK: building
# the on-heap columnar cache for 4M nested rows at local[8] blew the 8 GB
# heap (measured: persist()+count OOMed where persist(DISK_ONLY)+count ran
# in the same 167 s as the uncached pass — the blocks stream to local disk,
# re-reads ride the OS page cache at ~2 s, guide §5).
_PERSIST = {"extracted": StorageLevel.DISK_ONLY,
            "canonical_map": StorageLevel.MEMORY_AND_DISK_DESER}


class _LazyStages(dict):
    """Stage frames keyed by name, each built (and persisted per
    ``_PERSIST``) on first access — only what the caller reads is built."""

    def __init__(self, stages: list):
        super().__init__()
        self._build = {name: build for name, build, _bucket in stages}

    def __missing__(self, name: str) -> DataFrame:
        df = self._build[name](self, {})
        if name in _PERSIST:
            df = df.persist(_PERSIST[name])
        self[name] = df
        return df


def build_graph(documents: DataFrame, extractor=None
                ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """documents → (mentions, canonical_triples, entities, canonical_map).

    Pure transformation — callers decide writes.  Linking runs its own
    actions (count-gated strategy probes) while the graph is built."""
    t = _LazyStages(_stages(documents, extractor))
    return t["mentions"], t["canonical_triples"], t["entities"], t["canonical_map"]


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_ms: int
    skipped: bool = False
    info: dict = field(default_factory=dict)  # stage-specific metrics


@dataclass
class KGPipeline:
    """Materializing, resumable pipeline over a warehouse directory."""

    spark: SparkSession
    warehouse: str
    n_buckets: int = 32
    extractor: object = None
    results: list[StageResult] = field(default_factory=list)

    def _path(self, stage: str) -> str:
        return os.path.join(self.warehouse, stage)

    def _run_stage(self, stage: str, make_df, bucket: str | None,
                   info: dict) -> DataFrame:
        path = self._path(stage)
        if tables.is_complete(path):
            with open(os.path.join(path, "_MMORE_COMPLETE")) as f:
                meta = json.load(f)
            self.results.append(StageResult(stage, path, meta["rows"], 0, skipped=True))
            return tables.read_table(self.spark, path)
        df = make_df()
        partition_by = None
        if bucket is not None:
            df = df.withColumn("bucket", F.pmod(h60(F.col(bucket)), F.lit(self.n_buckets)))
            partition_by = ["bucket"]
        summary = tables.write_table(df, path, stage, partition_by)
        self.results.append(StageResult(stage, path, summary["rows"],
                                        summary["wall_ms"], info=info))
        return tables.read_table(self.spark, path)

    def run(self, documents: DataFrame) -> dict[str, DataFrame]:
        """Execute all stages (skipping completed ones) and return the
        materialized tables, keyed by stage name."""
        t: dict[str, DataFrame] = {}
        for name, build, bucket in _stages(documents, self.extractor):
            info: dict = {}
            t[name] = self._run_stage(name, lambda: build(t, info), bucket, info)
        return t

    def lineage(self) -> list[StageResult]:
        return list(self.results)
