"""Scale-adaptive spreading of narrow scans (guide §2.4: remove shuffles
outright where the data is already partitioned as needed).

The sandbox test tables are single small parquet files, so their scan
yields ONE input partition and every downstream stage (regex extraction,
Arrow signature stages) would serialize on one task; rounds 2-5 answered
that with an unconditional ``repartition(defaultParallelism)``.  Correct
locally — but at production scale that line is a full round-robin shuffle
of the corpus (every payload byte crosses the network once) applied to a
scan that is already thousands of partitions wide.

``needs_spread`` keeps the repartition ONLY when the scan is actually
narrow.  The width is Spark's own answer: ``getNumPartitions`` of the
input RDD of each file scan in the frame's physical plan — the planner's
split sizing and small-file bin-packing, for local and remote URIs alike,
with no job.  Only the file scans count: a frame that unions a one-file
corpus with a small generated relation is still carried by its one scan
partition.  When the width already reaches the session's default
parallelism, the input flows through unchanged and the shuffle disappears
from the plan.  Inputs with no file scan (in-memory local relations in
unit tests) keep the historical spread — they are tiny by construction.
A wrong decision is perf-only in both directions: results never depend on
the partitioning.

Planning the scan costs ~20-80 ms of driver time per fresh frame, so
callers that can name their input (e.g. the sf_dir) pass ``cache_key``
and pay once per application: the decision is cached per (applicationId,
cache_key).  A path whose contents are REPLACED mid-session keeps its
first decision (perf-only; Spark's own session file-listing cache has the
same semantics) — callers that rewrite their input should omit
``cache_key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_decision_cache: dict[tuple[str, str], bool] = {}


def scan_partitions(df: DataFrame) -> int | None:
    """Input partitions Spark plans for ``df``'s file scans (metadata
    only, no job).  None = no file scan (pure local input)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    widths = [leaf.inputRDD().getNumPartitions()
              for leaf in (leaves.apply(i) for i in range(leaves.size()))
              if leaf.getClass().getSimpleName() == "FileSourceScanExec"]
    return sum(widths) if widths else None


def needs_spread(df: DataFrame, cache_key: str | None = None) -> bool:
    """True when ``df``'s file scan is narrower than the session default
    parallelism (or has no file scan at all) and should be repartitioned."""
    spark = df.sparkSession
    key = None if cache_key is None else (spark.sparkContext.applicationId, cache_key)
    narrow = _decision_cache.get(key)
    if narrow is None:
        width = scan_partitions(df)
        narrow = width is None or width < spark.sparkContext.defaultParallelism
        if key is not None:
            _decision_cache[key] = narrow
    return narrow


def spread_small_scan(df: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its file
    scan is narrower than that; pass wide scans through shuffle-free."""
    if needs_spread(df, cache_key):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df
