"""The benchmark's workloads.

A workload writes its inputs in ``stage`` and runs a warm-up slice in
``warm_up`` (both timed as ``setup_s``), runs one operation per ``op``
call (a pipeline pass, a drain or a pass over the entry queries) and
checks each operation's output in ``check``, outside the timed interval.
``trace`` installs the spans that a traced run records around the
program's layer functions; ``layer_metrics`` folds them with Spark's
event log into the per-layer table.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

from . import inputs
from .trace import EventLog, Tracer, self_time, task_skew, task_sums

# the 13 entry queries bench.py times
QUERY_NAMES = [
    "kg_triples", "kg_triples_global", "kg_mentions", "kg_entity_degree",
    "kg_linking_clusters", "kg_cooccurrence", "tag_fingerprint",
    "dedup_minhash_pairs", "dedup_jaccard_pairs", "sim_topk_cosine",
    "sim_ann_lsh_buckets", "rel_latest_wins", "chunk_word64",
]
# (name, unit, better) of the per-layer metrics every traced run prints,
# 0 where the workload does not exercise the layer
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"), ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"), ("spark.failed_tasks", "count", "lower"),
    ("spark.jvm_peak_rss_mb", "MB", "lower"), ("spark.python_peak_rss_mb", "MB", "lower"),
    ("spark.core_idle_frac", "frac", "lower"),
    ("pipeline.wall_s", "s", "lower"), ("pipeline.jobs", "count", "lower"),
    ("pipeline.span_coverage", "frac", "higher"), ("pipeline.self_s", "s", "lower"),
    ("extract.wall_s", "s", "lower"), ("extract.task_cpu_s", "s", "lower"),
    ("extract.python_s", "s", "lower"), ("extract.docs", "count", "higher"),
    ("extract.triples", "count", "higher"), ("extract.docs_per_core_s", "1/s", "higher"),
    ("tables.write_s", "s", "lower"), ("tables.jobs", "count", "lower"),
    ("tables.lineage_jobs", "count", "lower"), ("tables.lineage_s", "s", "lower"),
    ("tables.mb_written", "MB", "lower"), ("tables.files_written", "count", "lower"),
    ("linking.wall_s", "s", "lower"), ("linking.jobs", "count", "lower"),
    ("linking.names", "count", "higher"), ("linking.spark_path", "bool", "lower"),
    ("linking.candidate_pairs", "count", "lower"),
    ("linking.verified_edges", "count", "higher"),
    ("linking.verify_ratio", "frac", "higher"), ("linking.star_buckets", "count", "lower"),
    ("linking.cc_twophase", "bool", "lower"), ("linking.cc_rounds", "count", "lower"),
    ("linking.shuffle_mb", "MB", "lower"), ("linking.spill_mb", "MB", "lower"),
    ("agg.wall_s", "s", "lower"), ("agg.shuffle_mb", "MB", "lower"),
    ("agg.partial_rows", "count", "lower"), ("agg.rows_out", "count", "higher"),
    ("agg.task_skew", "ratio", "lower"),
    ("ingest.jobs_per_drain", "count", "lower"), ("ingest.rows_in", "count", "higher"),
    ("ingest.rows_written", "count", "higher"), ("ingest.dup_drop_ratio", "frac", "higher"),
    ("ingest.seen_read_ratio", "frac", "lower"), ("ingest.compactions", "count", "lower"),
    ("ingest.compaction_drain_s", "s", "lower"),
    ("dedup.wall_s", "s", "lower"), ("dedup.jobs", "count", "lower"),
    ("dedup.candidate_edges", "count", "lower"),
    *[(f"query.{q}.{m}", u, "lower") for q in QUERY_NAMES
      for m, u in (("s", "s"), ("jobs", "count"))],
    ("trace.op_s", "s", "lower"), ("trace.overhead_frac", "frac", "lower"),
    ("trace.span_coverage", "frac", "higher"),
]


@dataclass
class OpResult:
    detail: dict = field(default_factory=dict)


def _bcubed(pred: dict[str, str], gold: dict[str, str]) -> tuple[float, float]:
    """B-cubed precision and recall of a clustering (name → cluster id)
    against the planted one, over the names both sides know."""
    names = [n for n in gold if n in pred]
    joint: dict[tuple[str, str], int] = {}
    psize: dict[str, int] = {}
    gsize: dict[str, int] = {}
    for n in names:
        joint[(pred[n], gold[n])] = joint.get((pred[n], gold[n]), 0) + 1
        psize[pred[n]] = psize.get(pred[n], 0) + 1
        gsize[gold[n]] = gsize.get(gold[n], 0) + 1
    if not names:
        return 0.0, 0.0
    p = sum(k * k / psize[pc] for (pc, _g), k in joint.items()) / len(names)
    r = sum(k * k / gsize[gc] for (_p, gc), k in joint.items()) / len(names)
    return p, r


class Workload:
    name = ""
    cores = 4
    trace_ops = 1  # operations a traced run times with spans
    jobs_by_window = False  # attribute jobs to spans by time, not job group

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def stage(self) -> None:
        """Write the inputs."""

    def warm_up(self) -> None:
        """A small slice through the same code paths as ``op``."""

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, i: int, res: OpResult) -> list[str]:
        return []

    def after_op(self, i: int) -> None:
        """Reset state between operations (outside the timed interval)."""
        self.spark.catalog.clearCache()

    def trace(self, tracer: Tracer) -> None:
        pass

    def observe(self, res: OpResult) -> None:
        """Record what a traced operation left behind (outputs, files)
        while the session and the outputs still exist."""

    def layer_metrics(self, tracer: Tracer, log: EventLog, res: OpResult) -> dict:
        return {}


# ---------------------------------------------------------------------------
# kg_batch — KGPipeline.run over a closed- and an open-vocabulary corpus
# ---------------------------------------------------------------------------

class KgBatch(Workload):
    """Materialized batch KG construction over one corpus of two parts.
    The generator's closed-vocabulary documents go through the program's
    default rule extractor: extraction, stage writes and salted merges.
    Open-vocabulary documents name alias families of invented names, about
    20,800 distinct names in all, which push linking past the program's
    driver-path cap onto the Spark path (LSH band join with its star cap,
    pandas-UDF verification, connected components)."""

    name = "kg_batch"
    gen_docs = 2000
    ov_families = 3900
    ov_docs = 2800  # mentions every planted name
    warm_families = 200

    @property
    def corpus(self) -> str:
        return os.path.join(self.work, "corpus")

    def stage(self) -> None:
        """Generator documents written by Spark, then open-vocabulary
        documents as extra part files in the same directory."""
        import pyarrow.parquet as pq

        from mmore_spark.corpus.generator import generate_documents

        generate_documents(self.spark, self.gen_docs, seed=self.seed, partitions=self.cores) \
            .write.mode("overwrite").parquet(self.corpus)
        self.families = inputs.openvocab_families(self.seed, self.ov_families)
        table = inputs.openvocab_documents(self.seed, self.families, self.ov_docs)
        step = -(-self.ov_docs // self.cores)
        for k in range(self.cores):  # one file per core, like the Spark writer
            pq.write_table(table.slice(k * step, step),
                           os.path.join(self.corpus, f"part-ov-{k:05d}.parquet"))

    def _pipeline(self, wh: str):
        from mmore_spark.plans.pipeline import KGPipeline

        return KGPipeline(self.spark, wh, extractor=inputs.kg_extract)

    def warm_up(self) -> None:
        """The Spark linking path over the names of a few families.  Its
        first run in a JVM is what a cold pass pays most for (about 15 s
        of a 45 s cold pass on 4 vCPUs); the rest of the pipeline warms
        within a pass."""
        from mmore_spark.operators import linking

        fams = inputs.openvocab_families(self.seed + 1, self.warm_families, False)
        rows = [(f"warm-{k}", n.upper(), t) for k, (t, names) in enumerate(fams)
                for n in names]
        mentions = self.spark.createDataFrame(
            rows, "doc_id string, entity_name string, entity_type string")
        linking.canonicalize(mentions, driver_max_names=0).count()
        self.spark.catalog.clearCache()

    def wh(self, i: int) -> str:
        return os.path.join(self.work, f"wh_{i}")

    def op(self, i: int) -> OpResult:
        pipe = self._pipeline(self.wh(i))
        out = pipe.run(self.spark.read.parquet(self.corpus))
        rows = {r.name: r.rows for r in pipe.lineage()}
        return OpResult({"rows": rows, "out": out, "stages": pipe.lineage()})

    def after_op(self, i: int) -> None:
        super().after_op(i)
        shutil.rmtree(self.wh(i), ignore_errors=True)

    def check(self, i: int, res: OpResult) -> list[str]:
        rows = res.detail["rows"]
        if i > 0:
            # same input, same program: every stage must hold the rows the
            # fully checked first pass held
            return [] if rows == self._rows0 else [f"stage rows {rows} != {self._rows0}"]
        self._rows0 = rows
        return self._check_values(res.detail["out"])

    def _check_values(self, out) -> list[str]:
        """Triple P/R of the generator documents against the program's
        oracle, and cluster B-cubed P/R of all names against the oracle's
        clusters plus the planted open-vocabulary families."""
        from mmore_spark.corpus import oracle
        from mmore_spark.corpus.generator import generate_local

        docs = generate_local(self.gen_docs, self.seed)
        errs = []
        trips = out["triples"]
        got = [dict(r.asDict(), pred=list(r["pred"]))
               for r in trips.filter(~trips["doc_id"].startswith("ov-"))
               .select("doc_id", "subj", "obj", "pred").collect()]
        p, r = oracle.precision_recall(got, oracle.golden_triples(docs))
        if p < 0.95 or r < 0.95:
            errs.append(f"triple P/R {p:.4f}/{r:.4f} < 0.95")
        gold = {n: f"gen:{c}" for c, names in oracle.golden_clusters(docs).items()
                for n in names}
        gold.update({n.upper(): f"ov:{k}" for k, (_t, names) in enumerate(self.families)
                     for n in names})
        pred = {row["name"]: row["canonical_name"]
                for row in out["canonical_map"].select("name", "canonical_name").collect()}
        if set(pred) != set(gold):
            errs.append(f"{len(set(gold) - set(pred))} expected names missing, "
                        f"{len(set(pred) - set(gold))} unexpected names linked")
        p, r = _bcubed(pred, gold)
        if p < 0.95 or r < 0.95:
            errs.append(f"cluster B-cubed P/R {p:.4f}/{r:.4f} < 0.95")
        return errs

    def trace(self, tracer: Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from mmore_spark.io import tables
        from mmore_spark.operators import linking
        from mmore_spark.plans.pipeline import KGPipeline

        tracer.wrap(KGPipeline, "run", "pipeline.run")
        tracer.wrap(tables, "write_table",
                    lambda df, path, stage, *a, **k: f"tables.write_table:{stage}")
        tracer.wrap(tables, "read_table",
                    lambda spark, path: f"tables.read_table:{os.path.basename(path)}")
        tracer.wrap(DataFrameWriter, "parquet",
                    lambda w, path, *a, **k: "tables.lineage_write"
                    if path.rstrip("/").endswith("_lineage") else "tables.data_write")
        tracer.wrap(linking, "canonicalize", "linking.canonicalize")

        def keep(span, out, args, kwargs):
            # counted in ``observe``, after the operation: a count inside
            # the span would add a job the program does not run
            span.attrs["out"] = out

        tracer.wrap(linking, "candidate_pairs", "linking.candidate_pairs", after=keep)
        tracer.wrap(linking, "match_edges", "linking.match_edges", after=keep)

        def cc_metrics(span, out, args, kwargs):
            span.attrs.update(kwargs.get("metrics") or {})

        tracer.wrap(linking, "connected_components", "linking.connected_components",
                    after=cc_metrics)
        # the driver linking path verifies each candidate pair with this
        # predicate in the driver process: count calls and matches.  The
        # Spark path ships it to the workers inside its UDF, so the wrapper
        # closes over nothing but the counter list.
        match = linking.names_match_py
        pairs = self.driver_pairs = [0, 0]

        def counted(a, b):
            ok = match(a, b)
            pairs[0] += 1
            pairs[1] += ok
            return ok

        tracer.patch(linking, "names_match_py", counted)
        self.tracer = tracer

    def observe(self, res: OpResult) -> None:
        from mmore_spark.operators import linking

        mb, files = 0.0, 0
        for stage in res.detail["stages"]:
            for r, _d, fs in os.walk(stage.path):
                if "_lineage" in r:
                    continue
                for f in fs:
                    if f.endswith(".parquet"):
                        mb += os.path.getsize(os.path.join(r, f)) / 2**20
                        files += 1
        res.detail["written"] = (mb, files)
        # outside every span, so these jobs are attributed to no layer
        for s in self.tracer.named("linking."):
            if "out" in s.attrs:
                s.attrs["rows"] = s.attrs.pop("out").count()
        names = [r["name"] for r in res.detail["out"]["canonical_map"].select("name").collect()]
        res.detail["star_buckets"] = star_buckets(names, linking)

    def layer_metrics(self, tracer: Tracer, log: EventLog, res: OpResult) -> dict:
        m: dict[str, float] = {}
        pipe = tracer.named("pipeline.run")
        m["pipeline.wall_s"] = sum(s.wall for s in pipe)
        m["pipeline.jobs"] = len(log.jobs_in(tracer, pipe))
        # time in KGPipeline.run outside the stage writes, reads and linking
        m["pipeline.self_s"] = sum(self_time(tracer, s) for s in pipe)
        if m["pipeline.wall_s"]:
            m["pipeline.span_coverage"] = 1 - m["pipeline.self_s"] / m["pipeline.wall_s"]

        writes = tracer.named("tables.write_table:")
        data = [c for w in writes for c in tracer.children(w) if c.name == "tables.data_write"]
        data_jobs = {j.id for j in log.jobs_in(tracer, data)}
        write_jobs = log.jobs_in(tracer, writes)
        m["tables.write_s"] = sum(s.wall for s in writes)
        m["tables.jobs"] = len(write_jobs)
        m["tables.lineage_jobs"] = sum(j.id not in data_jobs for j in write_jobs)
        m["tables.lineage_s"] = m["tables.write_s"] - sum(s.wall for s in data)
        m["tables.mb_written"], m["tables.files_written"] = res.detail["written"]

        def write_of(stage: str):
            return [c for w in writes if w.name == f"tables.write_table:{stage}"
                    for c in tracer.children(w) if c.name == "tables.data_write"]

        ex = write_of("extracted")
        ex_tasks = task_sums(log.tasks_of(log.jobs_in(tracer, ex)))
        rows = res.detail["rows"]
        m["extract.wall_s"] = sum(s.wall for s in ex)
        m["extract.task_cpu_s"] = ex_tasks["cpu_s"]
        m["extract.python_s"] = ex_tasks["python_s"]
        m["extract.docs"] = rows["extracted"]
        m["extract.triples"] = rows["triples"]
        if ex_tasks["run_s"]:
            m["extract.docs_per_core_s"] = rows["extracted"] / ex_tasks["run_s"]

        canon = tracer.named("linking.canonicalize")
        link_jobs = log.jobs_in(tracer, canon)
        link_tasks = task_sums(log.tasks_of(link_jobs))
        m["linking.wall_s"] = sum(s.wall for s in canon)
        m["linking.jobs"] = len(link_jobs)
        m["linking.names"] = rows["canonical_map"]
        cand = tracer.named("linking.candidate_pairs")
        m["linking.spark_path"] = float(bool(cand))
        if cand:
            m["linking.candidate_pairs"] = sum(s.attrs["rows"] for s in cand)
            m["linking.verified_edges"] = sum(
                s.attrs["rows"] for s in tracer.named("linking.match_edges"))
        else:
            m["linking.candidate_pairs"], m["linking.verified_edges"] = self.driver_pairs
        if m["linking.candidate_pairs"]:
            m["linking.verify_ratio"] = m["linking.verified_edges"] / m["linking.candidate_pairs"]
        cc = tracer.named("linking.connected_components")
        m["linking.cc_twophase"] = float(any(s.attrs.get("strategy") == "twophase" for s in cc))
        m["linking.cc_rounds"] = sum(s.attrs.get("rounds", 0) for s in cc)
        m["linking.shuffle_mb"] = link_tasks["shuffle_mb"]
        m["linking.spill_mb"] = link_tasks["spill_mb"]
        m["linking.star_buckets"] = res.detail["star_buckets"]

        merge = write_of("triples_global") + write_of("entities_global")
        merge_tasks = log.tasks_of(log.jobs_in(tracer, merge))
        sums = task_sums(merge_tasks)
        m["agg.wall_s"] = sum(s.wall for s in merge)
        m["agg.shuffle_mb"] = sums["shuffle_mb"]
        m["agg.partial_rows"] = sums["shuffle_rows"]
        m["agg.rows_out"] = rows["triples_global"] + rows["entities_global"]
        m["agg.task_skew"] = task_skew(merge_tasks)
        return m


def star_buckets(names: list[str], linking) -> int:
    """(permutation, min-hash) buckets of the name LSH that exceed the
    program's star cap — a property of the name set, computed with the
    program's own token and hash functions."""
    from mmore_spark.hashing import h60_py

    sizes: dict[tuple[int, int], int] = {}
    tok_hash: dict[str, int] = {}
    for n in names:
        toks = linking.name_tokens_py(n)
        for p in range(linking.N_PERMUTATIONS) if toks else ():
            keys = [f"{t}#perm{p}" for t in toks]
            for k in keys:
                if k not in tok_hash:
                    tok_hash[k] = h60_py(k)
            b = (p, min(tok_hash[k] for k in keys))
            sizes[b] = sizes.get(b, 0) + 1
    return sum(1 for k in sizes.values() if k > linking.MAX_NAME_BUCKET)


# ---------------------------------------------------------------------------
# stream_ingest — repeated drains of the ingest verb
# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """Repeated ``stream_extract_triples`` drains.  Each drain stages one
    parquet file of fresh generator documents plus re-staged documents
    from earlier drains, which the program must drop.  The seen-id side
    table compacts when it holds more than 16 files: on every 17th drain."""

    name = "stream_ingest"
    fresh = 300
    restaged = 30
    warm_drains = 2
    # with the warm-up drains, the traced drains cross two seen-id
    # compactions (on every 17th drain)
    trace_ops = 32
    # drains run on the streaming query's thread, which does not carry the
    # caller's job group
    jobs_by_window = True

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.staging = os.path.join(work, "staging")
        self.output = os.path.join(work, "triples")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.rng = random.Random(seed)
        self.expected: dict[str, list[tuple]] = {}
        self.n_staged = 0  # batches staged so far
        self.next_doc = 0

    def _stage_next(self) -> None:
        """Write the next batch file: fresh docs plus re-staged ones."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mmore_spark.corpus.generator import build_doc, render_text_py
        from mmore_spark.operators.extract import parse_records, rule_extract

        old = self.rng.sample(range(self.next_doc), min(self.restaged, self.next_doc))
        fresh = range(self.next_doc, self.next_doc + self.fresh)
        self.next_doc += self.fresh
        docs = [build_doc(i, self.seed) for i in [*fresh, *old]]
        for d in docs[:self.fresh]:
            # the batch extraction of the same document, in the driver
            _e, triples = parse_records(rule_extract(render_text_py(d.spans)))
            self.expected[d.doc_id] = sorted((t["subj"], t["obj"], t["weight"])
                                             for t in triples)
        os.makedirs(self.staging, exist_ok=True)
        table = pa.table({"doc_id": [d.doc_id for d in docs],
                          "spans": pa.array([d.spans for d in docs],
                                            type=inputs.SPANS_TYPE)})
        pq.write_table(table, os.path.join(self.staging, f"batch-{self.n_staged:06d}.parquet"))
        self.n_staged += 1

    def stage(self) -> None:
        if self.n_staged == 0:
            self._stage_next()

    def _drain(self) -> dict:
        from mmore_spark.streaming.ingest import stream_extract_triples

        return stream_extract_triples(self.spark, self.staging, self.output, self.checkpoint)

    def warm_up(self) -> None:
        for _ in range(self.warm_drains):
            self._drain()
            self._stage_next()

    def op(self, i: int) -> OpResult:
        return OpResult({"counters": self._drain()})

    def after_op(self, i: int) -> None:
        super().after_op(i)
        self._stage_next()

    def check(self, i: int, res: OpResult) -> list[str]:
        """Every staged doc's triples have landed exactly once and equal
        its batch extraction (the batch staged for the next drain has not
        been drained yet)."""
        import pyarrow.dataset as ds

        t = ds.dataset(self.output, format="parquet").to_table(
            columns=["doc_id", "subj", "obj", "weight"]).to_pylist()
        got: dict[str, list[tuple]] = {}
        for r in t:
            got.setdefault(r["doc_id"], []).append((r["subj"], r["obj"], r["weight"]))
        want = {k: v for k, v in self.expected.items() if v}  # docs with triples
        bad = [d for d in set(got) | set(want) if sorted(got.get(d, [])) != want.get(d, [])]
        return [f"{len(bad)} docs' triples differ from their batch extraction, "
                f"e.g. {sorted(bad)[:3]}"] if bad else []

    def _recent_files(self) -> int:
        d = os.path.join(self.output, "_seen_ids", "recent")
        return sum(f.endswith(".parquet") for f in os.listdir(d)) if os.path.isdir(d) else 0

    def trace(self, tracer: Tracer) -> None:
        from mmore_spark.streaming import ingest

        recent = [self._recent_files()]

        def record(span, counters, args, kwargs):
            now = self._recent_files()
            # a drain appends one seen-id file; a compaction folds them all
            span.attrs.update(counters, compacted=now < recent[0])
            recent[0] = now

        tracer.wrap(ingest, "stream_extract_triples", "ingest.drain", after=record)

    def layer_metrics(self, tracer: Tracer, log: EventLog, res: OpResult) -> dict:
        drains = tracer.named("ingest.drain")
        counters = [s.attrs for s in drains]
        m: dict[str, float] = {}
        m["ingest.jobs_per_drain"] = len(log.jobs_in(tracer, drains, by_window=True)) / len(drains)
        m["ingest.rows_in"] = sum(c["rows_in"] for c in counters)
        m["ingest.rows_written"] = sum(c["rows_written"] for c in counters)
        if m["ingest.rows_in"]:
            m["ingest.dup_drop_ratio"] = 1 - m["ingest.rows_written"] / m["ingest.rows_in"]
        read = sum(c.get("seen_bytes_read", 0) for c in counters)
        total = sum(c.get("seen_bytes_total", 0) for c in counters)
        m["ingest.seen_read_ratio"] = read / total if total else 0.0
        comp = [s for s in drains if s.attrs["compacted"]]
        m["ingest.compactions"] = len(comp)
        m["ingest.compaction_drain_s"] = max((s.wall for s in comp), default=0.0)
        return m


# ---------------------------------------------------------------------------
# query_mix — warm passes over the 13 entry queries bench.py times
# ---------------------------------------------------------------------------

ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle.json")


def frame_digest(df) -> str:
    """sha256 of a result frame normalized as tools/check_oracle.py does
    (sorted columns and rows, floats rounded to 6 places)."""
    import hashlib

    from tools.check_oracle import normalize

    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()


class QueryMix(Workload):
    """Latency-bound entry queries over fixed sf0.1-shaped tables.  An
    operation is one pass that builds and collects every query's result,
    as a caller of the entry queries does; each result is checked against
    its DuckDB twin.  The tables do not depend on the seed, so that oracle
    is computed once (``perfbench/make_oracle.py``) and stored; the seed
    sets the order in which a pass runs the queries."""

    name = "query_mix"
    # warm-up slice: two cheap queries through the scan, Arrow and Python
    # worker paths.  A full warm pass would cost as much as the pass timed.
    warm_queries = ["tag_fingerprint", "chunk_word64"]

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.sf = os.path.join(work, "sf")
        self.order = list(QUERY_NAMES)
        random.Random(seed).shuffle(self.order)
        with open(ORACLE_FILE) as f:
            self.oracle = json.load(f)

    def stage(self) -> None:
        inputs.write_sf_tables(self.sf)

    def warm_up(self) -> None:
        for q in self.warm_queries:
            self._collect(q)
        self.spark.catalog.clearCache()

    def _collect(self, q: str):
        from mmore_spark.entryqueries import QUERIES

        return QUERIES[q](self.spark, self.sf).toPandas()

    def op(self, i: int) -> OpResult:
        frames, walls = {}, {}
        for q in self.order:
            t = time.perf_counter()
            frames[q] = self._collect(q)
            walls[q] = round(time.perf_counter() - t, 3)
        print(f"query walls {walls}", file=sys.stderr)
        return OpResult({"frames": frames})

    def check(self, i: int, res: OpResult) -> list[str]:
        """Every result against its DuckDB twin's row count and digest."""
        errs = []
        for q, got in res.detail["frames"].items():
            want = self.oracle[q]
            if len(got) != want["rows"] or frame_digest(got) != want["sha256"]:
                errs.append(f"{q}: rows {len(got)} vs oracle {want['rows']} or values differ")
        return errs

    def trace(self, tracer: Tracer) -> None:
        from mmore_spark.operators import dedup

        collect = self._collect

        def spanned(q: str):
            with tracer.span(f"query.{q}"):
                return collect(q)

        self._collect = spanned
        tracer.wrap(dedup, "minhash_band_signatures", "dedup.minhash_band_signatures")

    def layer_metrics(self, tracer: Tracer, log: EventLog, res: OpResult) -> dict:
        m: dict[str, float] = {}
        for q in QUERY_NAMES:
            spans = [s for s in tracer.named(f"query.{q}") if s.name == f"query.{q}"]
            m[f"query.{q}.s"] = sum(s.wall for s in spans)
            m[f"query.{q}.jobs"] = len(log.jobs_in(tracer, spans))
        sig = tracer.named("dedup.minhash_band_signatures")
        m["dedup.wall_s"] = sum(s.wall for s in sig)
        m["dedup.jobs"] = len(log.jobs_in(tracer, sig))
        # the candidate doc pairs of the banded self-join are that query's rows
        m["dedup.candidate_edges"] = len(res.detail["frames"]["dedup_minhash_pairs"])
        return m


WORKLOADS = {w.name: w for w in (KgBatch, StreamIngest, QueryMix)}
