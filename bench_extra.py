"""Extra measurement harness for optimization round 6 (guide §1).

NOT the frozen bench — this isolates phases with the noop sink and labeled
jobs so we can attribute kg_pipeline's wall to extraction / linking /
merges, and dumps .explain("formatted") for the bench queries.

Usage:
    python bench_extra.py phases          # phase-isolated kg_pipeline timings
    python bench_extra.py plans [tag]     # write plans/r06/<q>_<tag>.txt
    python bench_extra.py query NAME      # time one query with noop sink

Runs at local[N] with N shuffle partitions; N = $SPARK_GRAFT_CPUS, else
the CPU count `nproc` reports.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: the CPUs this process may run on (what `nproc` reports)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

BENCH_QUERIES = [
    "kg_triples", "kg_triples_global", "kg_mentions", "kg_entity_degree",
    "kg_linking_clusters", "kg_cooccurrence", "tag_fingerprint",
    "dedup_minhash_pairs", "dedup_jaccard_pairs", "sim_topk_cosine",
    "sim_ann_lsh_buckets", "rel_latest_wins", "chunk_word64",
]


def _spark():
    from mmore_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{CPUS}]",
                      extra_conf={"spark.sql.shuffle.partitions": str(CPUS)})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def phases() -> None:
    spark = _spark()
    sc = spark.sparkContext
    from mmore_spark.corpus.derive import derived_documents
    from mmore_spark.operators import extract, linking
    from mmore_spark.operators.agg import merge_triples_global
    from mmore_spark.functions.spans import render_text

    t = {}

    def lap(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        print(f"  {name}: {t[name]}s", flush=True)
        return out

    docs = derived_documents(spark, SF)
    lap("00_docs_count", docs.count)
    rendered = docs.select("doc_id", render_text("spans").alias("text"))
    lap("01_render_noop", lambda: noop(rendered))
    combined = extract.extract_combined(rendered, "text")
    lap("02_extract_noop", lambda: noop(combined))
    # phase-isolated pipeline mirror of bench._pipeline_docs_per_sec;
    # build_graph itself runs eager actions (localCheckpoint in
    # canonicalize, the CC probe), so time the call separately
    t0_all = time.time()
    from mmore_spark.plans.pipeline import build_graph
    state = {}
    lap("10_build_graph_call(eager linking actions)",
        lambda: state.update(zip("mcte", build_graph(docs))))
    merged = merge_triples_global(state["c"])
    lap("11_merged_count", merged.count)
    lap("12_entities_count", state["t"].count)
    t["total_pipeline"] = round(time.time() - t0_all, 3)
    print(t)


def plans(tag: str = "before") -> None:
    spark = _spark()
    from mmore_spark.entryqueries import QUERIES

    import contextlib
    import io

    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in BENCH_QUERIES:
        df = QUERIES[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(p)
        print(f"wrote {name}_{tag}.txt ({len(p)} bytes)")


def one_query(name: str, runs: int = 2) -> None:
    spark = _spark()
    from mmore_spark.entryqueries import QUERIES

    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{name} run {i}")
        t0 = time.time()
        n = QUERIES[name](spark, SF).count()
        print(f"{name} run {i}: {round(time.time() - t0, 3)}s rows={n}", flush=True)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "phases"
    if cmd == "phases":
        phases()
    elif cmd == "plans":
        plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif cmd == "query":
        one_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 2)
