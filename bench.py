"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: docs/sec of the KG triple-extraction pipeline (the
BASELINE.json throughput target) over the deterministic synthetic corpus,
plus the heavy relational/document/embedding queries from __spark_entry__.

The KG corpus is generated once per (seed, size) and cached as parquet in
/tmp so repeated runs and both parallelism levels of the scaling bench see
identical input (FIXTURES.md determinism rules).

Repeat protocol (VERDICT r5 Next #1): this host shows ±50% ambient per-leg
swing (identical code measured 8.9 vs 17.4 s on one leg), so single
readings cannot detect a real regression. Every leg now runs
SPARK_GRAFT_BENCH_REPEATS (default 3) times in ALTERNATING order — the
full heavy+KG sequence is repeated end-to-end, like scale_bench.py's
invocation alternation, so drift hits all legs symmetrically — and the
JSON reports the per-leg median (in "queries", driver-compatible) plus
{median, best, n, runs} detail. "value" is the sum of per-leg medians, so
round-over-round comparisons are made on medians.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fact_extraction_spark.session import host_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus()))
BENCH_SEED = 42


def _sf_from_dir(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return 0.1


CORPUS_PARTITIONS = 64  # pages file count = scan-parallelism ceiling


def corpus_dir(sf: float) -> tuple[str, int]:
    """Materialize (once) the KG bench corpus for this scale.
    SPARK_GRAFT_BENCH_PERSONS overrides the sf-derived corpus size (the
    scaling bench uses a larger corpus so per-task work amortizes overhead
    at the high parallelism level)."""
    n_persons = int(os.environ.get(
        "SPARK_GRAFT_BENCH_PERSONS", max(100, int(sf * 40000))))
    out = (f"/tmp/fx_bench_corpus_seed{BENCH_SEED}_n{n_persons}"
           f"_p{CORPUS_PARTITIONS}_d1")
    return out, n_persons


def ensure_corpus(spark, sf: float) -> tuple[str, int]:
    """Materialize (once) the deterministic bench corpus — generated
    DISTRIBUTED (fixtures.generate_bench_corpus) so corpus creation itself
    scales with cores instead of serializing on the driver."""
    from fact_extraction_spark.fixtures import generate_bench_corpus

    out, n_persons = corpus_dir(sf)
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        generate_bench_corpus(spark, BENCH_SEED, n_persons, out,
                              partitions=CORPUS_PARTITIONS)
        open(marker, "w").close()
    return out, n_persons


def run_kg_pipeline(spark, corpus: str) -> dict:
    """learn + extract over the bench corpus; returns timings + docs/sec.

    Bench hygiene (VERDICT r2 #5): every pipeline persist is released via
    the cache registry between legs, so each leg is timed against a clean
    executor-storage state instead of a heap full of the previous leg's
    pinned blocks."""
    from pyspark.sql import functions as F  # noqa: F401
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn, release_pipeline_caches)

    t = {n: spark.read.parquet(f"{corpus}/{n}.parquet")
         for n in ("pages", "facts", "types", "redirects", "ground_truth")}
    n_pages = t["pages"].count()
    cfg = PipelineConfig(articles_limit=0)

    t0 = time.time()
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  cfg, exclude_subjects=t["ground_truth"])
    # force model materialization (incl. the cached training-subject set)
    for df in (model.pattern_words, model.pattern_stats, model.pattern_types,
               model.type_probs, model.rel_stats, model.training_subjects):
        df.count()
    learn_sec = time.time() - t0
    # learn's windows/training-facts persists are dead weight once the
    # model tables are materialized
    release_pipeline_caches()

    t1 = time.time()
    triples = extract(spark, t["pages"], model, t["types"], t["redirects"], cfg)
    n_triples = triples.count()
    extract_sec = time.time() - t1
    release_pipeline_caches()

    # non-zero articles_limit run: exercises the distributed top-k discovery
    # cap (TakeOrderedAndProject + broadcast semi-join), which a zero limit
    # leaves dormant
    capped_cfg = PipelineConfig(articles_limit=2000)
    t2 = time.time()
    capped = extract(spark, t["pages"], model, t["types"], t["redirects"],
                     capped_cfg)
    capped.write.format("noop").mode("overwrite").save()
    capped_sec = time.time() - t2
    release_pipeline_caches()

    # dictionary-mode leg (north-star stage 2, default at-scale strategy):
    # same learned model, mention detection via the map-side AC dictionary
    # + tf-idf disambiguation instead of anchor tagging
    dict_cfg = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                              dictionary_strategy="mapside")
    t3 = time.time()
    dict_triples = extract(spark, t["pages"], model, t["types"],
                           t["redirects"], dict_cfg)
    dict_triples.write.format("noop").mode("overwrite").save()
    dict_sec = time.time() - t3
    release_pipeline_caches()

    # unanchored dictionary leg (the Common-Crawl cost shape): the
    # keeps-a-link sentence filter is lifted, so EVERY extracted sentence
    # goes through the AC automaton + tail join — this is what scanning
    # anchor-free web text costs at scale
    unanch_cfg = PipelineConfig(articles_limit=0, mention_mode="dictionary",
                                dictionary_strategy="mapside",
                                dictionary_scan_unanchored=True)
    t4 = time.time()
    unanch = extract(spark, t["pages"], model, t["types"],
                     t["redirects"], unanch_cfg)
    unanch.write.format("noop").mode("overwrite").save()
    unanch_sec = time.time() - t4
    release_pipeline_caches()
    model.unpersist()
    return {
        "learn_sec": learn_sec,
        "extract_sec": extract_sec,
        "capped_extract_sec": capped_sec,
        "dict_extract_sec": dict_sec,
        "dict_unanchored_extract_sec": unanch_sec,
        "pages": n_pages,
        "triples": n_triples,
        "docs_per_sec": n_pages / extract_sec if extract_sec > 0 else 0.0,
    }


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    from fact_extraction_spark.session import get_spark
    import __spark_entry__ as entry_mod

    sf = _sf_from_dir(SF_DIR)
    # the fixture corpus is tiny on disk; stop file bin-packing from
    # collapsing the 64 files into a couple of scan tasks (at real scale
    # files are ~128 MiB and the default packing is correct)
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": str(1 << 20),
                          "spark.sql.files.openCostInBytes": "0",
                      })
    spark.sparkContext.setLogLevel("ERROR")

    corpus, _ = ensure_corpus(spark, sf)

    n_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    runs: dict[str, list[float]] = {}

    def record(name: str, sec: float) -> None:
        runs.setdefault(name, []).append(round(sec, 3))

    # untimed warmup so the first timed query doesn't pay JVM/codegen
    # warmup (measured ~5 s on the first scan of a cold session)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    # heavy relational/document queries FIRST within each repeat, against a
    # clean heap — the KG legs run after, so query timings measure the
    # queries, not memory pressure from pipeline caches (VERDICT r2 #5)
    heavy = [
        "agg_scan_pushdown", "join_topk", "window_running",
        "type_probability", "dedup_exact", "token_count",
        "doc_fingerprint", "embedding_cosine_knn", "dictionary_mentions",
        "dictionary_mentions_mapside",
    ]
    qs = entry_mod.queries()
    kg_meta: dict = {}
    kg_triple_counts: list[int] = []
    wall0 = time.time()
    for _rep in range(n_repeats):
        for name in heavy:
            t1 = time.time()
            qs[name](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            record(name, time.time() - t1)

        kg = run_kg_pipeline(spark, corpus)
        record("kg_learn", kg["learn_sec"])
        record("kg_extract", kg["extract_sec"])
        record("kg_extract_capped", kg["capped_extract_sec"])
        record("kg_extract_dict", kg["dict_extract_sec"])
        record("kg_extract_dict_unanchored",
               kg["dict_unanchored_extract_sec"])
        kg_meta = kg
        kg_triple_counts.append(kg["triples"])

    assert len(set(kg_triple_counts)) == 1, \
        f"non-deterministic triple counts across repeats: {kg_triple_counts}"

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        return s[len(s) // 2]

    timings = {name: _median(xs) for name, xs in runs.items()}
    detail = {name: {"median": _median(xs), "best": min(xs),
                     "n": len(xs), "runs": xs}
              for name, xs in runs.items()}
    total = round(sum(timings.values()), 3)
    median_extract = timings["kg_extract"]
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,          # sum of per-leg MEDIANS (VERDICT r5 #1)
        "unit": "sec",
        "queries": timings,      # per-leg medians
        "queries_detail": detail,
        "repeats": n_repeats,
        "bench_wall_sec": round(time.time() - wall0, 1),
        "sf": sf,
        "kg_docs_per_sec": round(
            kg_meta["pages"] / median_extract, 2) if median_extract else 0.0,
        "kg_pages": kg_meta["pages"],
        "kg_triples": kg_meta["triples"],
        "cpus": int(CPUS),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
