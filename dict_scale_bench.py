"""Dictionary-strategy crossover bench (VERDICT r3 Next #6, r4 Next #6).

Validates the ``dictionary_strategy="auto"`` switch point (PipelineConfig
.dictionary_auto_threshold) by MEASURING the broadcast-vs-mapside crossover
instead of bracketing it: the scale corpus's full alias dictionary (~400k
pairs at the round-4 setting) is deterministically subsampled to a sweep of
sizes (env ``DICT_BENCH_KEEP_MODS``, default "32,8,4,2,1" → pairs/32 …
all pairs) on the SAME fixed corpus, and both strategies run at every size.
The crossover point — where mapside's fixed n-gram-join overhead is first
amortized by the shrinking broadcast/automaton cost advantage — is where
``dictionary_auto_threshold`` should sit.

Measures mention-DETECTION wall time (the part the strategy controls:
fused sentence pass + automaton hits [+ n-gram tail join] + ambiguity
split + any ranking) and appends a sweep table to BENCH/BASELINE.md.
Per-strategy mention rows are compared SET-WISE at every size (symmetric
exceptAll must be empty, not just equal counts — ADVICE r5), a free
row-for-row equivalence check.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    import bench
    from pyspark.sql import functions as F
    from fact_extraction_spark.caches import release as release_caches
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, collect_redirect_map)
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx, _page_mentions)
    from fact_extraction_spark.session import get_spark, host_cpus

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", host_cpus()))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    keep_mods = [int(m) for m in
                 os.environ.get("DICT_BENCH_KEEP_MODS", "32,8,4,2,1").split(",")]
    sf = bench._sf_from_dir(sf_dir)
    spark = get_spark("dict_scale_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": str(1 << 20),
                          "spark.sql.files.openCostInBytes": "0",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    corpus, _ = bench.ensure_corpus(spark, sf)
    pages = spark.read.parquet(f"{corpus}/pages.parquet")
    redirects = spark.read.parquet(f"{corpus}/redirects.parquet")
    n_pages = pages.count()
    full_cands = build_alias_candidates(pages, redirects)
    rmap_bc = collect_redirect_map(spark, redirects)
    threshold = PipelineConfig().dictionary_auto_threshold

    sweep = []
    for mod in keep_mods:
        # deterministic subsample BY ALIAS (xxhash64 % mod) so every
        # candidate entity of a kept alias rides along — ambiguity preserved
        cands = (full_cands if mod == 1 else full_cands.filter(
            F.pmod(F.xxhash64("alias"), F.lit(mod)) == 0))
        n_pairs = cands.count()
        results, mention_counts, mention_fps = {}, {}, {}
        for strategy in ("broadcast", "mapside"):
            cfg = PipelineConfig(mention_mode="dictionary",
                                 dictionary_strategy=strategy)
            t0 = time.time()
            ctx = _build_dict_ctx(spark, pages, redirects, cfg, cands=cands)
            mentions = _page_mentions(pages, rmap_bc, "en", ctx, cfg)
            # ONE pass computes the count AND a MULTISET fingerprint
            # (order-independent decimal-summed per-row xxhash64): equal
            # counts can mask differing rows (ADVICE r5) — the fingerprint
            # pins row-for-row equality. The per-row hash is codegen and
            # adds nothing measurable to the timed detection pass.
            agg = mentions.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*mentions.columns)
                      .cast("decimal(38,0)")).alias("h")).collect()[0]
            mention_counts[strategy] = agg["n"]
            results[strategy] = round(time.time() - t0, 2)
            mention_fps[strategy] = (agg["n"], str(agg["h"]))
            release_caches()
        winner = min(results, key=results.get)
        auto_pick = "broadcast" if n_pairs <= threshold else "mapside"
        row = {"keep_mod": mod, "pairs": n_pairs,
               "mentions_broadcast": mention_counts["broadcast"],
               "mentions_mapside": mention_counts["mapside"],
               "mentions_equal":
                   mention_fps["broadcast"] == mention_fps["mapside"],
               "broadcast_sec": results["broadcast"],
               "mapside_sec": results["mapside"],
               "winner": winner, "auto_picks": auto_pick,
               "auto_correct": winner == auto_pick}
        sweep.append(row)
        print(json.dumps(row))

    out = {"pages": n_pages, "threshold": threshold, "sweep": sweep,
           "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\nDictionary-strategy crossover sweep ({out['timestamp']}): "
            f"{n_pages} pages, fixed corpus, dictionary subsampled by "
            f"alias-hash; auto threshold {threshold} pairs.\n\n"
            "| pairs | broadcast s | mapside s | winner | auto picks | "
            "mentions row-equal |\n|---|---|---|---|---|---|\n")
        for r in sweep:
            f.write(f"| {r['pairs']} | {r['broadcast_sec']} "
                    f"| {r['mapside_sec']} | {r['winner']} "
                    f"| {r['auto_picks']}"
                    f"{'' if r['auto_correct'] else ' (WRONG)'} "
                    f"| {'yes' if r['mentions_equal'] else 'NO'} |\n")
    spark.stop()


if __name__ == "__main__":
    main()
