"""Stage-level timing of the dictionary extract legs (guide §1.4: noop-sink
isolation per sub-plan) — where do kg_extract_dict / _unanchored spend
their seconds at the driver's bench shape?

Reuses bench.py's corpus and model protocol exactly (anchors-mode learn,
then dictionary extract), but materializes each sub-stage separately:

  ctx        _build_dict_ctx (alias candidates, ambiguity split, collects)
  discovery  select_discovery_pages count
  mentions   _page_mentions materialized via noop (scan UDF + tail join +
             disambiguation)
  windows    slim_score_windows persist + count (the extract stage boundary)
  score      score_candidates noop over the cached windows
  e2e        the unsegmented extract() noop, for the cross-check

Measurement tooling only — bench.py stays the frozen driver contract.
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
LEG = os.environ.get("EXTRA_LEG", "dict_unanchored")  # dict | dict_unanchored
REPEATS = int(os.environ.get("EXTRA_REPEATS", "2"))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    import bench
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx, _page_mentions, extract, learn,
        release_pipeline_caches, select_discovery_pages)
    from fact_extraction_spark.operators.lexical_patterns import (
        candidate_windows)
    from fact_extraction_spark.operators.scoring import (
        score_candidates, slim_score_windows)
    from fact_extraction_spark.caches import track
    from fact_extraction_spark.session import get_spark
    from pyspark.sql import functions as F

    sf = bench._sf_from_dir(SF_DIR)
    spark = get_spark("bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": str(1 << 20),
                          "spark.sql.files.openCostInBytes": "0",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    corpus, _ = bench.ensure_corpus(spark, sf)
    t = {n: spark.read.parquet(f"{corpus}/{n}.parquet")
         for n in ("pages", "facts", "types", "redirects", "ground_truth")}

    cfg0 = PipelineConfig(articles_limit=0)
    model = learn(spark, t["pages"], t["facts"], t["types"], t["redirects"],
                  cfg0, exclude_subjects=t["ground_truth"])
    for df in (model.pattern_words, model.pattern_stats, model.pattern_types,
               model.type_probs, model.rel_stats, model.training_subjects):
        df.count()
    release_pipeline_caches()

    cfg = PipelineConfig(
        articles_limit=0, mention_mode="dictionary",
        dictionary_strategy="mapside",
        dictionary_scan_unanchored=(LEG == "dict_unanchored"))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def drop_ctx_cache():
        for k in [k for k in model.extras
                  if isinstance(k, tuple) and k and k[0] == "dict_ctx"]:
            model.extras.pop(k)
        model.extras.pop("dict_ctx", None)

    for rep in range(REPEATS):
        stage = {}
        drop_ctx_cache()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:e2e:{rep}")
        t0 = time.time()
        noop(extract(spark, t["pages"], model, t["types"], t["redirects"],
                     cfg))
        stage["e2e_cold"] = round(time.time() - t0, 3)
        release_pipeline_caches()

        spark.sparkContext.setJobDescription(f"extra:{LEG}:e2e_warm:{rep}")
        t0 = time.time()
        noop(extract(spark, t["pages"], model, t["types"], t["redirects"],
                     cfg))
        stage["e2e_warm"] = round(time.time() - t0, 3)
        release_pipeline_caches()
        drop_ctx_cache()

        t0 = time.time()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:ctx:{rep}")
        dict_ctx = _build_dict_ctx(spark, t["pages"], t["redirects"], cfg)
        stage["ctx"] = round(time.time() - t0, 3)

        t0 = time.time()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:discovery:{rep}")
        discovery = select_discovery_pages(t["pages"], model, t["types"], cfg)
        discovery.select("url").write.format("noop").mode("overwrite").save()
        stage["discovery"] = round(time.time() - t0, 3)

        rmap = model.extras.get("redirect_map_bc")
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:mentions:{rep}")
        mentions = _page_mentions(discovery, rmap, cfg.lang, dict_ctx, cfg)
        mentions = mentions.filter(~F.col("entity").contains("redlink=1"))
        noop(mentions)
        stage["mentions"] = round(time.time() - t0, 3)

        t0 = time.time()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:windows:{rep}")
        windows = slim_score_windows(
            candidate_windows(mentions, window=cfg.window)).persist()
        track(windows).count()
        stage["windows"] = round(time.time() - t0, 3)

        t0 = time.time()
        spark.sparkContext.setJobDescription(f"extra:{LEG}:score:{rep}")
        noop(score_candidates(
            windows, model.pattern_words, model.pattern_stats,
            model.pattern_types, model.type_probs, model.rel_stats,
            t["types"], allow_unknown_entity_types=True,
            match_threshold=cfg.match_threshold))
        stage["score"] = round(time.time() - t0, 3)

        release_pipeline_caches()
        drop_ctx_cache()
        stage["staged_sum"] = round(
            sum(v for k, v in stage.items() if not k.startswith("e2e")), 3)
        print(json.dumps({"leg": LEG, "rep": rep, "sf": sf, **stage}))
    spark.stop()


if __name__ == "__main__":
    main()
