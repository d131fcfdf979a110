"""The learn -> extract -> snapshot-commit lifecycle that
``jobs/run_pipeline.py`` runs: timed end to end, and a traced variant that
times each layer from outside by calling that layer's functions.

Both variants run learn, extract, commit and a read of the committed
snapshot, then check the output. The traced variant also makes a resume
commit, which must write nothing; it costs one more action over the whole
extract plan, so the timed variant, run far more often, leaves it out. The traced variant re-states
the orchestration of ``pipeline.learn`` and ``pipeline.extract`` for the
configurations the workloads use, calling the same functions in the same
order, and splits them at their persist boundaries. Inside
``pipeline._page_mentions`` it calls the helper itself and times the
operators that helper calls, by swapping the names it looks up for timed
wrappers for the length of the call. Where a wrapper has to materialise a
lazy result to time it, it counts it without persisting it, so later plans
keep the program's shape; the extra actions, and the rows they compute
again later, are part of ``trace.overhead_share``.

The generated aliases are unambiguous, so the extract ranks no link
candidates. On dictionary workloads the traced variant times
``link_ranking`` on its own, after the lifecycle, over the anchor mentions
of the thin pages, where a seeded share of the linked entities share their
alias with a decoy (``decoys``).
"""

from __future__ import annotations

import gc
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE = "triples"
NUM_PARTS = 8
# the ranking span: share of each object type's entities given a decoy
DECOY_SHARE = 0.5
OBJECT_TYPES = ("Settlement", "University", "Company")

SPAN_NAMES = (
    # learn side
    "pipeline.learn",
    "lexical_patterns.cap_training_facts",
    "mentions.anchor_windows_train",
    "lexical_patterns.learn",
    "type_patterns.learn",
    # extract side; pipeline.extract runs until the commit returns
    "pipeline.extract",
    "pipeline.discovery",
    "mentions.redirect_map",
    "mentions.dict_context",
    "mentions.scan",
    "mentions.candidates",
    "link_ranking.disambiguate",
    "lexical_patterns.windows",
    "scoring.score",
    # sink
    "sinks.commit",
    "sinks.resume",
    "sinks.read_committed",
)
SPAN_FIELD_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "rows_out": "rows", "busy_cores": "cores", "driver_idle_share": "ratio",
}
DERIVED_UNITS = {
    "mentions.scan.mb_per_s": "MB/s",
    "link_ranking.ambiguous_share": "ratio",
    "scoring.yield": "ratio",
    "pipeline.extract.segment_ratio": "ratio",
    "trace.overhead_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    units = {f"{s}.{f}": u for s in SPAN_NAMES
             for f, u in SPAN_FIELD_UNITS.items()}
    units.update(DERIVED_UNITS)
    return units


@dataclass(frozen=True)
class Workload:
    name: str
    pages: str                 # "thin" or "fat": which pages extract reads
    extract_cfg: dict = field(default_factory=dict)
    spark_conf: dict = field(default_factory=dict)


WORKLOADS = {
    # fixed per-action driver cost and scoring dominate
    "wiki_anchors": Workload("wiki_anchors", "thin"),
    # per-byte layers (stage-1 cascade, scan gate and automaton) and the
    # map-side dictionary; traced runs also time the link ranking
    "web_fat": Workload("web_fat", "fat", {
        "mention_mode": "dictionary", "dictionary_strategy": "mapside",
        "dictionary_scan_unanchored": True}, {
        # scan splits small enough to keep every core busy on the few
        # large files of padded pages, as fat_bench.py sets them
        "spark.sql.files.maxPartitionBytes": str(8 << 20),
        "spark.sql.files.openCostInBytes": "0"}),
}


@dataclass
class Inputs:
    pages: object          # thin, anchored: what learn reads
    facts: object
    types: object
    redirects: object
    ground_truth: object
    run_pages: object      # what extract reads
    n_pages: int
    html_mb: float


def open_inputs(spark, thin_dir: str, fat_pages: str | None) -> Inputs:
    """Open the tables and scan the html extract will read once."""
    from pyspark.sql import functions as F

    t = {n: spark.read.parquet(f"{thin_dir}/{n}.parquet")
         for n in ("pages", "facts", "types", "redirects", "ground_truth")}
    run_pages = spark.read.parquet(fat_pages) if fat_pages else t["pages"]
    size = run_pages.select(F.count("*"), F.sum(F.length("html"))).first()
    return Inputs(run_pages=run_pages, n_pages=size[0],
                  html_mb=size[1] / 1e6, **t)


def warm_up(spark, inp: Inputs) -> None:
    """One pass of the anchor-mention scan over the thin pages, so the
    Python workers and the Arrow path are up before anything is timed. It
    resolves no redirects: the program memoizes that per table."""
    from fact_extraction_spark.operators.mentions import (
        fused_anchor_mentions)

    fused_anchor_mentions(inp.pages, spark.sparkContext.broadcast({})).count()


def configs(wl: Workload):
    from fact_extraction_spark.plans.pipeline import PipelineConfig

    return (PipelineConfig(articles_limit=0),
            PipelineConfig(articles_limit=0, **wl.extract_cfg))


def model_tables(model) -> tuple:
    return (model.pattern_words, model.pattern_stats, model.pattern_types,
            model.type_probs, model.rel_stats, model.training_subjects)


def retained_heap_mb(spark, min_rounds: int = 4,
                     max_rounds: int = 10) -> float:
    """Live JVM heap after forced GCs, once Python has dropped its handles.
    Spark's cleaner frees unpersisted blocks, shuffles and broadcasts
    asynchronously, a GC or two after their handles die, so GC is repeated
    (at least ``min_rounds`` times) until two readings agree within 1%."""
    gc.collect()
    system = spark._jvm.java.lang.System
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for i in range(max_rounds):
        system.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if (i + 1 >= min_rounds and last is not None
                and abs(used - last) <= 0.01 * last):
            break
        last = used
        time.sleep(0.25)
    return used


@dataclass
class Outcome:
    learn_s: float = 0.0
    extract_commit_s: float = 0.0
    job_s: float = 0.0           # learn through the commit
    wall_s: float = 0.0          # learn through read_committed, no resume
    committed_rows: int = 0
    digest: str = ""
    precision: float = 0.0
    recall: float = 0.0
    layers: dict = field(default_factory=dict)
    segments_s: float = 0.0      # sum of pipeline.extract's child spans
    spans: list = field(default_factory=list)


def _commit(spark, triples, base):
    from fact_extraction_spark.sinks.snapshot import (
        commit_partitions, with_part_id)

    return commit_partitions(spark, with_part_id(triples, "subj", NUM_PARTS),
                             base, STAGE)


def _read_committed(spark, base) -> list[tuple[str, str, str]]:
    from fact_extraction_spark.sinks.snapshot import read_committed

    return [tuple(r) for r in read_committed(spark, base, STAGE)
            .select("subj", "pred", "obj").collect()]


def _check_output(spark, inp, base, committed, resumed, rows, ledger,
                  out: Outcome, evaluate_pr: bool) -> None:
    from fact_extraction_spark.plans.evaluate import evaluate
    from fact_extraction_spark.sinks.snapshot import read_committed

    from checks import micro_pr, triple_digest

    ledger.check("committed rows > 0", committed["rows"] > 0,
                 f"{committed}")
    ledger.check("read_committed rows == committed rows",
                 len(rows) == committed["rows"],
                 f"read {len(rows)}, committed {committed['rows']}")
    if resumed is not None:
        ledger.check("resume commits 0 partitions", resumed["parts"] == 0,
                     f"{resumed}")
    out.committed_rows = committed["rows"]
    out.digest = triple_digest(rows)
    if not evaluate_pr:
        return
    with ledger.op("evaluate"):
        per_pred = evaluate(read_committed(spark, base, STAGE),
                            inp.ground_truth).collect()
    out.precision, out.recall = micro_pr(r.asDict() for r in per_pred)


def run_timed(spark, inp: Inputs, wl: Workload, base: str, ledger,
              evaluate_pr: bool = True) -> Outcome:
    """One untraced lifecycle: what the end-to-end metrics measure.
    ``evaluate_pr`` adds precision/recall against the ground truth."""
    from fact_extraction_spark.plans.pipeline import (
        extract, learn, release_pipeline_caches)

    learn_cfg, cfg = configs(wl)
    out = Outcome()
    t0 = time.perf_counter()
    with ledger.op("learn"):
        model = learn(spark, inp.pages, inp.facts, inp.types, inp.redirects,
                      learn_cfg, exclude_subjects=inp.ground_truth)
        for df in model_tables(model):
            df.count()
    out.learn_s = time.perf_counter() - t0
    release_pipeline_caches()
    t1 = time.perf_counter()
    with ledger.op("extract+commit"):
        triples = extract(spark, inp.run_pages, model, inp.types,
                          inp.redirects, cfg)
        committed = _commit(spark, triples, base)
    out.extract_commit_s = time.perf_counter() - t1
    out.job_s = time.perf_counter() - t0
    with ledger.op("read_committed"):
        rows = _read_committed(spark, base)
    out.wall_s = time.perf_counter() - t0
    release_pipeline_caches()
    model.unpersist()
    del model, triples
    _check_output(spark, inp, base, committed, None, rows, ledger, out,
                  evaluate_pr)
    return out


# -- traced ---------------------------------------------------------------

def _traced_learn(spark, inp: Inputs, cfg, tracer):
    """pipeline.learn for anchors mode with broadcast redirects, split at
    its persist boundaries."""
    from pyspark.sql import functions as F

    from fact_extraction_spark.caches import track
    from fact_extraction_spark.operators.lexical_patterns import (
        cap_training_facts, learn_lexical_patterns)
    from fact_extraction_spark.operators.mentions import (
        collect_redirect_map, fused_anchor_windows)
    from fact_extraction_spark.operators.type_patterns import (
        learn_type_patterns)
    from fact_extraction_spark.plans.pipeline import LearnedModel

    if (cfg.mention_mode != "anchors" or cfg.redirect_strategy != "broadcast"
            or cfg.type_learner_facts_limit):
        raise ValueError("traced learn covers anchors mode with broadcast "
                         "redirects and uncapped type facts only")
    with tracer.span("lexical_patterns.cap_training_facts") as s:
        training_facts = track(cap_training_facts(
            inp.facts, relation_whitelist=cfg.relation_whitelist,
            facts_limit=cfg.facts_limit,
            relation_types_limit=cfg.relation_types_limit,
            exclude_subjects=inp.ground_truth).cache())
        s.rows_out = n_facts = training_facts.count()
    training_subjects = training_facts.select("subj").distinct()
    train_urls = training_subjects.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/"),
                 F.col("subj")).alias("url"))
    train_pages = inp.pages.join(train_urls, "url", "left_semi")
    with tracer.span("mentions.redirect_map") as s:
        redirect_map_bc = collect_redirect_map(spark, inp.redirects)
        s.rows_out = len(redirect_map_bc.value)
    with tracer.span("mentions.anchor_windows_train") as s:
        windows = track(fused_anchor_windows(
            train_pages, redirect_map_bc, lang=cfg.lang,
            window=cfg.window).persist())
        s.rows_out = windows.count()
    join_strategy = cfg.training_join_strategy
    if join_strategy == "auto":
        join_strategy = ("broadcast"
                         if n_facts <= cfg.training_join_auto_threshold
                         else "salted")
    with tracer.span("lexical_patterns.learn") as s:
        learned = learn_lexical_patterns(
            windows, training_facts, inp.types,
            least_threshold_words=cfg.least_threshold_words,
            least_threshold_types=cfg.least_threshold_types,
            join_strategy=join_strategy,
            salt_hot_min_count=cfg.salt_hot_min_count)
        s.rows_out = sum(learned[k].cache().count() for k in (
            "pattern_words", "pattern_stats", "pattern_types"))
    with tracer.span("type_patterns.learn") as s:
        type_probs, rel_stats = learn_type_patterns(
            inp.facts, inp.types, subject_minimum=cfg.subject_minimum,
            object_minimum=cfg.object_minimum)
        s.rows_out = type_probs.cache().count() + rel_stats.cache().count()
    model = LearnedModel(
        pattern_words=learned["pattern_words"],
        pattern_stats=learned["pattern_stats"],
        pattern_types=learned["pattern_types"],
        type_probs=type_probs, rel_stats=rel_stats,
        training_subjects=training_subjects,
        extras={"training_instances": learned["training_instances"],
                "redirect_map_bc": redirect_map_bc, "dict_ctx": None},
    ).cache()
    # cached only now, as in pipeline.learn: cached earlier, it would sit
    # inside every later plan that reads the windows
    training_subjects.count()
    return model


@contextmanager
def _page_mention_spans(tracer):
    """Swap the operators ``pipeline._page_mentions`` calls for timed
    wrappers while the block runs."""
    from fact_extraction_spark.caches import track
    from fact_extraction_spark.plans import pipeline

    def scan(fn):
        # _page_mentions persists and counts the scan itself; filling that
        # cache inside the span times the scan, its own count then hits it
        def wrapper(*args, **kwargs):
            with tracer.span("mentions.scan") as s:
                df = track(fn(*args, **kwargs).persist())
                s.rows_out = df.count()
            return df
        return wrapper

    def counted(span, fn):
        # no persist of our own: a cached relation the program does not
        # have would enlarge every later plan; the windows count computes
        # these rows again
        def wrapper(*args, **kwargs):
            with tracer.span(span) as s:
                df = fn(*args, **kwargs)
                s.rows_out = df.count()
            return df
        return wrapper

    swaps = {
        "fused_sentence_hits_and_anchors": scan(
            pipeline.fused_sentence_hits_and_anchors),
        "_mapside_union": counted("mentions.candidates",
                                  pipeline._mapside_union),
    }
    saved = {name: getattr(pipeline, name) for name in swaps}
    try:
        for name, fn in swaps.items():
            setattr(pipeline, name, fn)
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)


def _traced_extract(spark, inp: Inputs, model, cfg, tracer, counts: dict):
    """pipeline.extract (no known facts, canonicalisation, sort or int-url
    scoring), split at its persist boundaries; returns the lazy triples."""
    from pyspark.sql import functions as F

    from fact_extraction_spark.caches import track
    from fact_extraction_spark.operators.lexical_patterns import (
        candidate_windows)
    from fact_extraction_spark.operators.mentions import (
        collect_redirect_map, fused_anchor_windows)
    from fact_extraction_spark.operators.scoring import (
        score_candidates, slim_score_windows)
    from fact_extraction_spark.plans.pipeline import (
        _build_dict_ctx, _page_mentions, select_discovery_pages)

    if (cfg.scoring_int_url or cfg.canonicalize_output or cfg.sort_output
            or cfg.redirect_strategy != "broadcast"):
        raise ValueError("traced extract does not cover this configuration")
    with tracer.span("pipeline.discovery"):
        discovery = select_discovery_pages(inp.run_pages, model, inp.types,
                                           cfg)
    counts["discovery"] = discovery
    redirect_map_bc = model.extras.get("redirect_map_bc")
    if redirect_map_bc is None:
        with tracer.span("mentions.redirect_map") as s:
            redirect_map_bc = collect_redirect_map(spark, inp.redirects)
            s.rows_out = len(redirect_map_bc.value)
    if cfg.mention_mode == "anchors":
        with tracer.span("mentions.scan") as s:
            windows = track(slim_score_windows(fused_anchor_windows(
                discovery, redirect_map_bc, lang=cfg.lang,
                window=cfg.window, drop_redlinks=True)).persist())
            s.rows_out = windows.count()
    else:
        with tracer.span("mentions.dict_context") as s:
            dict_ctx = _build_dict_ctx(spark, inp.run_pages, inp.redirects,
                                       cfg, extras=model.extras)
            s.rows_out = len(dict_ctx["head_bc"].value)
        with _page_mention_spans(tracer):
            mentions = _page_mentions(discovery, redirect_map_bc, cfg.lang,
                                      dict_ctx, cfg)
        mentions = mentions.filter(~F.col("entity").contains("redlink=1"))
        with tracer.span("lexical_patterns.windows") as s:
            windows = track(slim_score_windows(
                candidate_windows(mentions, window=cfg.window)).persist())
            s.rows_out = windows.count()
    counts["windows"] = s.rows_out
    with tracer.span("scoring.score"):
        return score_candidates(
            windows, model.pattern_words, model.pattern_stats,
            model.pattern_types, model.type_probs, model.rel_stats,
            inp.types,
            allow_unknown_entity_types=cfg.allow_unknown_entity_types,
            match_threshold=cfg.match_threshold,
            type_matching=cfg.type_matching)


def decoys(entities_by_type: dict[str, list[str]],
           seed: int) -> dict[str, str]:
    """entity -> decoy: for ``DECOY_SHARE`` of each type's entities, another
    entity of the same type, chosen from ``seed``."""
    rng = random.Random(f"{seed}:decoys")
    out = {}
    for typ in sorted(entities_by_type):
        pool = sorted(entities_by_type[typ])
        if len(pool) < 2:
            continue
        for entity in rng.sample(pool, round(len(pool) * DECOY_SHARE)):
            out[entity] = rng.choice([e for e in pool if e != entity])
    return out


def _traced_ranking(spark, inp: Inputs, cfg, seed: int, tracer,
                    counts: dict) -> None:
    """``link_ranking`` as ``pipeline._page_mentions`` calls it: profiles
    from trusted anchor mentions, idf, then top-1 per span. The candidates
    are the thin pages' anchor mentions; a mention of an entity with a
    decoy gets a second candidate row, the decoy, under the same alias.
    Both inputs are cut from their lineage, so the plans are the ranking's
    own."""
    from pyspark.sql import functions as F

    from fact_extraction_spark.caches import track
    from fact_extraction_spark.operators.link_ranking import (
        build_entity_profiles, compute_idf, disambiguate_mentions)
    from fact_extraction_spark.operators.mentions import (
        collect_redirect_map, fused_anchor_mentions)

    by_type: dict[str, list[str]] = {}
    for r in (inp.types.filter(F.col("type").isin(*OBJECT_TYPES))
              .collect()):
        by_type.setdefault(r["type"], []).append(r["entity"])
    pairs = spark.createDataFrame(sorted(decoys(by_type, seed).items()),
                                  "entity string, decoy string")
    trusted = fused_anchor_mentions(
        inp.pages, collect_redirect_map(spark, inp.redirects),
        lang=cfg.lang).localCheckpoint()
    ambiguous = (trusted.join(F.broadcast(pairs), "entity")
                 .select("url", "sent_id", "rel_pos", "tokens", "start",
                         "end", F.replace("entity", F.lit("_"),
                                          F.lit(" ")).alias("alias"),
                         F.explode(F.array("entity", "decoy"))
                         .alias("entity"))
                 .localCheckpoint())
    with tracer.span("link_ranking.disambiguate") as s:
        profiles = track(build_entity_profiles(
            trusted, max_profile_words=cfg.max_profile_words).persist())
        ranked = disambiguate_mentions(ambiguous, profiles,
                                       compute_idf(profiles))
        s.rows_out = ranked.count()
    # every ambiguous span adds one decoy row to the candidates
    counts["ambiguous"] = ambiguous.count()
    counts["candidates"] = trusted.count() + counts["ambiguous"] // 2


def run_traced(spark, inp: Inputs, wl: Workload, base: str, ledger,
               cpu_seconds, seed: int) -> Outcome:
    """One traced lifecycle. ``Outcome.layers`` holds its per-layer metrics
    (all but the two ratios that need the untraced lifecycle) and
    ``Outcome.spans`` its span records."""
    from pyspark.sql import functions as F

    from fact_extraction_spark.plans.pipeline import release_pipeline_caches

    from spans import Tracer, layer_metrics

    learn_cfg, cfg = configs(wl)
    out = Outcome()
    counts: dict = {}
    with Tracer(spark.sparkContext, cpu_seconds) as tracer:
        t0 = time.perf_counter()
        with ledger.op("learn"), tracer.span("pipeline.learn"):
            model = _traced_learn(spark, inp, learn_cfg, tracer)
        out.learn_s = time.perf_counter() - t0
        release_pipeline_caches()
        t1 = time.perf_counter()
        with ledger.op("extract+commit"), \
                tracer.span("pipeline.extract") as extract_span:
            triples = _traced_extract(spark, inp, model, cfg, tracer, counts)
            with tracer.span("sinks.commit") as s:
                committed = _commit(spark, triples, base)
                s.rows_out = committed["rows"]
        out.extract_commit_s = time.perf_counter() - t1
        with ledger.op("resume"), \
                tracer.span("sinks.resume") as resume_span:
            resumed = _commit(spark, triples, base)
            resume_span.rows_out = resumed["rows"]
        with ledger.op("read_committed"), \
                tracer.span("sinks.read_committed") as s:
            rows = _read_committed(spark, base)
            s.rows_out = len(rows)
        out.wall_s = time.perf_counter() - t0 - resume_span.wall
        if cfg.mention_mode == "dictionary":
            with ledger.op("ranking"):
                _traced_ranking(spark, inp, cfg, seed, tracer, counts)

    # untimed: size of what the scan read
    disc = counts["discovery"].select(
        F.count("*").alias("n"),
        F.sum(F.length("html")).alias("b")).first()
    release_pipeline_caches()
    model.unpersist()
    del model, triples
    _check_output(spark, inp, base, committed, resumed, rows, ledger, out,
                  evaluate_pr=False)

    layers = layer_metrics(tracer.spans)
    layers["pipeline.discovery"]["rows_out"] = disc["n"]
    out.layers = {f"{name}.{f}": v for name, fields in layers.items()
                  for f, v in fields.items()}
    scan_wall = layers["mentions.scan"]["wall_s"]
    out.layers["mentions.scan.mb_per_s"] = (disc["b"] or 0) / 1e6 / scan_wall
    if "candidates" in counts:
        out.layers["link_ranking.ambiguous_share"] = (
            counts["ambiguous"] / counts["candidates"])
    out.layers["scoring.yield"] = committed["rows"] / counts["windows"]
    extract_idx = tracer.spans.index(extract_span)
    out.segments_s = sum(s.wall for s in tracer.spans
                         if s.parent == extract_idx)
    out.spans = tracer.to_records()
    return out
