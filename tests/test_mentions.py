"""Stage-2 mention detection: AC automaton, anchor tagging, redirects."""

import pytest
from fact_extraction_spark.operators.extract_text import explode_sentences, extract_text
from fact_extraction_spark.operators.mentions import (
    build_alias_table,
    collect_alias_broadcast,
    collect_redirect_map,
    detect_dictionary_mentions,
    resolve_redirects,
    tag_anchor_mentions,
)
from fact_extraction_spark.textops.aho import TokenAhoCorasick
from pyspark.sql import functions as F


def test_aho_corasick_token_matching():
    ac = TokenAhoCorasick.from_entries([
        (["Baltimore", ",", "Maryland"], "Baltimore"),
        (["Baltimore"], "Baltimore_(city)"),
        (["New", "York"], "New_York"),
    ])
    toks = "Born in Baltimore , Maryland near New York".split()
    hits = sorted(ac.find(toks))
    # overlapping hits: the 1-token alias and the 3-token alias both fire
    assert (2, 2, "Baltimore_(city)") in hits
    assert (2, 4, "Baltimore") in hits
    assert (6, 7, "New_York") in hits
    # reference TokenMatcher golden (tagged_sentence.py:58-64): counts
    ac2 = TokenAhoCorasick.from_entries([(["1", "0", "1", "0"], "p")])
    assert len(list(ac2.find(list("1011010")))) == 1
    assert len(list(ac2.find(list("101010")))) == 2


def test_resolve_redirects_multi_hop(spark, tables):
    resolved = {(r["alias"], r["target"])
                for r in resolve_redirects(tables["redirects"]).collect()}
    # 2-hop chain Old_Veldt -> Veldt_Haven -> Veldt_Harbor collapses
    assert ("Old_Veldt", "Veldt_Harbor") in resolved
    assert ("Veldt_Haven", "Veldt_Harbor") in resolved


def test_anchor_mentions_resolve_aliases(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None))
    rmap = collect_redirect_map(spark, tables["redirects"])
    mentions = tag_anchor_mentions(sents, rmap).cache()
    ents = {r["entity"] for r in mentions.select("entity").distinct().collect()}
    # the redirect-only city must surface under its canonical title
    assert "Veldt_Harbor" in ents
    assert "Veldt_Haven" not in ents
    # span sanity: mention tokens reproduce the alias text
    row = mentions.filter(F.col("entity") == "Veldt_Harbor").first()
    toks = row["tokens"][row["start"]: row["end"] + 1]
    assert toks == ["Veldt", "Haven"]


def test_dictionary_mentions_find_unlinked_entities(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None))
    alias_bc = collect_alias_broadcast(
        spark, build_alias_table(tables["pages"], tables["redirects"]))
    hits = detect_dictionary_mentions(sents, alias_bc)
    got = {r["entity"] for r in hits.select("entity").distinct().collect()}
    assert "Grandmere_City" in got  # hub entity found by dictionary scan
    assert "Veldt_Harbor" in got    # via its alias
    # case-variant alias resolves to the canonical capitalized title
    assert not any(e.startswith("grandmere") for e in got)


def test_anchor_and_dictionary_agree_on_linked_spans(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None)).cache()
    rmap = collect_redirect_map(spark, tables["redirects"])
    alias_bc = collect_alias_broadcast(
        spark, build_alias_table(tables["pages"], tables["redirects"]))
    anchor = tag_anchor_mentions(sents, rmap).select(
        "url", "sent_id", "start", "end", "entity")
    dictm = detect_dictionary_mentions(sents, alias_bc).select(
        "url", "sent_id", "start", "end", "entity")
    # every anchor mention is also found by the dictionary scan
    missing = anchor.join(dictm, ["url", "sent_id", "start", "end", "entity"],
                          "left_anti")
    assert missing.count() == 0


def test_fused_anchor_equals_chained(spark, tables):
    """The single-UDF fused path is row-identical to the 3-stage chain."""
    from fact_extraction_spark.operators.mentions import fused_anchor_mentions
    rmap = collect_redirect_map(spark, tables["redirects"])
    sents = explode_sentences(extract_text(tables["pages"], lang="en"))
    chained = tag_anchor_mentions(sents, rmap)
    fused = fused_anchor_mentions(tables["pages"], rmap, lang="en")
    cols = ["url", "sent_id", "rel_pos", "start", "end", "entity"]
    a = sorted(map(tuple, chained.select(*cols).collect()))
    b = sorted(map(tuple, fused.select(*cols).collect()))
    assert a == b and a


def test_fused_dictionary_equals_chained(spark, tables):
    """The page scan UDF with the full dictionary and an empty tail emits
    the sentence path's mention rows over the 3-stage chain."""
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, empty_tail_broadcasts,
        fused_sentence_hits_and_anchors, hot_hits)
    alias_bc = collect_alias_broadcast(
        spark, build_alias_candidates(tables["pages"], tables["redirects"]))
    rmap = collect_redirect_map(spark, tables["redirects"])
    sents = explode_sentences(extract_text(tables["pages"], lang="en"))
    chained = detect_dictionary_mentions(sents, alias_bc)
    ft_bc, wit_bc, _ = empty_tail_broadcasts(spark)
    fused = hot_hits(fused_sentence_hits_and_anchors(
        tables["pages"], alias_bc, rmap, lang="en",
        first_tok_bc=ft_bc, witness_bc=wit_bc))
    cols = ["url", "sent_id", "rel_pos", "start", "end", "alias", "entity"]
    a = sorted(map(tuple, chained.select(*cols).collect()))
    b = sorted(map(tuple, fused.select(*cols).collect()))
    assert a == b and a


def test_fused_anchor_windows_equals_composed(spark, tables):
    """The single-pass flat-window path reproduces candidate_windows over
    the mention path exactly (incl. 50-token cap, first-span pick,
    self-link drop, n_slots)."""
    from fact_extraction_spark.functions.uri import capitalize_first, strip_name
    from fact_extraction_spark.operators.lexical_patterns import candidate_windows
    from fact_extraction_spark.operators.mentions import (
        fused_anchor_mentions, fused_anchor_windows)

    rmap = collect_redirect_map(spark, tables["redirects"])
    mentions = fused_anchor_mentions(tables["pages"], rmap, lang="en").filter(
        F.col("entity") != capitalize_first(strip_name("url")))
    composed = candidate_windows(mentions, window=4)
    fused = fused_anchor_windows(tables["pages"], rmap, lang="en", window=4)

    def rows(df):
        return sorted(
            (r["url"], r["sent_id"], r["rel_pos"], r["subject"], r["object"],
             r["n_slots"], tuple((s["slot"], s["word"]) for s in r["slots"]))
            for r in df.collect())

    a, b = rows(composed), rows(fused)
    assert a == b and a


# --------------------------------------------------------------------------
# map-side dictionary detection (bounded head + relational tail)
# --------------------------------------------------------------------------

def test_split_alias_dictionary_partitions_by_alias(spark, tables):
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, split_alias_dictionary)

    cands = build_alias_candidates(tables["pages"], tables["redirects"])
    head, tail = split_alias_dictionary(cands, hot_k=5, max_tail_tokens=3)
    full = {(r["alias"], r["entity"]) for r in cands.collect()}
    h = {(r["alias"], r["entity"]) for r in head.collect()}
    t = {(r["alias"], r["entity"]) for r in tail.collect()}
    assert h | t == full          # nothing lost
    assert not (h & t)            # nothing duplicated
    # split is per alias: no alias appears on both sides
    assert not ({a for a, _ in h} & {a for a, _ in t})
    # every >max_tail_tokens alias lives in the head (the n-gram join can't
    # see longer grams)
    from fact_extraction_spark.textops.tokenizer import tokenize
    assert all(len(tokenize(a)) <= 3 for a, _ in t)
    # tail join keys are in frozen-tokenizer space
    for r in tail.collect():
        assert r["key"] == " ".join(tokenize(r["alias"]))


def _page_path_mentions(spark, pages, rmap, head, tail, max_rows=None):
    """Dictionary mention rows the way pipeline._page_mentions detects
    them (before ranking): the page scan UDF over the broadcast head,
    then _mapside_union with the tail; ``max_rows`` bounds the tail
    broadcasts (0 forces the posexplode fallback)."""
    from fact_extraction_spark.operators.mentions import (
        TAIL_BROADCAST_ROWS, _mapside_union, collect_tail_broadcasts,
        fused_sentence_hits_and_anchors)

    head_bc = collect_alias_broadcast(spark, head.select("alias", "entity"))
    ft_bc, wit_bc, tail_empty = collect_tail_broadcasts(
        tail, TAIL_BROADCAST_ROWS if max_rows is None else max_rows)
    sent = fused_sentence_hits_and_anchors(
        pages, head_bc, rmap, lang=None,
        first_tok_bc=ft_bc, witness_bc=wit_bc)
    return _mapside_union(sent, tail, 6, use_cand=ft_bc is not None,
                          tail_empty=tail_empty)


def test_mapside_dictionary_detection_equals_broadcast(spark, tables):
    """The hot-head automaton + n-gram tail join emits exactly the mention
    rows of the full-dictionary head with an empty tail (mentions.py
    module docstring contract)."""
    from fact_extraction_spark.operators.mentions import (
        alias_join_keys, build_alias_candidates, split_alias_dictionary)

    pages = tables["pages"]
    rmap = collect_redirect_map(spark, tables["redirects"])
    cands = build_alias_candidates(pages, tables["redirects"])

    def rows(df):
        return {(r["url"], r["sent_id"], r["start"], r["end"],
                 r["alias"], r["entity"]) for r in df.collect()}

    want = rows(_page_path_mentions(spark, pages, rmap, cands,
                                    alias_join_keys(cands).limit(0)))

    # tiny hot_k so the tail path carries real weight
    head, tail = split_alias_dictionary(cands, hot_k=3, max_tail_tokens=6)
    got_rows = _page_path_mentions(spark, pages, rmap, head, tail).collect()
    got = {(r["url"], r["sent_id"], r["start"], r["end"],
            r["alias"], r["entity"]) for r in got_rows}
    assert got == want and want
    assert {r[4] for r in got} - {
        r["alias"] for r in head.select("alias").collect()}, \
        "the tail join must contribute hits"
    # tokens context rides along on both paths (link ranking needs it)
    assert all(r["tokens"] for r in got_rows)


def test_anchor_windows_relational_equals_broadcast(spark, tables):
    """redirect_strategy="join" (zero driver state: unresolved spans +
    relational resolve/dedup/self-link) is row-identical to the match-time
    broadcast-dict path, incl. the redirect-only entity, multi-hop chains
    and the capitalize hotfix."""
    from fact_extraction_spark.operators.mentions import (
        anchor_windows_relational, fused_anchor_windows)

    rmap = collect_redirect_map(spark, tables["redirects"])
    bc = fused_anchor_windows(tables["pages"], rmap, lang="en", window=4)
    jn = anchor_windows_relational(tables["pages"], tables["redirects"],
                                   lang="en", window=4)

    def rows(df):
        return sorted(
            (r["url"], r["sent_id"], r["rel_pos"], r["subject"], r["object"],
             r["n_slots"], tuple((s["slot"], s["word"]) for s in r["slots"]))
            for r in df.collect())

    a, b = rows(bc), rows(jn)
    assert a == b and a


@pytest.mark.slow
def test_pipeline_join_redirect_strategy_matches_broadcast(spark, tables):
    """Full learn+extract under redirect_strategy="join" emits the same
    triples as the default broadcast strategy (and never builds the
    redirect map broadcast)."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, extract, learn)

    outs = {}
    for strategy in ("broadcast", "join"):
        cfg = PipelineConfig(articles_limit=0, redirect_strategy=strategy)
        model = learn(spark, tables["pages"], tables["facts"],
                      tables["types"], tables["redirects"], cfg,
                      exclude_subjects=tables["ground_truth"])
        if strategy == "join":
            assert model.extras["redirect_map_bc"] is None
        triples = extract(spark, tables["pages"], model, tables["types"],
                          tables["redirects"], cfg)
        outs[strategy] = {(r["subj"], r["pred"], r["obj"], round(r["score"], 9))
                          for r in triples.collect()}
    assert outs["broadcast"] == outs["join"] and outs["broadcast"]


def test_dictionary_strategy_auto_switch(spark, tables):
    """dictionary_strategy="auto" picks broadcast under the pair-count
    threshold (mapside's extra shuffles are pure overhead on a small
    dictionary) and mapside above it."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx)

    small = PipelineConfig(dictionary_strategy="auto",
                           dictionary_auto_threshold=1_000_000)
    ctx = _build_dict_ctx(spark, tables["pages"], tables["redirects"], small)
    assert ctx["mode"] == "broadcast"
    # broadcast = the whole dictionary in the head, a known-empty tail
    assert ctx["tail_empty"] is True
    assert ctx["first_tok_bc"].value == frozenset()
    assert ctx["witness_bc"].value == frozenset()

    big = PipelineConfig(dictionary_strategy="auto",
                         dictionary_auto_threshold=0)
    ctx2 = _build_dict_ctx(spark, tables["pages"], tables["redirects"], big)
    assert ctx2["mode"] == "mapside"
    ctx2["tail"].unpersist()


def test_capitalize_colliding_redirects_resolve_identically(spark):
    """Two aliases collapsing to one capitalize_first form with different
    targets: both the broadcast dict and the relational join keep the same
    deterministic (min) target, so the paths stay row-identical."""
    from fact_extraction_spark.operators.mentions import (
        anchor_windows_relational, fused_anchor_windows)

    redirects = spark.createDataFrame(
        [("vale_Town", "Zeta_City"), ("Vale_Town", "Alpha_City")],
        "alias string, target string")
    html = b"Kim grew up in [[Vale Town]] for years.\n\nA second paragraph."
    pages = spark.createDataFrame(
        [("https://en.wikipedia.org/wiki/Kim", html, "en")],
        "url string, html binary, lang string")

    rmap = collect_redirect_map(spark, redirects)
    assert rmap.value["Vale_Town"] == "Alpha_City"  # deterministic min

    def rows(df):
        return sorted(
            (r["url"], r["sent_id"], r["subject"], r["object"])
            for r in df.collect())

    bc = rows(fused_anchor_windows(pages, rmap, lang="en", window=2))
    jn = rows(anchor_windows_relational(pages, redirects, lang="en", window=2))
    assert bc == jn and bc
    assert bc[0][3] == "Alpha_City"


def test_mapside_first_token_prune_fallback_identical(spark, tables):
    """The in-scan candidate path (tail first-token set broadcast into the
    scan UDF: filler sentences pruned before Arrow, only candidate
    positions explode) and the posexplode + semi-join fallback (tail sets
    over their broadcast bound) emit identical mention rows."""
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, split_alias_dictionary)

    pages = tables["pages"]
    rmap = collect_redirect_map(spark, tables["redirects"])
    cands = build_alias_candidates(pages, tables["redirects"])
    head, tail = split_alias_dictionary(cands, hot_k=3, max_tail_tokens=6)

    def rows(max_rows):
        return sorted(
            (r["url"], r["sent_id"], r["start"], r["end"],
             r["alias"], r["entity"], tuple(r["tokens"]))
            for r in _page_path_mentions(spark, pages, rmap, head, tail,
                                         max_rows).collect())

    pruned, fallback = rows(None), rows(0)
    assert pruned == fallback and pruned


def test_unanchored_mapside_prune_identical_through_pipeline(
        spark, tables, monkeypatch):
    """Pruning (tail sets broadcast) and the fallback (the broadcast bound
    lowered to 0) are mention-row-identical through the full
    _page_mentions plan in the web shape that exercises every branch at
    once: mapside strategy (hot head + n-gram tail) +
    dictionary_scan_unanchored (every sentence scanned, anchors lifted) +
    ambiguity ranking riding on anchor-built profiles."""
    from fact_extraction_spark.plans import pipeline

    rmap = collect_redirect_map(spark, tables["redirects"])
    cfg = pipeline.PipelineConfig(mention_mode="dictionary",
                                  dictionary_strategy="mapside",
                                  dictionary_scan_unanchored=True,
                                  dictionary_hot_k=3)
    outs = []
    for bound in (pipeline.TAIL_BROADCAST_ROWS, 0):
        monkeypatch.setattr(pipeline, "TAIL_BROADCAST_ROWS", bound)
        ctx = pipeline._build_dict_ctx(spark, tables["pages"],
                                       tables["redirects"], cfg)
        assert (ctx["first_tok_bc"] is not None) == (bound > 0)
        m = pipeline._page_mentions(tables["pages"], rmap, "en", ctx, cfg)
        outs.append(sorted(
            (r["url"], r["sent_id"], r["start"], r["end"], r["entity"])
            for r in m.collect()))
        ctx["tail"].unpersist()
    assert outs[0] == outs[1] and outs[0]


def test_broadcast_is_mapside_with_empty_tail(spark, tables):
    """Both dictionary strategies build one context shape, and with
    unanchored scanning and ambiguous aliases (ranking active) they give
    identical _page_mentions rows: "broadcast" is the empty-tail case of
    the map-side plan."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx, _page_mentions)

    # a second target for an alias the pages mention ("Veldt Haven")
    redirects = tables["redirects"].unionByName(spark.createDataFrame(
        [("Veldt_Haven", "Grandmere_City")], "alias string, target string"))
    rmap = collect_redirect_map(spark, redirects)
    ctxs, outs = {}, {}
    for strategy in ("broadcast", "mapside"):
        cfg = PipelineConfig(mention_mode="dictionary",
                             dictionary_strategy=strategy,
                             dictionary_scan_unanchored=True,
                             dictionary_hot_k=3)
        ctx = ctxs[strategy] = _build_dict_ctx(
            spark, tables["pages"], redirects, cfg)
        assert "Veldt Haven" in {
            r["alias"] for r in ctx["ambiguous"].collect()}
        outs[strategy] = sorted(
            (r["url"], r["sent_id"], r["start"], r["end"], r["entity"])
            for r in _page_mentions(tables["pages"], rmap, "en", ctx,
                                    cfg).collect())
    assert set(ctxs["broadcast"]) == set(ctxs["mapside"])
    assert ctxs["broadcast"]["tail_empty"]
    assert not ctxs["mapside"]["tail_empty"]
    assert outs["broadcast"] == outs["mapside"] and outs["broadcast"]
    for ctx in ctxs.values():
        ctx["tail"].unpersist()


def test_dict_ctx_memo_evicts_oldest(spark):
    """A model holds at most four memoized dictionary contexts: a fifth
    evicts the oldest, and asking for the evicted one rebuilds it."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx)

    pages = spark.createDataFrame(
        [("https://en.wikipedia.org/wiki/Alpha_City", b"x", "en")],
        "url string, html binary, lang string")
    redirects = spark.createDataFrame(
        [("Old Alpha", "Alpha_City")], "alias string, target string")
    extras: dict = {}

    def build(hot_k):
        cfg = PipelineConfig(mention_mode="dictionary",
                             dictionary_strategy="broadcast",
                             dictionary_hot_k=hot_k)
        return _build_dict_ctx(spark, pages, redirects, cfg, extras=extras)

    first = build(1)
    assert build(1) is first                  # memo hit
    for hot_k in (2, 3, 4, 5):
        build(hot_k)
    memo = [k for k in extras if k[0] == "dict_ctx"]
    assert len(memo) == 4
    assert [k[3] for k in memo] == [2, 3, 4, 5]  # hot_k 1 evicted first
    again = build(1)
    assert again is not first                 # rebuilt, not served stale
    assert [k[3] for k in extras if k[0] == "dict_ctx"] == [3, 4, 5, 1]


def test_scan_skip_set_fast_path_is_exact():
    """The C-speed filler fast path rests on one invariant: every automaton
    match's FIRST token is a root transition (aliases are added from the
    root), so `start_tokens.isdisjoint(tokens)` ⟹ no match. Property-check
    it against brute-force substring search over random token-space
    dictionaries and sentences."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    toks = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "y"])
    alias_st = st.lists(toks, min_size=1, max_size=3)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(alias_st, min_size=1, max_size=8),
           st.lists(toks, min_size=0, max_size=12))
    def check(aliases, sentence):
        # one entry per distinct alias (production dictionaries are
        # distinct (alias, entity) pairs; duplicate add()s duplicate hits)
        aliases = [list(a) for a in {tuple(a) for a in aliases}]
        ac = TokenAhoCorasick.from_entries(
            (a, (" ".join(a), " ".join(a).title())) for a in aliases)
        hits = sorted((s, e) for s, e, _ in ac.find(sentence))
        # brute force: every alias occurrence as a contiguous token run
        want = sorted(
            (i, i + len(a) - 1)
            for a in {tuple(a) for a in aliases}
            for i in range(len(sentence) - len(a) + 1)
            if tuple(sentence[i:i + len(a)]) == tuple(a))
        assert hits == want
        # the fast-path implication: disjoint ⟹ no hits
        if ac.start_tokens.isdisjoint(sentence):
            assert not hits
        # the occurrence-anchored scan path is hit-identical to find()
        from fact_extraction_spark.operators.mentions import _scan_tokens
        got2, _ = _scan_tokens(list(sentence), ac, ac.start_tokens, None)
        assert sorted((s, e) for s, e, _a, _n in got2) == want

    check()


def test_skip_probe_never_false_negative():
    """The raw-sentence probe regex (build_skip_probe + _probe_text) is a
    conservative SUPERSET test: probe miss ⟹ the tokenization of the
    NORMALIZED sentence contains no skip token. Property-checked over
    adversarial raw sentences — non-ASCII chars and [n] footnotes whose
    deletion merges fragments into new tokens, 1-char words, punctuation —
    against the exact tokenize(normalize_sentence(raw)) membership."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _probe_text, build_skip_probe)
    from fact_extraction_spark.textops.tokenizer import tokenize
    from fact_extraction_spark.textops.wikitext import normalize_sentence

    piece = st.sampled_from(
        ["Par", "is", "Lyon", "a", "I", "x", "don't", ".", ",", "[1]",
         "[12]", "é", "ü", " ", "  ", "qu", "el", "Quel"])
    raw_st = st.lists(piece, min_size=0, max_size=12).map("".join)
    tok_st = st.sampled_from(
        ["Paris", "Lyon", "Quel", "don't", "is", ".", ",", "x", "quel"])

    @settings(max_examples=300, deadline=None)
    @given(st.sets(tok_st, min_size=1, max_size=5), raw_st)
    def check(skip_toks, raw):
        skip = frozenset(skip_toks)
        probe = build_skip_probe(skip)
        assert probe is not None
        toks = tokenize(normalize_sentence(raw))
        if probe.search(_probe_text(raw)) is None:
            assert skip.isdisjoint(toks), (skip, raw, toks)

    check()


def test_witness_gate_never_false_negative():
    """The witness gate (TokenAhoCorasick.witness_tokens ∪ tail witnesses)
    is a NECESSARY condition for any match: gate-disjoint sentences have
    no automaton hit AND no tail n-gram match. Property-checked with
    stop-word-headed aliases ("the X" — the case that defeats the
    start-token condition) against brute-force occurrence search."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _is_witness_token, _scan_gate_set, _scan_skip_set, _scan_tokens)

    toks = st.sampled_from(["the", "of", "a", "Alpha", "Beta", "Gamma", "x"])
    alias_st = st.lists(toks, min_size=1, max_size=3)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(alias_st, min_size=1, max_size=6),
           st.lists(toks, min_size=0, max_size=10))
    def check(aliases, sentence):
        aliases = [list(a) for a in {tuple(a) for a in aliases}]
        ac = TokenAhoCorasick.from_entries(
            (a, (" ".join(a), "E")) for a in aliases)
        gate = _scan_gate_set(ac, None)
        want = sorted(
            (i, i + len(a) - 1)
            for a in {tuple(a) for a in aliases}
            for i in range(len(sentence) - len(a) + 1)
            if tuple(sentence[i:i + len(a)]) == tuple(a))
        # necessary condition: any match implies a witness in the sentence
        if gate.isdisjoint(sentence):
            assert not want
        # and the gated scan still finds every match
        got, _ = _scan_tokens(list(sentence), ac,
                              _scan_skip_set(ac, None), None, gate)
        assert sorted((s, e) for s, e, _a, _n in got) == want
        # witness construction: every alias contributes exactly one token
        wits = ac.witness_tokens(_is_witness_token)
        for a in aliases:
            assert any(t in wits for t in a), (a, wits)

    check()


def test_paragraph_probe_never_false_negative():
    """Paragraph-level probe conservativeness (the round-7 fast path): a
    probe miss on _probe_text(paragraph_plain) implies EVERY sentence the
    paragraph splits into has a normalized tokenization disjoint from the
    skip set — deletions (non-ASCII, [n] footnotes) commute with the
    line/sentence splits and separator chars are never deleted, so each
    sentence's probe-text is a substring of the paragraph's. Checked
    against the exact per-sentence membership over adversarial paragraphs
    (deletion fragments at sentence boundaries, multi-line, 1-char
    words)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _probe_text, build_skip_probe)
    from fact_extraction_spark.textops.tokenizer import tokenize
    from fact_extraction_spark.textops.wikitext import (
        normalize_sentence, split_paragraph_sentences)

    piece = st.sampled_from(
        ["Par", "is", "Lyon", "a", "I", "x", "don't", ".", "!", "?", ",",
         "[1]", "[12]", "é", "ü", " ", "  ", "\n", "qu", "el", "Quel",
         ". ", "! ", "? "])
    para_st = st.lists(piece, min_size=0, max_size=16).map("".join)
    tok_st = st.sampled_from(
        ["Paris", "Lyon", "Quel", "don't", "is", ".", ",", "x", "quel"])

    @settings(max_examples=400, deadline=None)
    @given(st.sets(tok_st, min_size=1, max_size=5), para_st)
    def check(skip_toks, plain):
        skip = frozenset(skip_toks)
        probe = build_skip_probe(skip)
        assert probe is not None
        if probe.search(_probe_text(plain)) is None:
            for sent in split_paragraph_sentences(plain):
                toks = tokenize(normalize_sentence(sent))
                assert skip.isdisjoint(toks), (skip, plain, sent, toks)

    check()


def _para_fastpath_pages(spark):
    """Handcrafted corpus exercising every paragraph-fast-path branch:
    inert multi-sentence paragraphs (probe skips whole paragraph), a
    paragraph whose LAST sentence holds the only dictionary hit (probe
    must not skip), a stop-word-headed alias, anchored paragraphs, and
    deletion fragments (non-ASCII / footnotes) at boundaries — with
    hit-bearing sentences AFTER skipped paragraphs so a sent_id drift
    would shift their ids and fail the row comparison."""
    wikitext = (
        "Inert filler one. Nothing here! More filler?\n"
        "Second line of filler.\n\n"
        "Another inert block. Entirely boring words.\n\n"
        "Boring start here. Then Alpha City appears at the end.\n\n"
        "The grand finale sentence mentions The Grand City today.\n\n"
        "Linked [[Alpha City]] paragraph sentence. No link sentence here.\n\n"
        "Fragmenté filler[1] block. Café words only.\n\n"
        "Alpha City leads this one. Trailing filler sentence.\n\n")
    rows = [("https://en.wikipedia.org/wiki/Page_%d" % i, "2023-01-01",
             wikitext.encode("utf-8"), "en") for i in range(3)]
    return spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, lang string")


def test_paragraph_fastpath_rows_identical(spark):
    """The page scan UDF with an empty tail (pruning, witness gate, probes
    and paragraph skip active) emits exactly the pruned projection of the
    run with no tail sets (unpruned and ungated) — same sent_ids, rel_pos,
    tokens, hits, anchor spans and cand positions — on the corpus of
    _para_fastpath_pages."""
    from fact_extraction_spark.operators.mentions import (
        empty_tail_broadcasts, fused_sentence_hits_and_anchors)

    pages = _para_fastpath_pages(spark)
    aliases = [("Alpha City", "Alpha_City"),
               ("The Grand City", "The_Grand_City")]
    head_bc = spark.sparkContext.broadcast(aliases)
    rmap_bc = spark.sparkContext.broadcast({})
    ft_bc, wit_bc, _ = empty_tail_broadcasts(spark)

    def key2(r):
        return (r["url"], r["sent_id"], r["rel_pos"], tuple(r["tokens"]),
                tuple(map(tuple, r["hits"])),
                tuple(map(tuple, r["amentions"])), tuple(r["cand"]))

    pruned2 = sorted(
        key2(r) for r in fused_sentence_hits_and_anchors(
            pages, head_bc, rmap_bc, lang=None, include_unanchored=True,
            first_tok_bc=ft_bc, witness_bc=wit_bc).collect())
    full2 = sorted(
        key2(r) for r in fused_sentence_hits_and_anchors(
            pages, head_bc, rmap_bc, lang=None,
            include_unanchored=True).collect()
        if r["hits"] or r["amentions"] or r["cand"])
    assert pruned2 == full2 and pruned2
    # the fast path must actually have something to skip AND something to
    # keep after a skipped paragraph (id-drift detector): hit sent_ids are
    # non-contiguous and include ids beyond the first paragraphs
    ids = sorted({k[1] for k in pruned2 if k[0].endswith("Page_0")})
    assert ids and ids[-1] > len(ids)


def test_rarest_witness_excludes_family_head_tokens():
    """witness_tokens_rarest picks each alias's min-(dict-df, position)
    eligible token: a family head token shared by many aliases ("John …")
    must stay OUT of the gate when every member has a rarer token, and the
    stopword/1-char exclusion + first-token fallback still hold."""
    from fact_extraction_spark.operators.mentions import _is_witness_token
    from fact_extraction_spark.textops.tokenizer import tokenize

    aliases = ["John Smith", "John Karzenbach", "John Miller",
               "The Grand City", "of x"]
    ac = TokenAhoCorasick.from_entries(
        (tokenize(a), (a, a)) for a in aliases)
    got = ac.witness_tokens_rarest(_is_witness_token)
    # each family member contributes its unique surname, not "John"
    assert {"Smith", "Karzenbach", "Miller"} <= got and "John" not in got
    # stopword-headed alias contributes its first eligible token
    assert "Grand" in got and "The" not in got
    # no eligible token ("of" stopword, "x" 1-char) -> first-token fallback
    assert "of" in got


def test_tail_witness_broadcast_rarest_pick(spark):
    """collect_tail_witness_broadcast mirrors the rarest pick relationally:
    df over tail keys, min-(df, pos) eligible token per key, first-token
    fallback — and every picked token is a member of its key (the
    load-bearing gate invariant)."""
    from fact_extraction_spark.operators.mentions import (
        alias_join_keys, collect_tail_witness_broadcast)

    tail = alias_join_keys(spark.createDataFrame(
        [("John Smith", "E1"), ("John Karzenbach", "E2"),
         ("the of", "E3")], "alias string, entity string"))
    wits = collect_tail_witness_broadcast(tail).value
    assert {"Smith", "Karzenbach"} <= wits and "John" not in wits
    assert "the" in wits  # fallback: no eligible token in "the of"
