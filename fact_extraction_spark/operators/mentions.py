"""Stage 2: mention detection.

All detectors share the frozen tokenizer so spans always line up.

Anchor tagging (``tag_anchor_mentions`` and its fused page forms) is the
reference-parity path: the entities a sentence mentions are the targets of
its hyperlink anchors, located at token level (semantics of
tagged_sentence.py:17-64,78-83 TokenMatcher + the capitalize hotfix
:232-233), resolved through the redirect dictionary at match time (the
reference instead rewrote the whole dump in a setup pass,
data_cleaning/redirects_substitutor.py:136-168 — resolving at match time
avoids rewriting 10^12 documents).

Dictionary detection is ONE per-sentence scan kernel — ``_scan_tokens``
over an Aho-Corasick automaton of the dictionary's hot head, set up once
per batch by ``_scan_state`` — behind two Arrow UDFs, one per input shape:

* ``fused_sentence_hits_and_anchors`` — pages(html) in: stage-1 text
  extraction, the dictionary scan and anchor tagging in one pass;
* ``sentence_head_hits`` — pre-split sentence rows in.

Both emit one row per sentence with its tokens, automaton hits and the
candidate positions where a tail alias could start. ``_mapside_union``
turns those rows into mention rows: hot-head hits ∪ a relational n-gram
join against the tail alias table. The tail is described to the scan by
two broadcast token sets (``collect_tail_broadcasts``): its first tokens
(candidate marking and, on pages, pruning of sentences with nothing to
emit) and one witness token per alias (the sentence-level match gate). A
set too large to broadcast is None and switches its feature off. An EMPTY
tail is two empty sets (``empty_tail_broadcasts``), so the full-dictionary
"broadcast" strategy is simply the head = whole dictionary case.

Scale notes: the head is broadcast once as a list of (alias, entity)
pairs; the automaton is constructed lazily per executor process and
cached in a module global keyed by the broadcast payload — NOT rebuilt per
batch. The tail never reaches the driver: at warehouse scale it is a
table bucketed by its join key.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from fact_extraction_spark.functions.uri import capitalize_first, strip_name
from fact_extraction_spark.textops.aho import TokenAhoCorasick
from fact_extraction_spark.textops.tokenizer import tokenize

MENTION_SCHEMA = ArrayType(StructType([
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("entity", StringType()),
]))

TOKENS_AND_MENTIONS_SCHEMA = StructType([
    StructField("tokens", ArrayType(StringType())),
    StructField("mentions", MENTION_SCHEMA),
])

# per-executor automaton cache (see _cached_by_identity / _automaton_for)
_AC_CACHE: dict = {}

_IDENTITY_CACHE_ENTRIES = 4  # per kind; bounds executor memory, stops the
                             # rebuild thrash when two automatons alternate
                             # within one executor (ADVICE r6)


def _cached_by_identity(cache: dict, ac, aux, build):
    """Per-executor cache for a value derived from (ac, aux), keyed on
    id()s but PINNING both keyed objects in the entry and re-checking
    identity on hit: a bare id() key can be recycled after GC (CPython
    reuses addresses) and would silently serve a stale derived set for a
    different dictionary — observed in practice when test suites build
    fresh automatons back-to-back. Holds a few entries per kind (cleared
    wholesale when full) so two dictionaries alternating within one
    executor — e.g. broadcast + mapside paths in one session — don't
    rebuild the full witness-DFS / 250k-word trie regex per batch."""
    key = (id(ac), id(aux))
    ent = cache.get(key)
    if ent is not None and ent[0] is ac and ent[1] is aux:
        return ent[2]
    if len(cache) >= _IDENTITY_CACHE_ENTRIES:
        cache.clear()
    val = build()
    cache[key] = (ac, aux, val)
    return val


def _automaton_for(alias_bc) -> TokenAhoCorasick:
    """Per-executor Aho-Corasick automaton for a broadcast (alias, entity)
    list. Identity-PINNED cache (ADVICE r6): the entry holds the broadcast
    payload itself and re-checks ``is`` on hit, so a recycled id() in a
    long-lived executor can never serve a stale automaton for a different
    dictionary."""
    pairs = alias_bc.value
    return _cached_by_identity(
        _AC_CACHE, pairs, None,
        lambda: TokenAhoCorasick.from_entries(
            (tokenize(alias), (alias, entity)) for alias, entity in pairs))


def _make_paragraph_skip(bstate: dict):
    """Paragraph-level filler fast path (the round-6 documented lever): one
    C-speed probe scan over the tag-stripped paragraph text decides whether
    ANY of its sentences could contain a gate token — a miss skips the
    sentence split, the row dicts and every per-sentence probe for the
    whole paragraph (ids stay exact via count_split_sentences, see
    wikitext.iter_raw_sentences). Adaptive like the per-sentence probe: on
    entity-dense text (most paragraphs name SOME dictionary token) the
    paragraph pass is pure overhead, so it self-disables when a 256-
    paragraph sample shows the miss rate under ~1/4; the per-sentence probe
    stays independently adaptive. Output-invariant by construction
    (conservative superset test — the paragraph text is a superstring of
    every sentence, and _probe_text deletions commute with the splits)."""
    def skip_para(plain: str) -> bool:
        pp = bstate["pprobe"]
        if pp is None:
            return False
        bstate["pn"] += 1
        if pp.search(_probe_text(plain)) is None:
            bstate["pm"] += 1
            return True
        if bstate["pn"] >= 256 and bstate["pm"] * 4 < bstate["pn"]:
            bstate["pprobe"] = None
        return False
    return skip_para


# per-executor derived-set caches (see _cached_by_identity)
_SKIP_CACHE: dict = {}


_RX_WORD_TOKEN = re.compile(r"\w+(?:'\w+)?\Z")

# Witness selection for the sentence-level match gate: an alias's witness
# is its first token that is NOT one of these high-frequency function
# words (multi-language, lowercase-compared) — see
# TokenAhoCorasick.witness_tokens. Frozen, tiny and public-knowledge; a
# corpus-df-driven pick is the upgrade path when profiling stats exist.
_WITNESS_STOP = frozenset(
    "the a an of in on at and or for to by with from as is was were be "
    "den der die das des dem ein eine und von mit "
    "el la le les los las lo un une du de di il dans".split())


def _is_witness_token(t: str) -> bool:
    return len(t) > 1 and t.lower() not in _WITNESS_STOP


def _trie_pattern(words: list[str]) -> str:
    """Minimal regex for the word set via shared-prefix trie emission —
    the classic trick for compiling a large alternation the ``re`` engine
    can run without per-branch backtracking blowup."""
    trie: dict = {}
    for w in words:
        d = trie
        for ch in w:
            d = d.setdefault(ch, {})
        d[""] = None
    def emit(d: dict) -> str:
        end = "" in d
        alts, chars = [], []
        for ch, sub in sorted((c, s) for c, s in d.items() if c != ""):
            s = emit(sub)
            if s == "":
                chars.append(ch)
            else:
                alts.append(re.escape(ch) + s)
        if chars:
            alts.append(re.escape(chars[0]) if len(chars) == 1
                        else "[" + "".join(re.escape(c) for c in chars) + "]")
        if not alts:
            return ""
        pat = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return "(?:" + pat + ")?" if end else pat
    return emit(trie)


def build_skip_probe(skip: frozenset, max_tokens: int = 250_000):
    """Compile the skip-token set into ONE C-speed regex over RAW sentence
    text, or None when it can't be done exactly/cheaply.

    Word-shaped tokens get ``\\b``-bounded trie alternation; single-char
    punctuation tokens a character class. The probe is a conservative
    SUPERSET test: if it does NOT match, the sentence's tokenization
    provably contains no skip token (a word token appears in text bounded
    by non-word chars — anything word-adjacent would have been absorbed
    into the token; a punctuation char is a token wherever it appears), so
    tokenization itself can be skipped. Callers must first undo the only
    two normalize_sentence transforms able to MERGE characters into a new
    token (footnote and non-ASCII deletion — see _probe_text); all other
    normalize steps only insert/collapse spaces or drop whole words, which
    never create tokens. False positives just take the slow exact path."""
    if len(skip) > max_tokens:
        return None
    words, puncts = [], []
    for t in skip:
        if _RX_WORD_TOKEN.match(t):
            words.append(t)
        elif len(t) == 1:
            puncts.append(t)
        else:
            return None  # unreachable from tokenize-space; stay safe
    parts = []
    if words:
        parts.append(r"\b(?:" + _trie_pattern(sorted(words)) + r")\b")
    if puncts:
        parts.append("[" + "".join(re.escape(c) for c in puncts) + "]")
    if not parts:
        return re.compile(r"(?!)")  # empty skip set: never matches
    return re.compile("|".join(parts))


_GATE_CACHE: dict = {}


def _scan_gate_set(ac: TokenAhoCorasick, wt: frozenset | None) -> frozenset:
    """The sentence-level match gate: one witness token per automaton alias
    (TokenAhoCorasick.witness_tokens) ∪ the tail aliases' witness set. A
    sentence disjoint from this set provably produces no automaton hit and
    no tail-join match — the condition the filler fast paths key on.
    Strictly more selective than the start-token set for stop-word-headed
    dictionaries ("The …" aliases no longer put "The" in the gate), and
    rarest-token ranked (VERDICT r6 Next #3): each alias contributes its
    minimal-(dictionary-df, position) eligible token, so "John …"/"New …"
    alias families no longer flood the gate with their shared corpus-
    frequent head token."""
    def build():
        s = ac.witness_tokens_rarest(_is_witness_token)
        return (s | wt) if wt is not None else s
    return _cached_by_identity(_GATE_CACHE, ac, wt, build)


_GATE_PROBE_CACHE: dict = {}
_SKIP_PROBE_CACHE: dict = {}


def _gate_probe(ac: TokenAhoCorasick, wt: frozenset | None):
    """Per-executor cached build_skip_probe over _scan_gate_set(ac, wt)."""
    return _cached_by_identity(
        _GATE_PROBE_CACHE, ac, wt,
        lambda: build_skip_probe(_scan_gate_set(ac, wt)))


def _skip_probe(ac: TokenAhoCorasick, ft: frozenset | None):
    """Per-executor cached build_skip_probe over _scan_skip_set(ac, ft) —
    the pre-witness probe, still used in the corner where a tail exists
    but its witness set exceeded the broadcast bound (gate off)."""
    return _cached_by_identity(
        _SKIP_PROBE_CACHE, ac, ft,
        lambda: build_skip_probe(_scan_skip_set(ac, ft)))


def _scan_state(head_bc, first_tok_bc, witness_bc):
    """(ac, skip, ft, wt, gate): the per-batch set-up both scan UDFs share.

    ``first_tok_bc`` / ``witness_bc`` describe the tail (see
    collect_tail_broadcasts); an empty tail is two empty sets. A given
    first-token set ``ft`` turns on candidate marking in _scan_tokens (and
    sentence pruning on the page path); a given witness set ``wt`` turns
    on the match gate. None — the set exceeded the broadcast bound —
    leaves its feature off, which is always exact."""
    ac = _automaton_for(head_bc)
    ft = first_tok_bc.value if first_tok_bc is not None else None
    wt = witness_bc.value if witness_bc is not None else None
    gate = _scan_gate_set(ac, wt) if wt is not None else None
    return ac, _scan_skip_set(ac, ft), ft, wt, gate


def _probe_text(raw: str) -> str:
    """The probe-safe view of a raw sentence: apply the two
    normalize_sentence deletions able to merge fragments into a new token
    (non-ASCII chars, ``[n]`` footnotes) — skipped entirely on the common
    all-ASCII bracket-free case."""
    from fact_extraction_spark.textops.wikitext import (
        _RX_FOOTNOTE, _RX_NON_ASCII)
    if raw.isascii() and "[" not in raw:
        return raw
    return _RX_FOOTNOTE.sub("", _RX_NON_ASCII.sub("", raw))


def _scan_tokens(tokens: list[str], ac: TokenAhoCorasick,
                 skip: frozenset, ft: frozenset | None,
                 gate: frozenset | None = None):
    """(hits, cand) for one token list, touching Python per OCCURRENCE of a
    skip token instead of per token: one C-speed set intersection decides
    emptiness, C-speed list.index locates the few matching positions, and
    the automaton runs as an anchored goto-walk from just those starts
    (find_at). Identical result sets to ac.find + the per-token candidate
    comprehension — the entity-dense web shape (most sentences contain
    SOME dictionary token but few positions) stops paying a Python loop
    over every token.

    ``gate`` (see _scan_gate_set) short-circuits first: a sentence with no
    alias WITNESS token cannot produce a hit or a tail match, so neither
    the occurrence scan nor any cand position is needed — this is what
    keeps stop-word-headed dictionaries ("The …") from forcing the full
    scan on every English sentence. Returning cand=[] under a failed gate
    is exact for the tail JOIN (a gram at any position would still fail to
    equal any tail key whose witness the sentence lacks)."""
    if gate is not None and gate.isdisjoint(tokens):
        return [], []
    inter = skip.intersection(tokens)
    if not inter:
        return [], []
    st = ac.start_tokens
    starts: list[int] = []
    cand: list[int] = []
    index = tokens.index
    for t in inter:
        in_head = t in st
        in_ft = ft is not None and t in ft
        i = 0
        while True:
            try:
                i = index(t, i)
            except ValueError:
                break
            if in_head:
                starts.append(i)
            if in_ft:
                cand.append(i)
            i += 1
    hits = ([(s, e, alias, entity) for s, e, (alias, entity)
             in ac.find_at(tokens, sorted(starts))] if starts else [])
    cand.sort()
    return hits, cand


def _scan_skip_set(ac: TokenAhoCorasick, ft: frozenset | None) -> frozenset:
    """Tokens able to START any dictionary match: the automaton's root
    transitions ∪ the tail first-token set. A sentence disjoint from this
    set (ONE C-speed frozenset.isdisjoint over its token list) provably has
    no automaton hit and no tail candidate, so scanners skip the Python
    automaton walk and the per-token candidate scan outright — on
    web-shaped pages that is the filler-majority fast path, leaving
    tokenization as the only per-byte Python cost."""
    return _cached_by_identity(
        _SKIP_CACHE, ac, ft,
        lambda: ac.start_tokens if ft is None else (ac.start_tokens | ft))


def _capitalize(name: str) -> str:
    return name[:1].upper() + name[1:] if name else name


# --------------------------------------------------------------------------
# alias dictionary construction (DataFrame-side, fully relational)
# --------------------------------------------------------------------------

_RESOLVED_REDIRECTS_CACHE: dict = {}


def resolve_redirects(redirects: DataFrame, max_hops: int = 8) -> DataFrame:
    """Collapse multi-hop redirect chains: (alias, final_target).

    Iterative self-join until fixpoint (alias chains are short; the loop is
    over a SMALL dimension table, never the corpus). Generalizes the
    reference's single-hop dict substitution (redirects_substitutor.py:52-64).

    The fixpoint loop is DRIVER-SERIAL (an eager localCheckpoint + one agg
    per hop), so repeated calls over the SAME redirects table — learn's
    redirect map plus every dictionary-context build in the session — are
    memoized per (table identity, max_hops), objects pinned
    (_cached_by_identity): the checkpointed result is lineage-free and
    reusable, and a different redirects DataFrame can never hit the entry.
    """
    return _cached_by_identity(
        _RESOLVED_REDIRECTS_CACHE, redirects, max_hops,
        lambda: _resolve_redirects_fixpoint(redirects, max_hops))


def _resolve_redirects_fixpoint(redirects: DataFrame,
                                max_hops: int) -> DataFrame:
    resolved = redirects.select("alias", "target")
    for _ in range(max_hops):
        stepped = (
            resolved.alias("r")
            .join(resolved.alias("n"), F.col("r.target") == F.col("n.alias"), "left")
            .select(
                F.col("r.alias").alias("alias"),
                F.coalesce(F.col("n.target"), F.col("r.target")).alias("target"),
                (F.col("n.target").isNotNull()).alias("changed"),
            )
        )
        stepped = stepped.localCheckpoint(eager=True)  # cut lineage per hop
        any_changed = stepped.agg(F.max("changed")).first()[0]
        resolved = stepped.drop("changed")
        if not any_changed:
            break
    return resolved


def build_alias_table(pages: DataFrame, redirects: DataFrame) -> DataFrame:
    """(alias, entity) with alias in display form ("Foo Bar").

    Aliases: every page title (identity) ∪ every resolved redirect alias.
    The capitalize hotfix is applied to targets (reference
    tagged_sentence.py:232-233).
    """
    titles = pages.select(strip_name("url").alias("title")).distinct()
    identity = titles.select(
        F.replace(F.col("title"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("title").alias("entity"),
    )
    rd = resolve_redirects(redirects).select(
        F.replace(F.col("alias"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("target").alias("entity"),
    )
    return identity.unionByName(rd).dropDuplicates(["alias"])


def build_alias_candidates(pages: DataFrame, redirects: DataFrame) -> DataFrame:
    """(alias, entity) keeping EVERY candidate entity per alias.

    Same construction as ``build_alias_table`` but ambiguity-preserving: an
    alias that is both a page title and a redirect source (or redirects to
    several targets across case variants) yields one row per candidate. The
    stage-2b tf-idf ranking (operators/link_ranking.py) picks the winner per
    mention span.
    """
    titles = pages.select(strip_name("url").alias("title")).distinct()
    identity = titles.select(
        F.replace(F.col("title"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("title").alias("entity"),
    )
    rd = resolve_redirects(redirects).select(
        F.replace(F.col("alias"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("target").alias("entity"),
    )
    return identity.unionByName(rd).dropDuplicates(["alias", "entity"])


def collect_alias_broadcast(spark: SparkSession, alias_table: DataFrame):
    """Broadcast the alias dictionary as a list of (alias, entity)."""
    pairs = [(r["alias"], r["entity"]) for r in alias_table.collect()]
    return spark.sparkContext.broadcast(pairs)


# --------------------------------------------------------------------------
# anchor-based tagging (reference parity)
# --------------------------------------------------------------------------

def _anchor_pairs(anchors):
    """Normalize Arrow's struct representation (dict or tuple) to pairs."""
    if anchors is None:
        return []
    out = []
    for a in anchors:
        if isinstance(a, dict):
            out.append((a["href"], a["anchor_text"]))
        else:
            out.append((a[0], a[1]))
    return out


def _build_anchor_ac(anchors, redirect_map) -> TokenAhoCorasick:
    """Tiny automaton over one sentence's/paragraph's anchors; entity =
    redirect-resolved target (tagged_sentence.py:78-83 TokenMatcher
    semantics + the capitalize hotfix)."""
    ac = TokenAhoCorasick()
    seen = set()
    for href, anchor_text in _anchor_pairs(anchors):
        a_tokens = tuple(tokenize(anchor_text))
        if not a_tokens or a_tokens in seen:
            continue
        seen.add(a_tokens)
        name = _capitalize(href.split("/")[-1])
        entity = redirect_map.get(name, name)
        ac.add(list(a_tokens), entity)
    ac.build()
    return ac


def _find_anchor_spans(tokens: list[str], anchors, redirect_map) -> list[tuple]:
    """Token spans of each anchor text; entity = redirect-resolved target.

    Equivalent to running TokenMatcher per link (tagged_sentence.py:78-83)
    but via one tiny per-sentence automaton over this sentence's anchors.
    """
    return [(s, e, ent)
            for s, e, ent in _build_anchor_ac(anchors, redirect_map).find(tokens)]


def _paragraph_anchor_spans():
    """Anchor-span finder with the per-PARAGRAPH mini automaton cached by
    IDENTITY of the anchors list (extract_sentences / iter_raw_sentences
    share one list object across a paragraph's sentences): a paragraph with
    k sentences builds its automaton once instead of k times, and the
    start_tokens disjoint check (the same invariant the dictionary fast
    path rests on, property-pinned) skips the find() walk on sentences
    containing none of the paragraph's anchor texts. One closure per UDF
    call — the identity key can never outlive the page batch."""
    state: list = [None, None]

    def find(tokens, anchors, redirect_map):
        if not anchors:
            return []
        if anchors is not state[0]:
            state[0] = anchors
            state[1] = _build_anchor_ac(anchors, redirect_map)
        ac = state[1]
        if ac.start_tokens.isdisjoint(tokens):
            return []
        return [(s, e, ent) for s, e, ent in ac.find(tokens)]
    return find


def tag_anchor_mentions(sentences: DataFrame, redirect_map_bc,
                        keep_cols: tuple = ()) -> DataFrame:
    """sentences(url, sent_id, rel_pos, sentence, anchors) → mention rows.

    Output: (url, sent_id, rel_pos, tokens, start, end, entity) plus any
    ``keep_cols`` passed through.
    ``redirect_map_bc``: broadcast dict alias→final target (underscore form).
    """
    @pandas_udf(TOKENS_AND_MENTIONS_SCHEMA)
    def _tag(sentence: pd.Series, anchors: pd.Series) -> pd.DataFrame:
        rmap = redirect_map_bc.value
        toks_out, ments_out = [], []
        for sent, anch in zip(sentence, anchors):
            tokens = tokenize(sent or "")
            spans = _find_anchor_spans(tokens, anch, rmap)
            toks_out.append(tokens)
            ments_out.append(spans)
        return pd.DataFrame({"tokens": toks_out, "mentions": ments_out})

    # deterministic function, marked non-deterministic as an optimizer fence:
    # the explode/filter over the UDF struct otherwise duplicates the
    # ArrowEvalPython node (guide-documented pushdown copy), doubling the scan
    _tag = _tag.asNondeterministic()

    tagged = sentences.select(
        "url", *keep_cols, "sent_id", "rel_pos",
        _tag(F.col("sentence"), F.col("anchors")).alias("tm"),
    )
    return (
        tagged.select(
            "url", *keep_cols, "sent_id", "rel_pos",
            F.col("tm.tokens").alias("tokens"),
            F.explode(F.col("tm.mentions")).alias("m"),
        )
        .select(
            "url", *keep_cols, "sent_id", "rel_pos", "tokens",
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.col("m.entity").alias("entity"),
        )
    )


FUSED_MENTIONS_SCHEMA = ArrayType(StructType([
    StructField("sent_id", IntegerType()),
    StructField("rel_pos", DoubleType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("mentions", MENTION_SCHEMA),
]))


def fused_anchor_mentions(pages: DataFrame, redirect_map_bc,
                          lang: str | None = "en",
                          keep_cols: tuple = ()) -> DataFrame:
    """pages(html) → mention rows in ONE Arrow UDF node.

    Functionally identical to ``extract_text → explode_sentences →
    tag_anchor_mentions`` (the same frozen pure functions run in the same
    order), but the whole Python chain executes in a single python worker
    per task instead of three chained ArrowEvalPython stages. Three chained
    pandas UDFs each get their own PythonRunner → 3× the python processes
    and 2 extra JVM↔Python Arrow round-trips of the full text; fusing is
    what makes the stage scale with cores (measured 6-10× at local[32]).
    """
    from fact_extraction_spark.textops.wikitext import (
        extract_article_text, extract_sentences)

    @pandas_udf(FUSED_MENTIONS_SCHEMA)
    def _fused(html: pd.Series) -> pd.Series:
        rmap = redirect_map_bc.value
        find_spans = _paragraph_anchor_spans()

        def _page(b) -> list:
            text = extract_article_text(
                (bytes(b) if b is not None else b"").decode(
                    "utf-8", errors="replace"))
            out = []
            for sent_id, r in enumerate(extract_sentences(text)):
                tokens = tokenize(r["sentence"] or "")
                spans = find_spans(tokens, r["anchors"], rmap)
                if spans:
                    out.append((sent_id, r["rel_pos"], tokens, spans))
            return out

        return html.map(_page)

    # pure function; non-determinism marking is an optimizer fence so the
    # explode/filter over the UDF output cannot duplicate the
    # ArrowEvalPython node (guide-documented filter-pushdown copy that
    # doubled the whole scan per plan branch)
    _fused = _fused.asNondeterministic()

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    tagged = df.select("url", *keep_cols, _fused(F.col("html")).alias("ss"))
    return (
        tagged.select("url", *keep_cols, F.explode("ss").alias("s"))
        .select(
            "url", *keep_cols,
            F.col("s.sent_id").alias("sent_id"),
            F.col("s.rel_pos").alias("rel_pos"),
            F.col("s.tokens").alias("tokens"),
            F.explode(F.col("s.mentions")).alias("m"),
        )
        .select(
            "url", *keep_cols, "sent_id", "rel_pos", "tokens",
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.col("m.entity").alias("entity"),
        )
    )


WINDOW_ROWS_DDL = ("url string, sent_id int, rel_pos double, "
                   "subject string, object string, n_slots int, "
                   "slots array<struct<slot: int, word: string>>")

# unresolved-span variant (redirect_strategy="join"): raw href entity plus
# the span, so resolution/dedup can happen relationally downstream
SPAN_ROWS_DDL = ("url string, sent_id int, rel_pos double, "
                 "subject string, raw_entity string, start int, end int, "
                 "n_slots int, slots array<struct<slot: int, word: string>>")


def fused_anchor_windows(pages: DataFrame, redirect_map_bc,
                         lang: str | None = "en",
                         window: int = 4,
                         max_sentence_tokens: int = 50,
                         drop_redlinks: bool = False) -> DataFrame:
    """pages(html) → ONE candidate row per mention in one mapInPandas pass.

    Fuses ``fused_anchor_mentions`` + ``lexical_patterns.candidate_windows``:
    per page (pure Python, trivially cheap — ~0.14 ms/page), it extracts
    text, splits sentences, tags anchors, picks the first span per
    (sentence, entity), applies the 50-token cap and self-link filter, and
    emits one row per candidate with the slot words NESTED
    (``slots: array<struct<slot, word>>``).

    Why nested: the corpus-wide cost is memory bandwidth, not the per-page
    Python. A flat row per (mention, slot word) repeats the url / subject /
    object strings ~2·window times per candidate — measured as ~1.3×
    task-time inflation at high core counts on the Arrow transfer, the
    persist and every downstream shuffle. One nested row per candidate is
    also unique BY CONSTRUCTION, so the scorer's candidate table needs no
    corpus-wide distinct.

    Semantics are candidate_windows' exactly (equivalence-tested);
    ``subject`` is the page title (capitalize hotfix), slots are
    -window..window excluding 0.
    """
    from fact_extraction_spark.textops.wikitext import (
        extract_article_text, extract_sentences)

    offsets = [o for o in range(-window, window + 1) if o != 0]

    def _batches(it):
        rmap = redirect_map_bc.value
        find_spans = _paragraph_anchor_spans()
        for pdf in it:
            out = {k: [] for k in ("url", "sent_id", "rel_pos", "subject",
                                   "object", "n_slots", "slots")}
            for url, raw in zip(pdf["url"], pdf["html"]):
                title = _capitalize(url.split("/")[-1])
                text = extract_article_text(
                    (bytes(raw) if raw is not None else b"").decode(
                        "utf-8", errors="replace"))
                for sent_id, r in enumerate(extract_sentences(text)):
                    tokens = tokenize(r["sentence"] or "")
                    n_tok = len(tokens)
                    if n_tok > max_sentence_tokens:
                        continue
                    spans = find_spans(tokens, r["anchors"], rmap)
                    first = {}
                    for s, e, ent in sorted(spans):
                        if ent not in first:
                            first[ent] = (s, e)
                    for ent, (s, e) in first.items():
                        if ent == title:
                            continue  # self-link drop (res != entity)
                        if drop_redlinks and "redlink=1" in ent:
                            continue
                        slot_words = []
                        for o in offsets:
                            pos = s + o if o < 0 else e + o
                            if 0 <= pos < n_tok:
                                slot_words.append((o, tokens[pos]))
                        out["url"].append(url)
                        out["sent_id"].append(sent_id)
                        out["rel_pos"].append(r["rel_pos"])
                        out["subject"].append(title)
                        out["object"].append(ent)
                        out["n_slots"].append(len(slot_words))
                        out["slots"].append(slot_words)
            # an all-empty batch must NOT be yielded: pandas infers float64
            # for empty columns and Arrow cannot cast empty float64 to
            # list<struct> (fires whenever a partition produces no
            # candidates — guaranteed at scale)
            if out["url"]:
                yield pd.DataFrame(out)

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", "html").mapInPandas(_batches,
                                                schema=WINDOW_ROWS_DDL)


def fused_anchor_spans(pages: DataFrame,
                       lang: str | None = "en",
                       window: int = 4,
                       max_sentence_tokens: int = 50,
                       drop_redlinks: bool = False) -> DataFrame:
    """pages(html) → UNRESOLVED candidate spans (redirect_strategy="join").

    Same single-pass extraction as ``fused_anchor_windows`` but with no
    redirect dictionary in the UDF at all: entities are the raw href
    targets (capitalize hotfix applied) and each row carries its token
    span, so redirect resolution, first-span dedup and the self-link drop
    happen relationally downstream (``anchor_windows_relational``). This is
    the zero-driver-state path: nothing is collected to the driver, and
    Catalyst picks broadcast vs shuffle for the resolution join by the
    redirect table's actual size.
    """
    from fact_extraction_spark.textops.wikitext import (
        extract_article_text, extract_sentences)

    offsets = [o for o in range(-window, window + 1) if o != 0]

    def _batches(it):
        find_spans = _paragraph_anchor_spans()
        for pdf in it:
            out = {k: [] for k in ("url", "sent_id", "rel_pos", "subject",
                                   "raw_entity", "start", "end", "n_slots",
                                   "slots")}
            for url, raw in zip(pdf["url"], pdf["html"]):
                title = _capitalize(url.split("/")[-1])
                text = extract_article_text(
                    (bytes(raw) if raw is not None else b"").decode(
                        "utf-8", errors="replace"))
                for sent_id, r in enumerate(extract_sentences(text)):
                    tokens = tokenize(r["sentence"] or "")
                    n_tok = len(tokens)
                    if n_tok > max_sentence_tokens:
                        continue
                    spans = find_spans(tokens, r["anchors"],
                                       {})  # no resolution here
                    first = {}
                    for s, e, ent in sorted(spans):
                        if ent not in first:
                            first[ent] = (s, e)
                    for ent, (s, e) in first.items():
                        if drop_redlinks and "redlink=1" in ent:
                            continue
                        slot_words = []
                        for o in offsets:
                            pos = s + o if o < 0 else e + o
                            if 0 <= pos < n_tok:
                                slot_words.append((o, tokens[pos]))
                        out["url"].append(url)
                        out["sent_id"].append(sent_id)
                        out["rel_pos"].append(r["rel_pos"])
                        out["subject"].append(title)
                        out["raw_entity"].append(ent)
                        out["start"].append(s)
                        out["end"].append(e)
                        out["n_slots"].append(len(slot_words))
                        out["slots"].append(slot_words)
            # see fused_anchor_windows: never yield an all-empty batch
            # (empty float64 columns cannot cast to list<struct>)
            if out["url"]:
                yield pd.DataFrame(out)

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", "html").mapInPandas(_batches,
                                                schema=SPAN_ROWS_DDL)


def anchor_windows_relational(pages: DataFrame, redirects: DataFrame,
                              lang: str | None = "en",
                              window: int = 4,
                              max_sentence_tokens: int = 50,
                              drop_redlinks: bool = False) -> DataFrame:
    """``fused_anchor_windows`` semantics with redirect resolution as a
    JOIN instead of a per-executor Python dict.

    Steps: unresolved spans → left join the resolved redirect table on the
    raw entity (object = coalesce(final_target, raw)) → first-span dedup
    per (sentence, resolved entity) via min_by (two aliases resolving to
    the same target keep the earliest span — identical to resolving before
    the dedup) → self-link drop on the RESOLVED entity. One extra shuffle
    keyed by the candidate; in exchange the driver never materializes the
    redirect map and the join side scales past broadcast size (Catalyst
    chooses broadcast vs shuffle by table size).

    Row-identical to ``fused_anchor_windows`` (equivalence-tested).
    """
    spans = fused_anchor_spans(pages, lang=lang, window=window,
                               max_sentence_tokens=max_sentence_tokens,
                               drop_redlinks=drop_redlinks)
    # Two redirect aliases can collapse to the same capitalize_first form
    # with different targets; keep ONE deterministic target per capitalized
    # alias (min) — the same rule collect_redirect_map applies — so this
    # path stays row-identical to the broadcast path on case-variant
    # aliases.
    resolved = (
        resolve_redirects(redirects)
        .groupBy(capitalize_first("alias").alias("raw_entity"))
        .agg(F.min(capitalize_first("target")).alias("_target")))
    joined = (
        spans.join(resolved, "raw_entity", "left")
        .withColumn("object", F.coalesce("_target", "raw_entity"))
        .drop("_target", "raw_entity")
    )
    deduped = (
        joined.groupBy("url", "sent_id", "subject", "object")
        .agg(F.min_by(
            F.struct("rel_pos", "n_slots", "slots"),
            F.struct("start", "end")).alias("w"))
        .select("url", "sent_id",
                F.col("w.rel_pos").alias("rel_pos"),
                "subject", "object",
                F.col("w.n_slots").alias("n_slots"),
                F.col("w.slots").alias("slots"))
    )
    return (deduped.filter(F.col("object") != F.col("subject"))
            .select("url", "sent_id", "rel_pos", "subject", "object",
                    "n_slots", "slots"))


# --------------------------------------------------------------------------
# dictionary detection: hot-head automaton scan + relational n-gram join
# for the long tail (see the module docstring)
# --------------------------------------------------------------------------

ALIAS_KEY_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("n_tokens", IntegerType()),
])


def alias_join_keys(aliases: DataFrame) -> DataFrame:
    """aliases(alias, entity) + (key, n_tokens): the alias re-serialized in
    frozen-tokenizer space (tokens joined by single spaces), which is the
    exact string the sentence-side n-gram builder produces. Dimension-table
    sized — the pandas UDF here never touches the corpus."""
    @pandas_udf(ALIAS_KEY_SCHEMA)
    def _key(alias: pd.Series) -> pd.DataFrame:
        keys, counts = [], []
        for a in alias:
            toks = tokenize(a or "")
            keys.append(" ".join(toks))
            counts.append(len(toks))
        return pd.DataFrame({"key": keys, "n_tokens": counts})

    return aliases.withColumn("_k", _key(F.col("alias"))) \
        .select("*", F.col("_k.key").alias("key"),
                F.col("_k.n_tokens").alias("n_tokens")).drop("_k")


def split_alias_dictionary(aliases: DataFrame, hot_k: int = 100_000,
                           max_tail_tokens: int = 6,
                           keyed: DataFrame | None = None
                           ) -> tuple[DataFrame, DataFrame]:
    """Partition the alias dictionary into a bounded hot head and a
    relational tail.

    Head = every alias longer than ``max_tail_tokens`` tokens (the n-gram
    tail path bounds its per-position explode at ``max_tail_tokens``) ∪ the
    ``hot_k`` shortest remaining aliases (Zipf: short aliases dominate
    corpus occurrences — swap in real per-alias frequencies from a
    profiling pass when available). The split is per ALIAS: every candidate
    entity of a hot alias rides along, so ambiguity is preserved on both
    paths. Deterministic (length, alias) ordering via distributed top-k —
    no global window, no driver collect. ``keyed`` lets the caller pass an
    already-computed (ideally persisted) ``alias_join_keys(aliases)`` so
    the tokenizing UDF over the dimension runs once per context build, not
    once per derived job.
    """
    if keyed is None:
        keyed = alias_join_keys(aliases)
    short = keyed.filter(F.col("n_tokens") <= max_tail_tokens)
    long_head = keyed.filter(F.col("n_tokens") > max_tail_tokens)
    hot_aliases = (short.select("alias").distinct()
                   .orderBy(F.length("alias"), "alias").limit(hot_k))
    head = long_head.unionByName(
        short.join(F.broadcast(hot_aliases), "alias", "left_semi"))
    tail = short.join(F.broadcast(hot_aliases), "alias", "left_anti")
    return head, tail


# bound on each broadcast tail token set (first tokens, witnesses); above
# it the set is None and the scan falls back to its exact slow path
TAIL_BROADCAST_ROWS = 2_000_000


def collect_first_token_broadcast(tail: DataFrame,
                                  max_rows: int = TAIL_BROADCAST_ROWS):
    """Broadcast the DISTINCT first tokens of the tail alias keys as a
    Python frozenset, or None when the set exceeds ``max_rows``.

    Scale contract: the mapside split exists because the FULL dictionary
    (alias, entity, key — 10^7+ multi-token rows) must never be collected,
    but its first-token projection is orders of magnitude smaller (aliases
    share first tokens: every "John …" person collapses to one entry) and
    the n-gram tail join already drives this exact set through an
    ``F.broadcast`` semi-join — i.e. Spark already collects it to the
    driver. Handing the same set to the fused sentence UDF instead lets
    candidate tail positions be computed IN the scan pass, so sentences
    with no head hit, no anchor and no possible tail start are dropped
    before they cross Arrow, and the survivors explode only their
    candidate positions instead of every token. Above ``max_rows`` the
    caller falls back to the relational posexplode + semi-join path."""
    firsts = tail.select(F.split("key", " ")[0].alias("tok")).distinct()
    return _broadcast_token_set(firsts, max_rows)


def collect_tail_witness_broadcast(tail: DataFrame,
                                   max_rows: int = TAIL_BROADCAST_ROWS):
    """Broadcast a WITNESS-token set for the tail aliases (one selective
    token per alias: first non-stopword, else first — same _WITNESS_STOP
    list as TokenAhoCorasick.witness_tokens), or None above ``max_rows``.
    The load-bearing invariant is only that the picked token is a MEMBER
    token of each tail key (any member is a valid witness); the SQL-side
    F.lower/F.length and Python str.lower/len can diverge on non-ASCII
    tokens, so the picked witness may differ from the Python-side pick —
    harmless, per the invariant. Like the automaton-side pick
    (witness_tokens_rarest), each key contributes its minimal-
    (dictionary-df, position) eligible token — df counted over the tail
    keys — so shared family head tokens stay out of the gate. Feeds the
    sentence-level match gate: at most one token per distinct tail alias,
    typically far fewer after dedup, so it broadcasts whenever the
    first-token set does."""
    toks = F.split("key", " ")
    stop_arr = F.array(*[F.lit(w) for w in sorted(_WITNESS_STOP)])
    keys = tail.select("key").distinct()
    ex = keys.select("key", F.posexplode(toks).alias("pos", "tok"))
    df_tab = ex.groupBy("tok").agg(F.countDistinct("key").alias("df"))
    eligible = ex.filter((F.length("tok") > 1)
                         & ~F.array_contains(stop_arr, F.lower("tok")))
    picked = (eligible.join(df_tab, "tok")
              .groupBy("key")
              .agg(F.min_by("tok", F.struct("df", "pos")).alias("tok")))
    fallback = (keys.join(picked.select("key"), "key", "left_anti")
                .select("key", F.element_at(toks, 1).alias("tok")))
    wits = (picked.select("tok").unionByName(fallback.select("tok"))
            .where(F.col("tok").isNotNull()).distinct())
    return _broadcast_token_set(wits, max_rows)


def _broadcast_token_set(toks: DataFrame, max_rows: int):
    """Broadcast the ``tok`` column of ``toks`` as a frozenset, or None
    when it holds more than ``max_rows`` rows."""
    rows = toks.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    return toks.sparkSession.sparkContext.broadcast(
        frozenset(r["tok"] for r in rows))


def empty_tail_broadcasts(spark: SparkSession):
    """(first_token_bc, witness_bc, tail_empty) of an EMPTY tail: both sets
    empty. Handed to the scan they turn on sentence pruning and the
    witness gate while marking no candidate position — the full-dictionary
    ("broadcast") strategy is exactly this case."""
    empty = spark.sparkContext.broadcast(frozenset())
    return empty, empty, True


def collect_tail_broadcasts(tail: DataFrame,
                            max_rows: int = TAIL_BROADCAST_ROWS):
    """(first_token_bc, witness_bc, tail_empty) for the tail, with ONE cheap
    limit(1) probe short-circuiting both driver collect jobs when the tail
    is empty (every alias fit in the head — common in tests and bounded
    domains; ADVICE r6). Either set is None above ``max_rows``."""
    if tail.select("key").limit(1).count() == 0:
        return empty_tail_broadcasts(tail.sparkSession)
    return (collect_first_token_broadcast(tail, max_rows),
            collect_tail_witness_broadcast(tail, max_rows), False)


HITS_SCHEMA = ArrayType(StructType([
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("alias", StringType()),
    StructField("entity", StringType()),
]))


def sentence_head_hits(sentences: DataFrame, head_bc,
                       first_tok_bc=None, witness_bc=None) -> DataFrame:
    """Scan UDF for callers that already hold sentence rows (url, sent_id,
    rel_pos, sentence): one row per sentence with tokens, hot-head
    automaton hits (possibly empty) and candidate tail-start positions
    (empty unless ``first_tok_bc`` is given). Tail sets as in _scan_state;
    every sentence is emitted — nothing is pruned on this path."""
    @pandas_udf(StructType([
        StructField("tokens", ArrayType(StringType())),
        StructField("hits", HITS_SCHEMA),
        StructField("cand", ArrayType(IntegerType())),
    ]))
    def _scan(sentence: pd.Series) -> pd.DataFrame:
        ac, skip, ft, _, gate = _scan_state(head_bc, first_tok_bc,
                                            witness_bc)
        toks_out, hits_out, cand_out = [], [], []
        for sent in sentence:
            tokens = tokenize(sent or "")
            hits, cand = _scan_tokens(tokens, ac, skip, ft, gate)
            hits_out.append(hits)
            cand_out.append(cand)
            toks_out.append(tokens)
        return pd.DataFrame({"tokens": toks_out, "hits": hits_out,
                             "cand": cand_out})

    # pure function; non-determinism marking is an optimizer fence so the
    # explode/filter over the UDF output cannot duplicate the
    # ArrowEvalPython node (guide-documented filter-pushdown copy that
    # doubled the whole scan per plan branch)
    _scan = _scan.asNondeterministic()

    return sentences.select(
        "url", "sent_id", "rel_pos", _scan(F.col("sentence")).alias("th")) \
        .select("url", "sent_id", "rel_pos",
                F.col("th.tokens").alias("tokens"),
                F.col("th.hits").alias("hits"),
                F.col("th.cand").alias("cand"))


def detect_dictionary_mentions(sentences: DataFrame, alias_bc) -> DataFrame:
    """Scan every sentence against the full broadcast alias dictionary
    (an empty tail). Output: (url, sent_id, rel_pos, tokens, start, end,
    alias, entity)."""
    ft_bc, wit_bc, _ = empty_tail_broadcasts(sentences.sparkSession)
    return hot_hits(sentence_head_hits(sentences, alias_bc, ft_bc, wit_bc))


def detect_dictionary_mentions_mapside_sentences(
    sentences: DataFrame, head_bc, tail: DataFrame, max_tail_tokens: int = 6,
) -> DataFrame:
    """Map-side dictionary detection over pre-split sentence rows: hot-head
    automaton hits ∪ relational n-gram tail join (_mapside_union)."""
    from fact_extraction_spark.caches import track

    ft_bc, wit_bc, tail_empty = collect_tail_broadcasts(tail)
    # the scan output feeds THREE subtrees of the union (hot hits, candidate
    # positions, the tail join-back); persist so the UDF pass over the
    # corpus executes once instead of once per branch
    sent = track(sentence_head_hits(sentences, head_bc, ft_bc,
                                    wit_bc).persist())
    sent.count()  # eager fill: branches of one action race an unfilled cache
    return _mapside_union(sent, tail, max_tail_tokens,
                          use_cand=ft_bc is not None, tail_empty=tail_empty)


SENTENCE_HITS_ANCHORS_SCHEMA = ArrayType(StructType([
    StructField("sent_id", IntegerType()),
    StructField("rel_pos", DoubleType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("hits", HITS_SCHEMA),
    StructField("amentions", MENTION_SCHEMA),
    StructField("cand", ArrayType(IntegerType())),
]))


def fused_sentence_hits_and_anchors(pages: DataFrame, head_bc,
                                    redirect_map_bc,
                                    lang: str | None = "en",
                                    include_unanchored: bool = False,
                                    first_tok_bc=None,
                                    witness_bc=None) -> DataFrame:
    """Scan UDF over pages: ONE corpus pass emitting BOTH dictionary-
    automaton hits and redirect-resolved anchor mentions per sentence.

    The dictionary pipeline needs two mention views of the same pages —
    AC-dictionary candidates (stage 2a) and trusted anchor tags (profile
    building for the stage-2b tf-idf ranking). Running them as separate
    fused UDFs costs two full html→sentences→tokens passes over the
    corpus; this function pays the extraction exactly once. Output: one
    row per sentence with (tokens, hits, amentions, cand). Tail sets as in
    _scan_state.

    When ``first_tok_bc`` is given (the tail is covered: every tail match
    starts at a marked ``cand`` position), sentences with no hit, no
    anchor mention and no candidate position are dropped INSIDE the UDF:
    on web-shaped pages that is the filler majority, whose tokens then
    never cross Arrow, never enter the sentence persist and never reach
    the n-gram explode. Every downstream consumer filters on one of the
    three (hot_hits, anchor_mention_rows, the cand-driven tail join).
    Without it every sentence is emitted, for the posexplode tail join."""
    from fact_extraction_spark.textops.wikitext import (
        extract_article_text, iter_raw_sentences, tokens_of_normalized)

    @pandas_udf(SENTENCE_HITS_ANCHORS_SCHEMA)
    def _fused(html: pd.Series) -> pd.Series:
        ac, skip, ft, wt, gate = _scan_state(head_bc, first_tok_bc,
                                             witness_bc)
        rmap = redirect_map_bc.value
        prune = ft is not None
        # adaptive per-batch probes, only where sentences are pruned: the
        # raw-text regex skips normalize+tokenize for inert filler (and, at
        # paragraph level, the whole sentence split — see
        # _make_paragraph_skip), but on entity-dense text (most sentences
        # naming SOME dictionary token) it is pure overhead — each level
        # stops probing for the rest of the batch once its sample shows the
        # skip rate under the ~1/4 breakeven (measured: probe 25 MB/s vs
        # tokenize 7 MB/s per core). Purely a performance device: output is
        # invariant either way.
        p = None
        if prune:
            p = (_gate_probe(ac, wt) if gate is not None
                 else _skip_probe(ac, ft))
        bstate = {"probe": p, "pprobe": p, "n": 0, "m": 0, "pn": 0, "pm": 0}
        skip_para = _make_paragraph_skip(bstate)
        find_spans = _paragraph_anchor_spans()

        def _page(b) -> list:
            text = extract_article_text(
                (bytes(b) if b is not None else b"").decode(
                    "utf-8", errors="replace"))
            out = []
            for sent_id, rel_pos, raw, anchors in iter_raw_sentences(
                    text, include_unanchored=include_unanchored,
                    skip_paragraph=skip_para):
                probe = bstate["probe"]
                if probe is not None and not anchors:
                    bstate["n"] += 1
                    if probe.search(_probe_text(raw)) is None:
                        # filler fast path: the regex scan of the RAW
                        # sentence proves no token can start a match and
                        # no anchor exists — skip normalize+tokenize
                        # (sent_id still advances: iter_raw_sentences
                        # assigns ids before this filter)
                        bstate["m"] += 1
                        continue
                    if bstate["n"] >= 1024 and bstate["m"] * 4 < bstate["n"]:
                        bstate["probe"] = None
                tokens = tokens_of_normalized(raw)
                hits, cand = _scan_tokens(tokens, ac, skip, ft, gate)
                aspans = find_spans(tokens, anchors, rmap)
                if prune and not hits and not aspans and not cand:
                    continue
                out.append((sent_id, rel_pos, tokens, hits, aspans,
                            cand))
            return out

        return html.map(_page)

    # pure function; non-determinism marking is an optimizer fence so the
    # explode/filter over the UDF output cannot duplicate the
    # ArrowEvalPython node (guide-documented filter-pushdown copy that
    # doubled the whole scan per plan branch)
    _fused = _fused.asNondeterministic()

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return (
        df.select("url", _fused(F.col("html")).alias("ss"))
        .select("url", F.explode("ss").alias("s"))
        .select(
            "url",
            F.col("s.sent_id").alias("sent_id"),
            F.col("s.rel_pos").alias("rel_pos"),
            F.col("s.tokens").alias("tokens"),
            F.col("s.hits").alias("hits"),
            F.col("s.amentions").alias("amentions"),
            F.col("s.cand").alias("cand"),
        )
    )


def hot_hits(sent: DataFrame) -> DataFrame:
    """Explode the automaton hits of sentence rows into mention rows."""
    return (
        sent.filter(F.size("hits") > 0)
        .select("url", "sent_id", "rel_pos", "tokens",
                F.explode("hits").alias("m"))
        .select("url", "sent_id", "rel_pos", "tokens",
                F.col("m.start").alias("start"),
                F.col("m.end").alias("end"),
                F.col("m.alias").alias("alias"),
                F.col("m.entity").alias("entity"))
    )


def anchor_mention_rows(sent: DataFrame) -> DataFrame:
    """Explode the anchor spans of sentence rows into mention rows
    (the trusted-mention shape build_entity_profiles consumes)."""
    return (
        sent.filter(F.size("amentions") > 0)
        .select("url", "sent_id", "rel_pos", "tokens",
                F.explode("amentions").alias("m"))
        .select("url", "sent_id", "rel_pos", "tokens",
                F.col("m.start").alias("start"),
                F.col("m.end").alias("end"),
                F.col("m.entity").alias("entity"))
    )


def _mapside_union(sent: DataFrame, tail: DataFrame,
                   max_tail_tokens: int, use_cand: bool,
                   tail_empty: bool) -> DataFrame:
    """Hot-head hits ∪ n-gram tail join over sentence rows
    (url, sent_id, rel_pos, tokens, hits, cand).

    ``use_cand`` requires ``sent.cand`` to hold the candidate tail-start
    positions (computed in the scan UDF against the broadcast first-token
    set): the n-gram build then explodes ONLY those positions — on filler-
    heavy web text a >100× row reduction over posexploding every token.

    ``tail_empty`` (known from collect_tail_broadcasts' probe): the
    n-gram explode + two joins would still execute over the whole corpus
    just to produce zero rows, so an empty tail returns the hot hits."""
    from fact_extraction_spark.caches import track

    hot = hot_hits(sent)
    if tail_empty:
        return hot
    tail_keyed = track(tail.select("alias", "entity", "key").persist())

    if use_cand:
        # candidate positions were marked in the scan pass (same semantics
        # as the semi-join below: token ∈ distinct tail first-tokens)
        pos = sent.select("url", "sent_id", "tokens",
                          F.explode("cand").alias("start"))
    else:
        first_toks = F.broadcast(
            tail_keyed.select(F.split("key", " ")[0].alias("tok")).distinct())
        # candidate positions: only where a tail alias could start
        pos = (
            sent.select("url", "sent_id", "tokens",
                        F.posexplode("tokens").alias("start", "tok"))
            .join(first_toks, "tok", "left_semi")
        )
    gram_structs = [
        F.struct(
            F.col("start").alias("start"),
            (F.col("start") + F.lit(n - 1)).alias("end"),
            F.concat_ws(" ", F.slice("tokens", F.col("start") + 1, n))
            .alias("gram"),
        )
        for n in range(1, max_tail_tokens + 1)
    ]
    grams = (
        pos.select("url", "sent_id", "start", F.size("tokens").alias("n_tok"),
                   F.explode(F.array(*gram_structs)).alias("g"))
        .filter(F.col("g.end") < F.col("n_tok"))
        .select("url", "sent_id",
                F.col("g.start").alias("start"),
                F.col("g.end").alias("end"),
                F.col("g.gram").alias("gram"))
    )
    tail_hits = (
        grams.join(tail_keyed.withColumnRenamed("key", "gram"), "gram")
        .drop("gram")
        # re-attach sentence context (tokens never ride through the n-gram
        # shuffle; hit rows are a tiny fraction of gram rows)
        .join(sent.select("url", "sent_id", "rel_pos", "tokens"),
              ["url", "sent_id"])
        .select("url", "sent_id", "rel_pos", "tokens",
                "start", "end", "alias", "entity")
    )
    return hot.unionByName(tail_hits)


def collect_redirect_map(spark: SparkSession, redirects: DataFrame):
    """Broadcast {alias → final target} (underscore form, capitalized).

    When two aliases collapse to the same capitalized form with different
    targets, the smallest target wins — deterministic, and identical to the
    groupBy/min rule of ``anchor_windows_relational``."""
    resolved = resolve_redirects(redirects)
    mapping: dict[str, str] = {}
    for r in resolved.collect():
        alias, target = _capitalize(r["alias"]), _capitalize(r["target"])
        if alias not in mapping or target < mapping[alias]:
            mapping[alias] = target
    return spark.sparkContext.broadcast(mapping)
