"""Text analysis for document curation: token counting, quality
scoring, language ID, document fingerprinting.

All the scoring paths are pure Column expressions (whole-stage
codegen); the only Python is the char-n-gram language-ID profile UDF,
which is Arrow-batched (`pandas_udf`) and optional — the stopword
variant is JVM-side and SQL-reproducible.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Mapping, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import tokens, simhash

__all__ = [
    "gopher_rules", "repetition_stats_arrow", "entropy_stats_arrow",
    "dns_tunnel_flags", "oov_rate", "split_sentences", "SENTENCE_RE",
    "token_count", "vocab_coverage", "zipf_fit", "text_stats", "text_stats_arrow", "quality_score",
    "wilson_lower_bound",
    "readability",
    "lang_id_stopword", "lang_id_ngram", "lang_spans",
    "doc_fingerprint",
    "GOPHER_REQUIRED_WORDS", "STOPWORDS", "LANG_MARKERS",
]

# A small English stopword core — enough signal for ratio features.
STOPWORDS: List[str] = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "was",
]

# Marker words per language for the JVM-side heuristic language ID.
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}

# A BPE-ish word/number/punctuation-run tokenizer: the shape GPT-style
# pre-tokenizers use (letter runs, digit runs, single punctuation).
_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count: ``whitespace`` (split on \\s+) or ``bpe`` (letter
    runs / digit runs / punctuation marks — a regex proxy for BPE
    pre-tokenization)."""
    if mode == "whitespace":
        return F.size(tokens(text))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(text, F.lit(_BPE_RE), F.lit(0)))
    raise ValueError(f"unknown token mode {mode!r}")


def _count_in(toks: Column, words: Sequence[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def text_stats(text: Column, round_to: int = 6) -> Dict[str, Column]:
    """Quality features per document: length, word count, mean word
    length, stopword ratio, alpha ratio, punctuation density. Returned
    as a dict of named Columns so callers pick what they keep."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    stop = _count_in(toks, STOPWORDS)
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars.cast("bigint"),
        "word_count": n_tok.cast("bigint"),
        "avg_word_len": F.round(
            F.aggregate(toks, F.lit(0.0),
                        lambda acc, t: acc + F.length(t)) / safe_tok,
            round_to),
        "stopword_ratio": F.round(stop / safe_tok, round_to),
        "alpha_ratio": F.round(alpha / safe_chars, round_to),
        "punct_ratio": F.round(punct / safe_chars, round_to),
    }


#: Gopher's "must contain 2 of" word list (Rae et al. 2021, App. A1.1)
GOPHER_REQUIRED_WORDS: List[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    round_to: int = 6,
) -> Dict[str, Column]:
    """The Gopher document-quality rule set (Rae et al. 2021,
    Appendix A1.1 — the published thresholds the C4/FineWeb lineage of
    web-corpus filters standardized on), as named Column expressions:

    - ``words_ok``       — word count in [min_words, max_words];
    - ``mwl_ok``         — mean word length in [3, 10];
    - ``symbol_ok``      — (# + ellipsis) to word ratio ≤ 0.1;
    - ``bullet_ok``      — ≤ 90% of lines start with a bullet;
    - ``ellipsis_ok``    — ≤ 30% of lines end with an ellipsis;
    - ``alpha_words_ok`` — ≥ 80% of words contain a letter;
    - ``stop_ok``        — ≥ 2 distinct required stop words present;
    - ``gopher_keep``    — AND of all of the above,

    plus the underlying ratios (rounded, for score-threshold reuse).
    Everything is whole-stage codegen (split / higher-order filters /
    replace-count arithmetic) — a pure map-side projection that
    composes with the curation pipeline's other filters before any
    shuffle, so at 10^12 pages the drop happens at scan site. Tokens
    are the module's lowercased whitespace tokens (SQL-reproducible);
    bullets are ``- * •``; an "ellipsis" is the three-dot spelling
    (plus U+2026), as in the public reimplementations."""
    toks = tokens(text)
    n_words = F.size(toks)
    safe_w = F.greatest(n_words, F.lit(1))
    mwl = (F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t))
           / safe_w)

    def count_sub(sub: str, width: int) -> Column:
        return ((F.length(text)
                 - F.length(F.replace(text, F.lit(sub)))) / width)

    symbol_ratio = F.round(
        (count_sub("#", 1) + count_sub("...", 3) + count_sub("…", 1))
        / safe_w, round_to)
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: F.ltrim(l)
                        .rlike(r"^[-*•]"))) / n_lines, round_to)
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l:
                        l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines,
        round_to)
    alpha_word_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / safe_w,
        round_to)
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])))
    flags = {
        "word_count": n_words.cast("bigint"),
        "mean_word_len": F.round(mwl, round_to),
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_word_frac": alpha_word_frac,
        "stop_hits": stop_hits.cast("bigint"),
        "words_ok": (n_words >= min_words) & (n_words <= max_words),
        "mwl_ok": (F.round(mwl, round_to) >= 3)
                  & (F.round(mwl, round_to) <= 10),
        "symbol_ok": symbol_ratio <= 0.1,
        "bullet_ok": bullet_frac <= 0.9,
        "ellipsis_ok": ellipsis_frac <= 0.3,
        "alpha_words_ok": alpha_word_frac >= 0.8,
        "stop_ok": stop_hits >= 2,
    }
    flags["gopher_keep"] = (
        flags["words_ok"] & flags["mwl_ok"] & flags["symbol_ok"]
        & flags["bullet_ok"] & flags["ellipsis_ok"]
        & flags["alpha_words_ok"] & flags["stop_ok"])
    return flags


def quality_score(text: Column, round_to: int = 6) -> Column:
    """Composite quality in [0,1]: Gopher-rule-flavored — rewards
    stopword presence, alphabetic content, sane word lengths; penalizes
    punctuation soup. Deterministic arithmetic only."""
    s = text_stats(text, round_to=9)
    wl = s["avg_word_len"]
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        F.least(s["stopword_ratio"] * 4, F.lit(1.0)) * 0.3
        + s["alpha_ratio"] * 0.4
        + (1 - F.least(s["punct_ratio"] * 5, F.lit(1.0))) * 0.2
        + wl_ok * 0.1)
    return F.round(score, round_to)


def readability(text: Column) -> Column:
    """Flesch reading-ease + Flesch-Kincaid grade as integer
    milli-points, plus a five-band label — the readability-heuristic
    quality gate corpus pipelines run before model-based scoring
    (FineWeb-Edu-style educational filtering).

    The classic Flesch coefficients (206.835, 1.015, 84.6 / 0.39,
    11.8, 15.59) are scaled by 1000 and every division floors a
    non-negative integer ratio, so both scores are deterministic
    BIGINTs that reproduce bit-for-bit in any SQL engine — the same
    integer-first trick as :mod:`beats_analytics.lm` (micro-nats).
    Floor-of-double is safe here: numerators stay < 2^53 and a true
    quotient is never within one double ulp of a wrong integer
    boundary (denominators are small integers).

    Counting definitions, shared verbatim with the DuckDB oracle:
    words = maximal ``[a-zA-Z]+`` runs; sentences = maximal ``[.!?]+``
    runs (clamped to >=1 inside ratios only); syllables = maximal
    vowel-group runs ``[aeiouyAEIOUY]+`` — the standard cheap syllable
    proxy. No lowercasing: locale-sensitive case folding is the one
    place Java and utf8proc can disagree, so the class carries both
    cases instead.

    Reference anchor: beats ships no readability processor — the
    closest surface is a script-processor scoring hook
    (libbeat/processors/script/script.go); this is the curation-side
    extension SURVEY §2 calls for. Pure Column expressions:
    whole-stage codegen, zero Python, zero shuffle.
    """
    w = F.regexp_count(text, F.lit(r"[a-zA-Z]+")).cast("long")
    s_raw = F.regexp_count(text, F.lit(r"[.!?]+")).cast("long")
    y = F.regexp_count(text, F.lit(r"[aeiouyAEIOUY]+")).cast("long")
    s = F.greatest(s_raw, F.lit(1))
    wc = F.greatest(w, F.lit(1))
    flesch = (F.lit(206835)
              - F.floor(w * F.lit(1015) / s)
              - F.floor(y * F.lit(84600) / wc)).cast("long")
    grade = (F.floor(w * F.lit(390) / s)
             + F.floor(y * F.lit(11800) / wc)
             - F.lit(15590)).cast("long")
    band = (F.when(flesch >= 90000, F.lit("very_easy"))
             .when(flesch >= 70000, F.lit("easy"))
             .when(flesch >= 50000, F.lit("medium"))
             .when(flesch >= 30000, F.lit("hard"))
             .otherwise(F.lit("very_hard")))
    return F.struct(w.alias("n_words"), s_raw.alias("n_sentences"),
                    y.alias("n_syllables"), flesch.alias("flesch_milli"),
                    grade.alias("fk_grade_milli"), band.alias("band"))


_STAT_SCHEMA = ("n_chars bigint, word_count bigint, avg_word_len double, "
                "stopword_ratio double, alpha_ratio double, "
                "punct_ratio double, quality double, bpe_tokens bigint")

_ALPHA_RE = None  # compiled lazily inside the UDF


def text_stats_arrow(text_col: str = "text",
                     with_lang: bool = False,
                     with_repetition: bool = False) -> Column:
    """All text statistics + the composite quality score in ONE
    Arrow-batched pass, returned as a struct column.

    Numerically identical to the Column-expression forms
    (:func:`text_stats` / :func:`quality_score`): integer counts
    divided as IEEE doubles in the same order, components rounded to
    9 then the score to 6 — ties at the rounding digit cannot occur
    for most p/q ratios — and exact binary ties (power-of-two
    denominators) round HALF_UP via decimal, matching BigDecimal. The
    fused kernel
    exists because CollapseProject inlines the token expression once
    per stat column (6× recompute; measured ~8× slower than this).

    ``bpe_tokens`` (the BPE-ish pre-tokenizer count, same regex as
    :func:`token_count` mode ``bpe``) rides the same pass — counting it
    JVM-side via ``regexp_extract_all`` materializes every match into
    an array per row and was the slowest bench entry (17.8 s → this
    kernel); ``word_count`` doubles as the whitespace token count.

    ``with_lang`` adds a ``lang`` field (marker-word language ID
    reusing the kernel's token list — ``lang_id_stopword`` semantics:
    argmax with strict >, lexicographically-first keeps ties, 'und' at
    zero). Opt-in so quality/token-count consumers — which cannot
    prune struct fields inside a pandas UDF — don't pay the per-
    language marker passes.

    ``with_repetition`` likewise rides the Gopher repetition signals
    (:func:`repetition_stats_arrow` fields) on the SAME pass, reusing
    this kernel's token list — iterator-form pandas UDFs never share
    an ArrowEvalPython node, so a separate repetition kernel would
    serialize the text to Python twice."""
    import re as _re
    from decimal import Decimal, ROUND_HALF_UP
    from pyspark.sql.functions import pandas_udf

    # Spark/DuckDB round() is HALF_UP on the double's exact binary
    # value (BigDecimal semantics); Python's round() is banker's — they
    # differ on exact ties (e.g. 105/128 = 0.8203125), so mirror
    # HALF_UP explicitly
    _Q = {n: Decimal(1).scaleb(-n) for n in (6, 9)}

    def rnd(x, n):
        return float(Decimal(x).quantize(_Q[n], rounding=ROUND_HALF_UP))

    stop = set(STOPWORDS)
    ws = _re.compile(r"\s+")
    alpha_re = _re.compile(r"[^a-zA-Z]")
    punct_re = _re.compile(r"[a-zA-Z0-9\s]")
    bpe_re = _re.compile(_BPE_RE)
    # marker-word language ID rides the same token list —
    # lang_id_stopword semantics exactly (argmax with strict >, so
    # the lexicographically-first language keeps ties; 'und' at zero)
    markers = [(lang, frozenset(words))
               for lang, words in sorted(LANG_MARKERS.items())]

    schema = _STAT_SCHEMA + (", lang string" if with_lang else "")
    cols = ["n_chars", "word_count", "avg_word_len", "stopword_ratio",
            "alpha_ratio", "punct_ratio", "quality", "bpe_tokens"]
    if with_lang:
        cols.append("lang")
    if with_repetition:
        schema += ", " + _REP_SCHEMA
        cols.extend(_REP_COLS)

    @pandas_udf(schema)
    def _stats(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def one(t):
            if t is None:
                return (None,) * len(cols)
            toks = [x for x in ws.split(t.lower()) if x]
            n_tok = len(toks)
            n_chars = len(t)
            alpha = n_chars - len(alpha_re.findall(t))
            punct = n_chars - len(punct_re.findall(t))
            n_stop = sum(1 for x in toks if x in stop)
            st = max(n_tok, 1)
            sc = max(n_chars, 1)
            awl = sum(len(x) for x in toks) / st
            stop_r = n_stop / st
            alpha_r = alpha / sc
            punct_r = punct / sc
            # quality composes the 9-rounded components
            # (quality_score semantics); the emitted stat columns are
            # 6-rounded (text_stats default)
            awl9, stop9 = rnd(awl, 9), rnd(stop_r, 9)
            alpha9, punct9 = rnd(alpha_r, 9), rnd(punct_r, 9)
            wl_ok = 1.0 if (awl9 >= 3 and awl9 <= 10) else 0.5
            quality = rnd(
                min(stop9 * 4, 1.0) * 0.3 + alpha9 * 0.4
                + (1 - min(punct9 * 5, 1.0)) * 0.2 + wl_ok * 0.1, 6)
            base = (n_chars, n_tok, rnd(awl, 6), rnd(stop_r, 6),
                    rnd(alpha_r, 6), rnd(punct_r, 6), quality,
                    len(bpe_re.findall(t)))
            if with_lang:
                best, best_n = "und", 0
                for lang, words in markers:
                    c = sum(1 for x in toks if x in words)
                    if c > best_n:
                        best, best_n = lang, c
                base = base + (best,)
            if with_repetition:
                base = base + _repetition_values(
                    t, toks, lambda x: rnd(x, 6))
            return base

        for s in it:
            yield _pd.DataFrame([one(t) for t in s], columns=cols)

    return _stats(F.col(text_col))


def lang_id_stopword(text: Column,
                     markers: Optional[Mapping[str, Sequence[str]]] = None
                     ) -> Column:
    """JVM-side heuristic language ID: argmax of marker-word hits with
    deterministic tie-break (lexicographic language code); 'und' when
    nothing matches."""
    markers = markers or LANG_MARKERS
    items = sorted(markers.items())
    langs = [lang for lang, _ in items]
    all_words = sorted({w for _, ws in items for w in ws})

    # Single-pass design (this used to be one higher-order filter per
    # language over the FULL token array, with the counts duplicated
    # exponentially through an argmax when-chain — 2.9 s at sf0.1; the
    # marker-set prefilter + one aggregate is ~3x faster and the token
    # split appears exactly once in the final expression tree):
    #  1. prefilter tokens to the union marker set (one pass over the
    #     full array; the survivor array is tiny for real text),
    #  2. ONE aggregate over the survivors accumulating a per-language
    #     count vector (K membership checks per marker token only),
    #  3. argmax via array_max over (count, -index) structs — max count,
    #     then min index, i.e. the lexicographically-first language
    #     keeps ties; 'und' when no marker hit at all.
    toks = tokens(text)
    mtoks = F.filter(toks, lambda t: t.isin(*all_words))
    init = F.array(*[F.lit(0) for _ in items])
    counts = F.aggregate(
        mtoks, init,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[t.isin(*words).cast("int") for _, words in items]),
            lambda a, b: a + b))
    neg_idx = F.array(*[F.lit(-i) for i in range(len(items))])
    best = F.array_max(F.zip_with(
        counts, neg_idx,
        lambda c, ni: F.struct(c.alias("n"), ni.alias("ni"))))
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return F.when(best["n"] > 0,
                  F.element_at(lang_arr, -best["ni"] + 1)) \
            .otherwise(F.lit("und"))


# Tiny char-trigram profiles (top trigrams per language). Real systems
# load fastText/CLD3 models; the Spark plumbing (Arrow-batched UDF over
# a string column) is identical.
_NGRAM_PROFILES: Dict[str, List[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ion",
           " to"],
    "de": ["er ", "en ", "ch ", "der", " de", "die", "ie ", "ein", "sch",
           "und"],
    "fr": ["es ", " de", "de ", "le ", "ent", " le", "la ", " la", "tio",
           "ne "],
    "es": [" de", "de ", "os ", " la", "la ", "el ", " el", "que", " qu",
           "as "],
}


def lang_id_ngram(text_col: str = "text",
                  out_col: str = "lang_pred") -> Column:
    """Char-trigram profile language ID as an Arrow-batched pandas UDF
    (the 'model inference' shape: string series in, label series out).
    Vectorized over the batch; no per-row Python function calls in the
    driver plan."""
    profiles = {lang: set(g) for lang, g in _NGRAM_PROFILES.items()}
    langs = sorted(profiles)

    @pandas_udf("string")
    def _lid(s: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return "und"
            t = " " + t.lower() + " "
            grams = {t[i:i + 3] for i in range(len(t) - 2)}
            best, best_n = "und", 0
            for lang in langs:
                n = len(grams & profiles[lang])
                if n > best_n:
                    best, best_n = lang, n
            return best
        return s.map(one)

    return _lid(F.col(text_col)).alias(out_col)


def doc_fingerprint(text: Column, algo: str = "sha256") -> Column:
    """Stable content fingerprint of the *normalized* token stream
    (case/whitespace-insensitive), so cosmetic edits collapse:
    ``sha256``/``md5`` hex of the joined tokens, or ``simhash`` for a
    similarity-preserving 60-bit integer."""
    norm = F.array_join(tokens(text), " ")
    if algo == "sha256":
        return F.sha2(norm, 256)
    if algo == "md5":
        return F.md5(norm)
    if algo == "simhash":
        return simhash(text)
    raise ValueError(f"unknown fingerprint algo {algo!r}")


_REP_SCHEMA = ("n_lines bigint, dup_line_frac double, "
               "dup_line_char_frac double, top2_char_frac double, "
               "top3_char_frac double, dup5_frac double")

_REP_COLS = ["n_lines", "dup_line_frac", "dup_line_char_frac",
             "top2_char_frac", "top3_char_frac", "dup5_frac"]


def _repetition_values(t: str, toks, rnd6):
    """The repetition 6-tuple for one document — shared by the
    standalone kernel and the fused ``text_stats_arrow`` path (which
    passes its already-split token list so the text is tokenized
    once)."""
    from collections import Counter

    def grams(n):
        return [" ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)]

    def top_frac(n, n_chars):
        gs = grams(n)
        if not gs or n_chars <= 0:
            return 0.0
        c = Counter(gs)
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        return rnd6(best[1] * len(best[0]) / n_chars)

    lines = [x for x in t.split("\n") if x != ""]
    n_lines = len(lines)
    lc = Counter(lines)
    dup_lines = sum(c for c in lc.values() if c >= 2)
    dup_line_chars = sum(len(l) * c for l, c in lc.items() if c >= 2)
    tot_line_chars = sum(len(l) for l in lines)
    n_chars = len(t)
    g5 = Counter(grams(5))
    tot5 = sum(c * len(g) for g, c in g5.items())
    dup5 = sum(c * len(g) for g, c in g5.items() if c >= 2)
    return (
        n_lines,
        rnd6(dup_lines / n_lines) if n_lines else 0.0,
        rnd6(dup_line_chars / tot_line_chars) if tot_line_chars else 0.0,
        top_frac(2, n_chars),
        top_frac(3, n_chars),
        rnd6(dup5 / tot5) if tot5 else 0.0,
    )


def repetition_stats_arrow(text_col: str = "text") -> Column:
    """Gopher-style repetition signals in one Arrow pass (struct):

    - ``dup_line_frac`` — duplicate (non-empty) lines / total lines;
    - ``dup_line_char_frac`` — characters of duplicate lines / total
      line characters;
    - ``top2_char_frac`` / ``top3_char_frac`` — characters covered by
      occurrences of the most frequent word 2-/3-gram over total
      characters (tie → lexicographically-smallest gram, so the
      choice is engine-reproducible);
    - ``dup5_frac`` — repeated word-5-gram occurrences' characters
      over ALL 5-gram occurrences' characters (a deterministic proxy
      for Gopher's duplicated-n-gram coverage: occurrence-weighted,
      not position-deduplicated — documented divergence, exactly
      reproducible in SQL).

    All ratios HALF_UP-rounded to 6 like the quality kernel."""
    import re as _re
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP

    _Q6 = Decimal(1).scaleb(-6)

    def rnd(x):
        return float(Decimal(x).quantize(_Q6, rounding=ROUND_HALF_UP))

    ws = _re.compile(r"\s+")

    @pandas_udf(_REP_SCHEMA)
    def _rep(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def one(t):
            if t is None:
                return (None,) * 6
            toks = [x for x in ws.split(t.lower()) if x]
            return _repetition_values(t, toks, rnd)

        for s in it:
            yield _pd.DataFrame([one(t) for t in s], columns=_REP_COLS)

    return _rep(F.col(text_col))


_ENT_SCHEMA = ("n_cp bigint, distinct_chars bigint, "
               "char_ent_micro bigint, char_ent_per_cp_micro bigint, "
               "n_tokens bigint, distinct_tokens bigint, "
               "tok_ent_micro bigint, ttr_micro bigint")

_ENT_COLS = ["n_cp", "distinct_chars", "char_ent_micro",
             "char_ent_per_cp_micro", "n_tokens", "distinct_tokens",
             "tok_ent_micro", "ttr_micro"]


def entropy_stats_arrow(text_col: str = "text") -> Column:
    """Shannon-entropy gibberish/diversity signals per document, as a
    struct column — the information-theoretic complement to the ratio
    heuristics in :func:`text_stats` (RefinedWeb/Gopher-style quality
    filtering uses both families: a page of one repeated character has
    near-zero character entropy; base64 soup or key-mash has abnormally
    high entropy and a token entropy close to its ln(n_tokens) ceiling).

    Fields (reference semantics: Beats has no analog — this is the
    curation layer):

    - ``n_cp`` — length in Unicode codepoints;
    - ``distinct_chars`` / ``char_ent_micro`` — distinct codepoints and
      the character-distribution entropy ``-Σ k·round(ln(k/n)·1e6)``
      (integer micro-nats, see exactness below);
    - ``char_ent_per_cp_micro`` — ``char_ent_micro // n_cp``, the mean
      per-character entropy (what a threshold filter actually uses);
    - ``n_tokens`` / ``distinct_tokens`` — whitespace-token counts
      (same tokenization as :func:`beats_analytics.dedup.tokens`);
    - ``tok_ent_micro`` — token-distribution entropy (vocabulary
      diversity; boilerplate listings score low);
    - ``ttr_micro`` — type-token ratio ``floor(1e6·distinct/n_tokens)``.

    Exactness: each distinct value's ``ln(k/n)`` is quantized to
    integer micro-nats (half-away-from-zero, the Spark/DuckDB round
    contract) BEFORE the per-document weighted sum, so every output is
    a bigint an external SQL engine reproduces bit-for-bit — the same
    cents trick as :mod:`beats_analytics.lm`. ``math.log`` (libm)
    is used per DISTINCT value rather than a vectorized np.log so the
    double bits match DuckDB's ``ln`` exactly.

    Scale shape: the histogram of one document never involves another
    document — the whole operator is ONE ArrowEvalPython projection,
    zero shuffle, documents never move. At 100 TB this is the cheapest
    kind of stage there is: map-side, column-pruned to the text column,
    and the emitted struct is ~64 bytes/doc.
    """
    import math
    from collections import Counter
    import re as _re
    from pyspark.sql.functions import pandas_udf

    ws = _re.compile(r"\s+")

    def _ent(counts, n):
        # round half-away-from-zero like Spark/DuckDB round(); values
        # are ln(k/n) <= 0 so the boundary form is ceil(v - 0.5)
        tot = 0
        for k in counts:
            v = math.log(k / n) * 1_000_000.0
            tot += k * int(math.trunc(v + math.copysign(0.5, v)))
        return -tot

    @pandas_udf(_ENT_SCHEMA)
    def _stats(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def one(t):
            if t is None:
                return (None,) * len(_ENT_COLS)
            n = len(t)
            toks = [x for x in ws.split(t.lower()) if x]
            nt = len(toks)
            cc = Counter(t)
            tc = Counter(toks)
            ce = _ent(cc.values(), n) if n else 0
            te = _ent(tc.values(), nt) if nt else 0
            return (
                n, len(cc), ce, (ce // n) if n else None,
                nt, len(tc), te,
                (1_000_000 * len(tc)) // nt if nt else None,
            )

        for s in it:
            yield _pd.DataFrame([one(t) for t in s], columns=_ENT_COLS)

    return _stats(F.col(text_col))


def dns_tunnel_flags(
    df: DataFrame,
    name_col: str = "query_name",
    min_label_len: int = 24,
    min_ent_per_cp_micro: int = 2_000_000,
) -> DataFrame:
    """DNS-tunneling / DGA detection over query names — the SIEM
    detection Beats feeds but does not compute (packetbeat ships the
    DNS question; the detection lives downstream): data exfiltrated
    through DNS rides the FIRST label as an encoded blob, so
    tunneled names have a first label that is simultaneously LONG
    (≥ ``min_label_len`` codepoints) and HIGH-ENTROPY (mean
    per-character entropy ≥ ``min_ent_per_cp_micro`` micro-nats — a
    32-char md5 label measures ≥2.06e6 across the corpus (the
    multinomial dip below ln 16 ≈ 2.77e6); long natural-word labels
    sit near 1.8e6 and repetitive blobs near ln 4 ≈ 1.39e6). Both thresholds are integer comparisons on the
    :func:`entropy_stats_arrow` micro-nat fields, so the flag is
    bit-reproducible in SQL.

    Appends ``(label_len, ent_per_cp_micro, is_tunnel)`` to ``df``.
    Scale shape: ``substring_index`` is codegen; the entropy kernel
    is the module's one ArrowEvalPython projection; zero shuffle.
    """
    lab = df.withColumn(
        "__label", F.substring_index(F.col(name_col), ".", 1))
    s = entropy_stats_arrow("__label")
    out = lab.select(
        *df.columns,
        s["n_cp"].alias("label_len"),
        s["char_ent_per_cp_micro"].alias("ent_per_cp_micro"))
    return out.withColumn(
        "is_tunnel",
        (F.col("label_len") >= min_label_len)
        & (F.coalesce(F.col("ent_per_cp_micro"), F.lit(0))
           >= min_ent_per_cp_micro))


def lang_spans(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n\n",
               markers: Optional[Mapping[str, Sequence[str]]] = None
               ) -> DataFrame:
    """Code-switching segmentation: split each document into
    paragraphs, language-ID each with the same marker argmax as
    :func:`lang_id_stopword`, and merge ADJACENT same-language
    paragraphs into spans — ``(id, span_id, lang, n_paras,
    pos_start, pos_end)``.

    Why span-level, not doc-level: a page that is 90% English with an
    embedded German quotation gets lang='en' from the doc-level ID
    and the quotation silently pollutes an English training corpus;
    the span view lets curation keep the majority span and drop (or
    reroute) the switched one. Paragraphs with no marker hits
    (including empty ones) classify 'und' and form their own spans.

    Scale shape: the split + per-paragraph ID is one codegen
    projection (posexplode + the single-pass marker aggregate); the
    only exchange is the per-document window that numbers spans —
    paragraphs of one doc land in one partition, so span merge never
    crosses workers. Span numbering is the classic gaps-and-islands
    running sum over lang-change flags.
    """
    from pyspark.sql import Window
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"))
    classed = paras.select(
        "id", "pos", lang_id_stopword(F.col("para"), markers)
        .alias("plang"))
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("plang").over(w)
    chg = (prev.isNull() | (F.col("plang") != prev)).cast("int")
    sp = classed.withColumn(
        "span_id", F.sum(chg).over(w).cast("int"))
    return (sp.groupBy("id", "span_id")
            .agg(F.min("plang").alias("lang"),
                 F.count(F.lit(1)).alias("n_paras"),
                 F.min("pos").cast("int").alias("pos_start"),
                 F.max("pos").cast("int").alias("pos_end")))


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "w",
) -> DataFrame:
    """Out-of-vocabulary rate per document against a frozen
    vocabulary — the tokenizer-fit / domain-mismatch diagnostic (a
    corpus whose OOV rate against the training tokenizer's vocab
    jumps is about to fragment into character-level tokens and waste
    sequence length).

    Returns ``(id_col, n_tokens, n_oov, oov_micro)`` with
    ``oov_micro = floor(1e6 · n_oov / n_tokens)`` (NULL for empty
    docs) — integer outputs, engine-exact.

    Scale shape: one corpus explode into (id, token); the vocabulary
    probe is a LEFT join against the vocab table on the token (at
    web scale the vocab is 32k-256k rows — Spark broadcasts it;
    spelled as a plain join so AQE decides if it ever grows); one
    re-agg on the id. Text never moves whole — the exchanges carry
    (id, token) pairs.
    """
    occ = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("__w"))
    v = vocab.select(F.col(vocab_col).alias("__w"),
                     F.lit(1).alias("__in"))
    probed = occ.join(v, "__w", "left")
    agg = (probed.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov")))
    return (df.select(F.col(id_col)).distinct()
            .join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce("n_tokens", F.lit(0).cast("bigint"))
                     .alias("n_tokens"),
                    F.coalesce("n_oov", F.lit(0).cast("bigint"))
                     .alias("n_oov"),
                    F.when(F.coalesce("n_tokens", F.lit(0)) > 0,
                           F.floor(F.col("n_oov") * 1_000_000
                                   / F.col("n_tokens")))
                     .cast("bigint").alias("oov_micro")))


# a sentence: at least one non-terminator char, then a terminator run
# (or end of text for the trailing fragment). No lookaround → Java
# regex and RE2 agree, so the split is oracle-exact.
SENTENCE_RE = r"([^.!?]+(?:[.!?]+|$))"


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    keep_empty_docs: bool = False) -> DataFrame:
    """Rule-based sentence segmentation → one row per sentence:
    ``(id, sent_idx, sentence)``, 0-indexed in document order. The
    chunking primitive for context-window packing and per-sentence
    dedup/quality scoring (pairs with
    :func:`~beats_analytics.packing.pack_greedy`).

    Pure codegen: one ``regexp_extract_all`` + ``posexplode`` +
    whitespace-trim — no Python, no exchange; segmentation happens at
    scan speed and the explode multiplies rows map-side. Sentences
    that trim to empty are dropped; docs with no sentences vanish
    (posexplode semantics) unless ``keep_empty_docs``.
    """
    arr = F.regexp_extract_all(F.col(text_col), F.lit(SENTENCE_RE),
                               F.lit(1))
    out = df.select(F.col(id_col),
                    F.posexplode(arr).alias("sent_idx", "__raw"))
    sent = F.regexp_replace(
        F.regexp_replace(F.col("__raw"), r"^[ \t\r\n]+", ""),
        r"[ \t\r\n]+$", "")
    out = (out.select(id_col, "sent_idx", sent.alias("sentence"))
              .filter(F.length("sentence") > 0))
    if keep_empty_docs:
        base = df.select(F.col(id_col)).distinct()
        missing = (base.join(out.select(id_col).distinct(), id_col,
                             "left_anti")
                   .select(id_col, F.lit(0).alias("sent_idx"),
                           F.lit(None).cast("string").alias("sentence")))
        out = out.unionByName(missing)
    return out


def wilson_lower_bound(k: Column, n: Column, z: float = 1.96) -> Column:
    """Lower bound of the Wilson score interval (Wilson 1927) for a
    k-of-n proportion — the uncertainty-penalized quality rate for
    RANKING groups (domains, sources) by the fraction of rows passing
    a quality gate. The plain ratio ranks a 3/3 domain above a 97/100
    one; the Wilson bound shrinks small-sample rates toward zero so
    confidence rides the rank. ``z=1.96`` ≈ one-sided 97.5%.

    Bit-reproducible across engines: only IEEE correctly-rounded ops
    (+ - * / sqrt) in the fixed parenthesization below, so a SQL
    oracle replaying the same expression shape yields the identical
    double (``z*z`` is folded in Python — emit ``(1.96*1.96)`` on the
    SQL side, the same product). ``n`` must be > 0; NULL-safe (NULL
    k or n → NULL)."""
    p = k.cast("double") / n.cast("double")
    nn = n.cast("double")
    z2 = z * z
    return ((p + F.lit(z2) / (2.0 * nn)
             - F.lit(z) * F.sqrt((p * (1.0 - p)
                                  + F.lit(z2) / (4.0 * nn)) / nn))
            / (1.0 + F.lit(z2) / nn))


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ngram: int = 3,
    vocab_sizes: Sequence[int] = (100, 1000, 4000, 16000),
) -> DataFrame:
    """Tokenizer-design analytics: corpus coverage (and its
    complement, the OOV rate) for EVERY candidate vocabulary size in
    one scan — vocab size v covers the v most frequent n-grams
    (ties broken lexicographically, a total order both engines
    share).

    Scale shape: one corpus-sized explode feeds ONE partial-combining
    frequency aggregation (the only data-proportional exchange; the
    gram table is consumed twice — total + top — so it is
    localCheckpoint-ed, not recomputed). The top-``max(vocab_sizes)``
    cut is TakeOrderedAndProject — per-partition heaps, never a
    global sort; the cumulative census then runs over at most
    max(vocab_sizes) rows (bounded by the PARAMETER, not the data —
    the documented reason the single-partition window is safe), with
    all |V| thresholds answered by conditional sums in one pass and
    unpivoted from the single aggregated row (the filter_sweep
    idiom). Output: ``(vocab_size, covered, total,
    coverage_micro)``, coverage in exact integer micro-units.
    """
    from .dedup import word_ngrams
    sizes = sorted({int(v) for v in vocab_sizes})
    if not sizes or sizes[0] < 1:
        raise ValueError(
            f"vocab_sizes must be positive ints, got {vocab_sizes!r}")
    grams = df.select(
        F.explode(word_ngrams(F.col(text_col), ngram)).alias("gram"))
    tf = (grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint())
    total = tf.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                   .alias("total"))
    w = Window.orderBy(F.col("c").desc(), "gram")
    ranked = (tf.orderBy(F.col("c").desc(), "gram").limit(sizes[-1])
              .withColumn("__rn", F.row_number().over(w)))
    one = ranked.agg(*[
        F.coalesce(F.sum(F.when(F.col("__rn") <= v, F.col("c"))
                         .otherwise(F.lit(0))), F.lit(0))
         .cast("long").alias(f"__c{v}")
        for v in sizes])
    pairs = ", ".join(f"{v}, __c{v}" for v in sizes)
    out = (one.join(F.broadcast(total))
           .selectExpr(
               f"stack({len(sizes)}, {pairs}) "
               "AS (vocab_size, covered)", "total"))
    return (out.select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        "covered", "total",
        F.when(F.col("total") > 0,
               F.expr("(1000000 * covered) DIV total"))
         .cast("long").alias("coverage_micro")))


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    ngram: int = 3,
    top_n: int = 10000,
) -> DataFrame:
    """Power-law diagnostic: least-squares slope of log-frequency vs
    log-rank over the ``top_n`` most frequent n-grams — natural text
    sits near Zipf's α ≈ 1; template farms and synthetic spam flatten
    or steepen the curve, making α a cheap corpus-quality signal.

    Exact fixed-point spec (both engines compute THIS): x =
    round(1000·ln(rank)), y = round(1000·ln(freq)) in MILLI-nats
    (milli, not micro, so the centered cross-products stay far inside
    BIGINT: |Σdx·dy| ≤ top_n·(ln top_n·1000)² ≈ 10^12 at the default),
    means are floor divisions, and
    ``alpha_micro = −(10^6·Σdxdy) div Σdxdx``.

    Scale shape: identical to :func:`vocab_coverage` — one
    corpus-sized explode into one partial-combining frequency agg,
    the rank table cut to ``top_n`` by TakeOrderedAndProject, the
    regression itself a single aggregation over ≤ top_n rows (bounded
    by the PARAMETER). Output: one row
    ``(n_grams, alpha_micro, x_mean_milli, y_mean_milli)``.
    """
    from .dedup import word_ngrams
    if top_n < 2:
        raise ValueError(f"top_n must be >= 2, got {top_n}")
    grams = df.select(
        F.explode(word_ngrams(F.col(text_col), ngram)).alias("gram"))
    tf = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "gram")
    ranked = (tf.orderBy(F.col("c").desc(), "gram").limit(top_n)
              .withColumn("__rn", F.row_number().over(w))
              .select(
                  F.round(F.lit(1000.0) * F.log(F.col("__rn")
                                                .cast("double")))
                   .cast("long").alias("x"),
                  F.round(F.lit(1000.0) * F.log(F.col("c")
                                                .cast("double")))
                   .cast("long").alias("y")))
    means = ranked.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.expr("sum(x) DIV count(1)").alias("x_mean_milli"),
        F.expr("sum(y) DIV count(1)").alias("y_mean_milli"))
    fit = (ranked.join(F.broadcast(means))
           .agg(F.max("n_grams").alias("n_grams"),
                F.max("x_mean_milli").alias("x_mean_milli"),
                F.max("y_mean_milli").alias("y_mean_milli"),
                F.sum((F.col("x") - F.col("x_mean_milli"))
                      * (F.col("y") - F.col("y_mean_milli")))
                 .alias("__sxy"),
                F.sum((F.col("x") - F.col("x_mean_milli"))
                      * (F.col("x") - F.col("x_mean_milli")))
                 .alias("__sxx")))
    return fit.select(
        "n_grams",
        F.when(F.col("__sxx") > 0,
               F.expr("-((1000000 * __sxy) DIV __sxx)"))
         .cast("long").alias("alpha_micro"),
        "x_mean_milli", "y_mean_milli")
