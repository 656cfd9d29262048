"""PII scrubbing and corpus line-level deduplication.

Two standard pre-training hygiene passes (both ship in the public
pipelines — C4 removes boilerplate lines corpus-wide, Dolma/FineWeb
mask emails/phones/IPs before release):

- :func:`scrub_pii` / :func:`scrub` — replace personally identifying
  substrings (email, IPv4, phone, SSN-shaped ids) with typed
  placeholder tokens, entirely via chained ``regexp_replace`` — pure
  JVM, whole-stage codegen, zero Python. The pattern table is shared
  with the DuckDB oracle (RE2-safe subset: no backreferences, no
  lookaround), so redaction is bit-reproducible cross-engine.
- :func:`dedup_lines` — split documents into lines, keep only the
  FIRST occurrence of each distinct line corpus-wide (or per-doc),
  reassemble the surviving lines in order. This is the C4
  "three-sentence span" dedup collapsed to its line-granular form.

Scale design (100 TB):

- PII scrubbing is map-side only — no shuffle, and because it is a
  deterministic per-row projection it composes with any downstream
  filter without breaking predicate pushdown on untouched columns.
- ``dedup_lines`` needs exactly two exchanges: one hash-partitioned
  by line content to rank occurrences (line text IS the key, so skew
  equals boilerplate frequency — the win-first rule keeps one row per
  distinct line, and the per-line group is streamed by the window, so
  a 10^9-occurrence boilerplate line costs one partition's scan, not
  memory), and one regroup by document id to reassemble. The shuffle
  payload is ``(line, doc_id, pos)`` — never the whole document.
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["PII_PATTERNS", "scrub_pii", "pii_counts", "scrub",
           "blocklist_filter",
           "dedup_lines", "strip_boilerplate", "c4_clean",
           "C4_TERMINAL_RE"]


# Ordered: SSN before phone (an SSN is also a dialable digit run),
# email before IP (emails may embed dotted hosts). Every pattern is
# RE2-compatible (DuckDB) AND java.util.regex-compatible (Spark) with
# identical leftmost-greedy semantics: plain classes + bounded
# repetition only.
PII_PATTERNS: Tuple[Tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+?[0-9][0-9\-() ]{6,}[0-9]", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)

_BY_KIND = {k: (rx, tok) for k, rx, tok in PII_PATTERNS}


def scrub_pii(text: Column, kinds: Optional[Iterable[str]] = None,
              replacements: Optional[Dict[str, str]] = None) -> Column:
    """``text`` with each PII kind replaced by its placeholder token.

    Kinds are applied in :data:`PII_PATTERNS` order regardless of the
    order given (replacement order is part of the contract — a phone
    pattern must never see an un-replaced SSN).
    """
    wanted = set(kinds) if kinds is not None else set(_BY_KIND)
    unknown = wanted - set(_BY_KIND)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    out = text
    for kind, rx, tok in PII_PATTERNS:
        if kind not in wanted:
            continue
        if replacements and kind in replacements:
            tok = replacements[kind]
        out = F.regexp_replace(out, rx, tok)
    return out


def pii_counts(text: Column,
               kinds: Optional[Iterable[str]] = None) -> Dict[str, Column]:
    """Per-kind match counts (bigint) over the ORIGINAL text.

    Counts are taken kind-by-kind on the unmodified input (not the
    progressively scrubbed one), so a substring can in principle count
    toward two kinds; redaction itself stays first-match-wins.
    """
    wanted = set(kinds) if kinds is not None else set(_BY_KIND)
    unknown = wanted - set(_BY_KIND)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    return {kind: F.regexp_count(text, F.lit(rx)).cast("bigint")
            for kind, rx, tok in PII_PATTERNS if kind in wanted}


def scrub(df: DataFrame, text_col: str = "text",
          kinds: Optional[Iterable[str]] = None,
          out_col: Optional[str] = None,
          with_counts: bool = False,
          count_prefix: str = "n_pii_") -> DataFrame:
    """DataFrame form: scrub ``text_col`` (in place unless ``out_col``
    is given); with ``with_counts``, add one ``{count_prefix}{kind}``
    bigint column per kind, counted on the pre-scrub text."""
    out_col = out_col or text_col
    cols = list(df.columns)
    res = df
    if with_counts:
        for kind, cnt in pii_counts(F.col(text_col), kinds).items():
            name = f"{count_prefix}{kind}"
            res = res.withColumn(name, cnt)
            cols.append(name)
    res = res.withColumn(out_col, scrub_pii(F.col(text_col), kinds))
    if out_col not in cols:
        cols.insert(cols.index(text_col) + 1, out_col)
    return res.select(*cols)


def dedup_lines(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", sep: str = "\n",
                scope: str = "corpus",
                count_col: Optional[str] = "n_lines",
                out_col: Optional[str] = None) -> DataFrame:
    """Remove duplicate lines, keeping each distinct line's FIRST
    occurrence (ordered by ``(id, position)``), and reassemble the
    survivors in original order.

    ``scope='corpus'`` ranks occurrences across ALL documents (the C4
    convention: later documents lose their copy of a boilerplate
    line); ``scope='doc'`` dedups only within each document.

    ``sep`` is used literally both to split (regex-escaped) and to
    rejoin. A document whose every line is dropped disappears from the
    output entirely (it has no surviving rows to regroup).

    Output: ``id_col``, ``count_col`` (surviving line count, bigint;
    omitted when None) and ``out_col`` (defaults to ``text_col``).
    """
    if scope not in ("corpus", "doc"):
        raise ValueError("scope must be 'corpus' or 'doc'")
    out_col = out_col or text_col
    import re as _re
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
         .alias("__pos", "__line"))
    part = ["__line"] if scope == "corpus" else [id_col, "__line"]
    w = Window.partitionBy(*part).orderBy(id_col, "__pos")
    kept = (ex.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1))
    agg = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__line")))
         .alias("__pl"))
    cols = [F.col(id_col)]
    if count_col:
        cols.append(F.size("__pl").cast("bigint").alias(count_col))
    cols.append(
        F.array_join(F.transform("__pl", lambda s: s["__line"]), sep)
         .alias(out_col))
    return agg.select(*cols)


def strip_boilerplate(df: DataFrame, group_col: str = "source",
                      id_col: str = "doc_id", text_col: str = "text",
                      sep: str = "\n",
                      min_ratio: "tuple[int, int]" = (1, 2),
                      min_docs: int = 2,
                      count_col: Optional[str] = "n_kept",
                      out_col: Optional[str] = None) -> DataFrame:
    """Per-site boilerplate removal: a line appearing in at least
    ``min_ratio`` (a ``(num, den)`` rational — integer cross-
    multiplication, no float threshold) of a ``group_col`` site's
    documents, and in at least ``min_docs`` of them, is site
    furniture (nav, footer, cookie banner) and is stripped from every
    document of that site. The standard template-removal step between
    global line dedup (:func:`dedup_lines`, which keeps the FIRST
    copy) and page-quality filtering: boilerplate should survive
    NOWHERE, not once.

    Scale shape: two aggregations keyed ``(group, line-hash)`` and
    ``group`` (both partial/map-side combined — a footer on 10^8
    pages of one host arrives at the reducer as one partial per map
    task), then one anti-join of the exploded lines against the
    boilerplate set on ``(group, 64-bit line-hash)`` — the count
    tables never carry line text; the reassembly exchange carries
    each line once (inherent: the output needs the bytes).
    Line identity is xxhash64 (the repo-wide join-key discipline;
    text is compared only through the hash).

    Output: ``id_col``, ``group_col``, ``count_col`` (surviving line
    count; omitted when None), ``out_col`` (defaults to
    ``text_col``). A document whose every line is boilerplate
    disappears (no surviving rows), like :func:`dedup_lines`.
    """
    num, den = min_ratio
    if num <= 0 or den <= 0:
        raise ValueError("min_ratio must be a positive rational")
    out_col = out_col or text_col
    import re as _re
    ex = df.select(
        F.col(id_col), F.col(group_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep)))
         .alias("__pos", "__line")) \
        .withColumn("__h", F.xxhash64("__line"))
    ndocs = (df.groupBy(group_col)
             .agg(F.count_distinct(F.col(id_col)).alias("__nd")))
    freq = (ex.groupBy(group_col, "__h")
            .agg(F.count_distinct(F.col(id_col)).alias("__nl")))
    boiler = (freq.join(ndocs, group_col)
              .filter((F.col("__nl") * den >= F.col("__nd") * num)
                      & (F.col("__nl") >= min_docs))
              .select(group_col, "__h"))
    kept = ex.join(boiler, [group_col, "__h"], "left_anti")
    agg = kept.groupBy(id_col, group_col).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__line")))
         .alias("__pl"))
    cols = [F.col(id_col), F.col(group_col)]
    if count_col:
        cols.append(F.size("__pl").cast("bigint").alias(count_col))
    cols.append(
        F.array_join(F.transform("__pl", lambda s: s["__line"]), sep)
         .alias(out_col))
    return agg.select(*cols)


# C4 (Raffel et al. 2020, §2.2) page-cleaning heuristics. Terminal
# punctuation set per the paper: period / exclamation / question mark
# / end quotation mark.
C4_TERMINAL_RE = "[.!?\"”]$"


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_words_per_line: int = 3,
    min_lines_per_doc: int = 5,
    drop_line_substrings: Tuple[str, ...] = ("javascript",),
    drop_page_substrings: Tuple[str, ...] = ("lorem ipsum", "{"),
    out_col: Optional[str] = None,
    keep_dropped: bool = False,
) -> DataFrame:
    """The C4 rule-based page cleaner (Raffel et al. 2020 §2.2),
    entirely map-side — ZERO shuffle, whole-stage codegen, no Python:

    line rules (a line survives iff ALL hold, evaluated on the
    trimmed line):
      - ends in terminal punctuation (``. ! ? "`` or ``”``);
      - has at least ``min_words_per_line`` whitespace words;
      - contains none of ``drop_line_substrings`` (case-insensitive —
        the paper's "any line with the word Javascript").

    page rules (the whole page drops, reason column says why):
      - original text contains any of ``drop_page_substrings``
        case-insensitively (the paper's "lorem ipsum" phrase and the
        curly-bracket rule) → ``banned_substring``;
      - fewer than ``min_lines_per_doc`` SURVIVING lines (the paper
        counts sentences; at line granularity the kept line is the
        unit) → ``too_few_lines``.

    Returns ``(id_col, out_col, kept_lines)`` for surviving pages,
    with survivors' trimmed kept lines re-joined on ``sep``.
    ``keep_dropped=True`` returns every input page and appends a
    nullable ``drop_reason`` string column instead of filtering —
    the audit form (funnel metrics, rule tuning). NULL text is an
    empty page (drops as ``too_few_lines`` unless
    ``min_lines_per_doc == 0``).

    Scale: this is the cheapest gate in the curation funnel — run it
    FIRST so every downstream shuffle (dedup, spans, packing) sees
    only surviving pages; as a pure projection+filter it composes
    with scan pushdown on other predicates.
    """
    import re as _re
    out_col = out_col or text_col
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, _re.escape(sep))

    def line_ok(l: Column) -> Column:
        t = F.trim(l)
        words = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
        ok = t.rlike(C4_TERMINAL_RE) & (words >= min_words_per_line)
        for s in drop_line_substrings:
            ok = ok & ~F.lower(t).contains(s.lower())
        return ok

    kept = F.transform(F.filter(lines, line_ok), lambda l: F.trim(l))
    banned = F.lit(False)
    low = F.lower(text)
    for s in drop_page_substrings:
        banned = banned | low.contains(s.lower())
    reason = (F.when(banned, F.lit("banned_substring"))
               .when(F.size(kept) < min_lines_per_doc,
                     F.lit("too_few_lines")))

    res = df.select(
        F.col(id_col),
        F.array_join(kept, sep).alias(out_col),
        F.size(kept).cast("bigint").alias("kept_lines"),
        reason.alias("drop_reason"))
    if keep_dropped:
        return res
    return res.filter(F.col("drop_reason").isNull()).drop("drop_reason")


def blocklist_filter(
    df: DataFrame,
    terms: Iterable[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hits: int = 0,
    keep_blocked: bool = False,
) -> DataFrame:
    """The C4 blocklist gate (Raffel et al. 2020 §2.2: "any page that
    contained any word on the [blocklist]" is removed) as a pure
    zero-exchange projection: tokenize once (lowercase, split on
    non-alphanumeric, apostrophes kept so "don't" stays one token),
    intersect the distinct token set with the literal term array, and
    block any page whose count of distinct matched terms exceeds
    ``max_hits`` (default 0 = the paper's any-hit rule; raise it for
    a score-threshold variant).

    Word-boundary semantics come from the tokenization, NOT from a
    ``%term%`` substring test — "classic" never trips a block on
    "ass", the classic false-positive of the naive spelling. Terms
    must therefore be single tokens (validated loudly): a multi-word
    phrase has no boundary-safe zero-shuffle spelling and belongs in
    ``c4_clean(drop_page_substrings=...)`` instead.

    Returns ``(id_col, hits, hit_terms, blocked)`` with ``hit_terms``
    the sorted comma-joined matched terms (a string, so results stay
    hash-comparable cross-engine). ``keep_blocked=True`` keeps every
    page with the audit columns (rule-tuning / funnel metrics form);
    default returns only surviving pages, mirroring ``c4_clean``.

    Scale: the term array rides the plan as a literal (broadcast with
    the task binary — fine for the ~400-entry public lists; a
    million-term lexicon wants the broadcast-join spelling of
    :func:`beats_analytics.decontam.decontaminate` instead, also
    validated loudly). Zero exchanges, zero Python, whole-stage
    codegen end to end; composes with scan pushdown on other columns.
    NULL text = empty page = zero hits.
    """
    terms = sorted({t.lower() for t in terms})
    if not terms:
        raise ValueError("blocklist_filter: terms must be non-empty")
    bad = [t for t in terms if not t or any(c.isspace() for c in t)]
    if bad:
        raise ValueError(
            f"blocklist_filter: terms must be single non-empty tokens "
            f"(word boundaries come from tokenization); got {bad[:5]} — "
            "use c4_clean(drop_page_substrings=...) for phrases")
    if len(terms) > 100_000:
        raise ValueError(
            f"blocklist_filter: {len(terms)} terms is past the "
            "plan-literal design point; use a broadcast semi-join "
            "(see beats_analytics.decontam) for lexicon-sized lists")
    if int(max_hits) < 0:
        raise ValueError("blocklist_filter: max_hits must be >= 0")
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                r"[^a-z0-9']+"),
        lambda x: x != ""))
    inter = F.array_sort(F.array_intersect(
        toks, F.array(*[F.lit(t) for t in terms])))
    res = df.select(
        F.col(id_col),
        F.size(inter).cast("bigint").alias("hits"),
        F.array_join(inter, ",").alias("hit_terms"),
        (F.size(inter) > max_hits).alias("blocked"))
    if keep_blocked:
        return res
    return res.filter(~F.col("blocked")).drop("blocked")
