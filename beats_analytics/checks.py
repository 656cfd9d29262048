"""Declarative data-quality constraints over a DataFrame — the
Deequ-shaped verification layer (Schelter et al., VLDB 2018: "Automating
large-scale data quality verification") a 10^12-row ingest runs before
publishing a snapshot.

Design rule: every SCALAR constraint (completeness, range, set
membership, pattern, non-negativity, mean bounds) compiles into
aggregates of ONE pass — a single partial-combining aggregation over
the data, however many constraints are declared. N constraints as N
separate `df.filter(...).count()` jobs is the anti-pattern this module
exists to prevent: at 100 TB each extra pass is an extra full scan.
Only uniqueness genuinely needs its own shuffle (a distinct-count per
key column), and it shares ONE additional aggregation for all declared
uniqueness constraints.

Metrics are integer micro-units (``satisfied · 10^6 DIV n``) so every
verdict row is bit-reproducible in any engine — the same exactness
discipline as the rest of the catalog (no float ratios whose sum order
could differ).

Reference scope: Beats has no batch-constraint surface (its per-event
analog is the condition language, `conditions.py`); this serves the
north_star's publish-gate: refuse to swap a snapshot whose quality
metrics regressed.
"""

from __future__ import annotations

from typing import Any, List, Mapping, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["check_constraints", "corpus_report", "gini_concentration", "profile_columns"]


def _scalar_check(spec: Mapping[str, Any]) -> Tuple[str, Column, int]:
    """One scalar constraint → (name, satisfied-predicate, min_micro).

    The predicate counts a row as satisfied; the constraint passes
    when ``satisfied/n >= min_ratio`` (default 1.0 — every row).
    NULLs fail every per-row predicate except explicit completeness
    (where they are exactly what is being measured)."""
    (kind, body), = spec.items()
    min_micro = int(round(float(body.get("min_ratio", 1.0)) * 1_000_000))
    if kind == "completeness":
        col = body["column"]
        return (f"completeness({col})",
                F.col(col).isNotNull(), min_micro)
    if kind == "range":
        col = body["column"]
        pred = F.lit(True)
        if "min" in body:
            pred = pred & (F.col(col) >= F.lit(body["min"]))
        if "max" in body:
            pred = pred & (F.col(col) <= F.lit(body["max"]))
        lo, hi = body.get("min", "-inf"), body.get("max", "inf")
        return (f"range({col},[{lo},{hi}])",
                F.coalesce(pred, F.lit(False)), min_micro)
    if kind == "in_set":
        col = body["column"]
        vals = list(body["values"])
        return (f"in_set({col})",
                F.coalesce(F.col(col).isin(*vals), F.lit(False)),
                min_micro)
    if kind == "pattern":
        col = body["column"]
        return (f"pattern({col})",
                F.coalesce(F.col(col).rlike(body["regex"]),
                           F.lit(False)), min_micro)
    if kind == "non_negative":
        col = body["column"]
        return (f"non_negative({col})",
                F.coalesce(F.col(col) >= 0, F.lit(False)), min_micro)
    raise ValueError(f"check_constraints: unknown constraint {kind!r}")


def check_constraints(
    df: DataFrame,
    constraints: Sequence[Mapping[str, Any]],
) -> DataFrame:
    """Evaluate declarative constraints → one row per constraint:
    ``(check, n, satisfied, metric_micro, passed)``.

    ``metric_micro`` is the satisfied fraction in integer micro-units
    (uniqueness: distinct keys over rows). ``passed`` compares it to
    the constraint's ``min_ratio`` (default 1.0). ALL scalar
    constraints ride one aggregation pass and ALL uniqueness
    constraints share one more (multi-count_distinct in a single agg
    — Spark expands it internally, still one scan). Unknown
    constraint kinds fail loud at compile time — a quality gate that
    silently skips checks is worse than none.
    """
    if not constraints:
        raise ValueError("check_constraints: no constraints given")
    scalars: List[Tuple[str, Column, int]] = []
    uniques: List[Tuple[str, List[str], int]] = []
    for spec in constraints:
        (kind, body), = dict(spec).items()
        if kind == "unique":
            cols = list(body["columns"])
            min_micro = int(round(float(body.get("min_ratio", 1.0))
                                  * 1_000_000))
            uniques.append((f"unique({','.join(cols)})", cols,
                            min_micro))
        else:
            scalars.append(_scalar_check({kind: body}))

    def verdicts(wide: DataFrame, names_needs: list,
                 sat_cols: list) -> DataFrame:
        # ONE row out of ONE agg: the N verdict rows come from an
        # explode of per-check structs, never from N selects over the
        # same agg lineage (each select would re-run the full scan)
        structs = []
        for (name, need), sc in zip(names_needs, sat_cols):
            sat = F.coalesce(F.col(sc), F.lit(0))
            metric = F.expr(f"coalesce({sc}, 0) * 1000000 DIV "
                            "greatest(__n, 1)")
            structs.append(F.struct(
                F.lit(name).alias("check"),
                F.col("__n").alias("n"),
                sat.alias("satisfied"),
                metric.alias("metric_micro"),
                (metric >= need).alias("passed")))
        return (wide.select(F.explode(F.array(*structs)).alias("r"))
                .select("r.*"))

    out: DataFrame | None = None
    if scalars:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (_, pred, _) in enumerate(scalars):
            aggs.append(F.sum(pred.cast("long")).alias(f"__s{i}"))
        out = verdicts(df.agg(*aggs),
                       [(n, need) for n, _, need in scalars],
                       [f"__s{i}" for i in range(len(scalars))])
    if uniques:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (_, cols, _) in enumerate(uniques):
            # single column: SQL count(DISTINCT c) semantics (NULLs
            # excluded). Multi column: ROW-VALUE semantics — a tuple
            # with a NULL field still counts, matching SQL's
            # count(DISTINCT (a, b)); bare count_distinct(a, b) would
            # silently drop any row with one NULL field and diverge
            # from every SQL oracle
            if len(cols) == 1:
                d = F.count_distinct(F.col(cols[0]))
            else:
                d = F.count_distinct(
                    F.struct(*[F.col(c) for c in cols]))
            aggs.append(d.alias(f"__d{i}"))
        urows = verdicts(df.agg(*aggs),
                         [(n, need) for n, _, need in uniques],
                         [f"__d{i}" for i in range(len(uniques))])
        out = urows if out is None else out.unionByName(urows)
    assert out is not None
    return out


def profile_columns(
    df: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """One-pass column profile: for each requested column a row
    ``(column, n, n_null, n_distinct, min_value, max_value)`` with
    min/max rendered as strings (mixed types share one frame).

    The companion to :func:`check_constraints` — run the profile per
    ingest window, diff against the previous snapshot's, and derive
    tomorrow's constraints from today's healthy profile (the Deequ
    suggestion loop). EVERYTHING rides a single aggregation: the
    per-column stats are parallel aggregates of one pass and the
    verdict rows explode off the single agg row, so profiling twelve
    columns of a 100 TB table costs one scan, not twelve. Honest
    cost note: K exact count_distincts in one agg plan through
    Spark's Expand node (each input row fans to K+1 grouping rows
    before the partial agg combines them) — still one SCAN, but the
    map-side work is O(K·rows); swap the distincts for
    :func:`~beats_analytics.sketch.hll_registers` when K is
    large and exactness is negotiable.
    """
    if not columns:
        raise ValueError("profile_columns: no columns given")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: unknown columns {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(columns):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nul{i}"),
            F.count_distinct(F.col(c)).alias(f"__d{i}"),
            F.min(F.col(c)).cast("string").alias(f"__mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx{i}"),
        ]
    wide = df.agg(*aggs)
    structs = []
    for i, c in enumerate(columns):
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n"),
            F.coalesce(F.col(f"__nul{i}"), F.lit(0)).alias("n_null"),
            F.col(f"__d{i}").alias("n_distinct"),
            F.col(f"__mn{i}").alias("min_value"),
            F.col(f"__mx{i}").alias("max_value")))
    return (wide.select(F.explode(F.array(*structs)).alias("r"))
            .select("r.*"))


def corpus_report(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    quality_min_chars: int = 300,
) -> DataFrame:
    """Per-domain corpus data card in ONE aggregation pass — the
    summary a curation run publishes next to a snapshot (what Dolma/
    FineWeb ship as dataset cards): volume, token mass, language
    share, exact-duplicate rate, emptiness, and a quality-gate share,
    all per ``domain_col``.

    The module's one-pass rule applies: every signal is an aggregate
    of the same groupBy — N signals never become N scans. The only
    extra cost is the distinct-digest count (exact-dup rate), which
    Spark plans as an expand inside the SAME shuffle, not a second
    scan; the exchange carries (domain, digest) — 32-byte keys, never
    text. Ratios are integer micro-units (round toward floor via
    BIGINT DIV) so every row is engine-exact.

    Returns one row per domain: ``(domain, n_docs, n_chars,
    n_tokens, avg_doc_tokens, en_share_micro, dup_rate_micro,
    empty_share_micro, quality_share_micro)`` — NULL text counts as
    empty, and its docs form one dup group via the digest sentinel
    (same convention as :func:`~beats_analytics.dedup
    .dedup_exact`)."""
    from .dedup import tokens
    t = F.col(text_col)
    ntok = F.when(t.isNull(), F.lit(0)) \
            .otherwise(F.size(tokens(t))).cast("bigint")
    digest = F.when(t.isNull(), F.lit("__NULL__")).otherwise(F.md5(t))
    is_empty = (t.isNull() | (F.length(t) == 0)).cast("int")
    is_en = (F.col(lang_col) == "en").cast("int")
    is_q = ((~t.isNull())
            & (F.length(t) >= quality_min_chars)).cast("int")
    g = (df.groupBy(F.col(domain_col).alias("domain"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
              F.sum(F.coalesce(F.length(t), F.lit(0)))
               .cast("bigint").alias("n_chars"),
              F.sum(ntok).cast("bigint").alias("n_tokens"),
              F.countDistinct(digest).cast("bigint")
               .alias("__n_distinct"),
              F.sum(is_empty).cast("bigint").alias("__n_empty"),
              F.sum(is_en).cast("bigint").alias("__n_en"),
              F.sum(is_q).cast("bigint").alias("__n_q")))
    micro = lambda c: F.expr(f"({c} * 1000000) DIV n_docs")  # noqa: E731
    return g.select(
        "domain", "n_docs", "n_chars", "n_tokens",
        F.expr("n_tokens DIV n_docs").alias("avg_doc_tokens"),
        micro("__n_en").alias("en_share_micro"),
        F.expr("((n_docs - __n_distinct) * 1000000) DIV n_docs")
         .alias("dup_rate_micro"),
        micro("__n_empty").alias("empty_share_micro"),
        micro("__n_q").alias("quality_share_micro"))


def gini_concentration(
    df: DataFrame,
    key_col: str,
    weight_col: str,
) -> DataFrame:
    """Gini coefficient of a weight's concentration across keys (how
    dominated is the corpus by its biggest domains / users / shards —
    the one-number diagnostic behind "should I cap per-domain?").

    Exact spec: keys sorted by (weight asc, key asc) — a total order
    both engines share — ranked 1..n;
    ``G_micro = (10^6·(2·Σ i·x_i − (n+1)·Σx)) div (n·Σx)`` in
    decimal(38,0)/HUGEINT (Σ i·x_i reaches n²·x̄ — BIGINT dies at
    ~10^7 web-scale domains; exact wide arithmetic on the AGGREGATED
    table costs nothing). 0 = perfectly even, →1 = one key holds
    everything.

    Plan: one partial-combining rollup to the key table, ONE ordered
    window over that table (rows = keys, bounded far below the
    corpus; for 10^9+ keys swap in layout.global_rank's sampled-sort
    ranking), one global aggregate. Output one row:
    ``(n_keys, total, gini_micro)``."""
    per_key = (df.groupBy(key_col)
               .agg(F.sum(F.col(weight_col)).cast("long").alias("x")))
    w = Window.orderBy(F.col("x"), F.col(key_col))
    ranked = per_key.withColumn("i", F.row_number().over(w))
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("i").cast(dec) * F.col("x").cast(dec))
         .alias("__ix"))
    # decimal `div` truncates toward zero, exactly like DuckDB's
    # HUGEINT `//` (verified cross-engine) — no float division anywhere
    return agg.select(
        "n_keys", "total",
        F.when(F.col("total") > 0,
               F.expr("CAST(1000000 AS DECIMAL(38,0)) * "
                      "(CAST(2 AS DECIMAL(38,0)) * __ix - "
                      "(CAST(n_keys AS DECIMAL(38,0)) + 1) * "
                      "CAST(total AS DECIMAL(38,0))) div "
                      "(CAST(n_keys AS DECIMAL(38,0)) * "
                      "CAST(total AS DECIMAL(38,0)))"))
         .cast("long").alias("gini_micro"))
