"""Physical-plan linting: the scale-killer audit PLANS.md does in
prose, as an executable check.

``lint_plan(df)`` inspects the planned (not executed) physical tree
and reports the patterns that break 100 TB jobs:

- ``cartesian``        CartesianProduct — all-pairs join, O(N·M).
- ``nested_loop``      BroadcastNestedLoopJoin — bounded only if the
                       broadcast side is truly small; every legitimate
                       use in this repo documents its bound.
- ``python_row_udf``   BatchEvalPython — row-at-a-time Python in the
                       plan; the hot path must use Arrow
                       (ArrowEvalPython / MapInPandas) or JVM exprs.
- ``single_partition`` Exchange SinglePartition — a global
                       sort/window/agg collapsing to ONE task; safe
                       only when the collapsed row count is bounded by
                       a parameter, not the data (the vocab_coverage /
                       zipf_fit pattern), or it is the final
                       partial-combined global aggregate.
- ``unpushed_scan``    a parquet scan with pushable filters above it
                       but ``PushedFilters: []``.
- ``wide_text_exchange`` a shuffle Exchange whose input carries a
                       known wide text/payload column (``text``,
                       ``message``, ``html``, …) as a PASSENGER — the
                       column is not itself the (bare) partitioning
                       key. The classic case: full document
                       bodies riding an exact-dedup shuffle that
                       only needed (digest, id). Keyed-BY-the-column
                       exchanges are exempt (the key must cross), as
                       are round-robin rebalances (payload movement
                       is their purpose) and broadcast exchanges
                       (bounded by contract).

``assert_scale_safe(df)`` raises on the first two severities unless
explicitly allowed — the test-suite form; CI-grade enforcement of what
used to be prose.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame

__all__ = ["lint_plan", "assert_scale_safe"]

# rule -> severity. "error" = never acceptable undocumented;
# "warn" = acceptable when bounded by a parameter (caller documents).
RULES = {
    "cartesian": "error",
    "python_row_udf": "error",
    # warn, not error: the catalog's dominant NLJ shape is
    # join(broadcast(<one-row aggregate>)) — a scalar attach, bounded
    # by construction — and a genuinely oversized broadcast side fails
    # LOUDLY (driver OOM / broadcast timeout), never silently
    # quadratic. The silent killer is CartesianProduct, which stays
    # error.
    "nested_loop": "warn",
    "single_partition": "warn",
    "unpushed_scan": "warn",
    "wide_text_exchange": "error",
}

# payload-width column names whose presence in a keyed shuffle's
# input (as a non-key passenger) flags the exchange. Name-based by
# design: the engine's own conventions (documents.text, message,
# html bodies) are what the rule guards.
WIDE_TEXT_COLS = frozenset(
    {"text", "message", "html", "body", "content", "payload"})

_ATTR = r"[A-Za-z_@$][\w.@$\- ]*"
_ATTR_RE = re.compile(rf"({_ATTR})#\d+")
_BARE_ATTR_RE = re.compile(rf"^({_ATTR})#\d+L?$")


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _split_top_level(s: str) -> List[str]:
    """Split an argument list on top-level commas (not inside
    parentheses)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def wide_text_exchanges(df: DataFrame) -> List[Dict[str, str]]:
    """Scan the formatted plan for keyed shuffle Exchanges whose
    input carries a :data:`WIDE_TEXT_COLS` column as a passenger
    (the column is not itself a bare partitioning key). Returns
    ``[{exchange, carried, keys}, ...]``."""
    plan = _formatted_plan(df)
    findings: List[Dict[str, str]] = []
    blocks = re.split(r"\n\n+", plan)
    for block in blocks:
        m = re.match(r"\(\d+\) Exchange\b", block.strip())
        if not m:
            continue
        inp = re.search(r"Input \[\d+\]: \[(.*?)\]\n", block + "\n",
                        re.S)
        args = re.search(r"Arguments: (.*)", block)
        if not inp or not args:
            continue
        arg_s = args.group(1)
        part = re.search(r"(hashpartitioning|rangepartitioning)"
                         r"\((.*)\)", arg_s)
        if part is None:
            if "SinglePartition" not in arg_s:
                continue  # roundrobin / other: payload movement is
                          # the stated purpose, not a passenger leak
            keys: set = set()
        else:
            keys = set()
            for comp in _split_top_level(part.group(2)):
                comp = re.sub(r"\s+(ASC|DESC)(\s+NULLS"
                              r"\s+(FIRST|LAST))?$", "", comp)
                bare = _BARE_ATTR_RE.match(comp)
                if bare:
                    keys.add(bare.group(1).strip())
        # bare attributes only: an aliased expression (e.g. the
        # digest "CASE WHEN isnull(text#1) ... END#32") mentions the
        # text column inside its NAME without carrying the column —
        # splitting top-level and matching whole components avoids
        # that false positive
        in_cols = set()
        for comp in _split_top_level(inp.group(1)):
            bare = _BARE_ATTR_RE.match(comp.strip())
            if bare:
                in_cols.add(bare.group(1).strip())
        carried = sorted((in_cols - keys) & WIDE_TEXT_COLS)
        if carried:
            findings.append({
                "exchange": arg_s.strip()[:120],
                "carried": ",".join(carried),
                "keys": ",".join(sorted(keys))})
    return findings


def lint_plan(df: DataFrame) -> List[Dict[str, str]]:
    """Return findings ``[{rule, severity, evidence}, ...]`` for the
    DataFrame's physical plan (planning only — nothing executes)."""
    plan = _plan_string(df)
    findings: List[Dict[str, str]] = []

    def hit(rule: str, evidence: str):
        findings.append({"rule": rule, "severity": RULES[rule],
                         "evidence": evidence.strip()[:200]})

    for line in plan.splitlines():
        if "CartesianProduct" in line:
            hit("cartesian", line)
        elif "BroadcastNestedLoopJoin" in line:
            hit("nested_loop", line)
        elif "BatchEvalPython" in line:
            hit("python_row_udf", line)
        elif re.search(r"Exchange SinglePartition", line):
            hit("single_partition", line)

    # a scan advertising zero pushed filters while a Filter node sits
    # somewhere above it in the same plan
    if "PushedFilters: []" in plan and re.search(
            r"^\s*[+:*]*\s*\(?\d*\)?\s*Filter ", plan, re.M):
        for line in plan.splitlines():
            if "PushedFilters: []" in line:
                hit("unpushed_scan", line)
                break

    for w in wide_text_exchanges(df):
        hit("wide_text_exchange",
            f"carries [{w['carried']}] keyed on [{w['keys']}] "
            f"({w['exchange']})")
    return findings


def assert_scale_safe(
    df: DataFrame,
    allow: Sequence[str] = (),
    label: Optional[str] = None,
) -> List[Dict[str, str]]:
    """Raise ``AssertionError`` if the plan contains any error-severity
    finding whose rule is not in ``allow``; returns all findings for
    further inspection. ``allow`` entries must name their
    justification in the calling code — an allowance without a
    documented bound is exactly the silent cliff this exists to
    catch."""
    findings = lint_plan(df)
    bad = [f for f in findings
           if f["severity"] == "error" and f["rule"] not in allow]
    if bad:
        who = f" [{label}]" if label else ""
        raise AssertionError(
            f"scale-unsafe plan{who}: "
            + "; ".join(f"{f['rule']}: {f['evidence']}" for f in bad))
    return findings
