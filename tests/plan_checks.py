"""Plan-inspection helpers: make physical-plan expectations testable.

The reference's optimizations are hand-placed (SURVEY.md §4); ours are
Catalyst's, so the tests assert they actually fire — filters reach the
parquet scan, small dims broadcast, shuffles stay bounded. Only tests
use these helpers, so they live beside them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan.
    AQE may later coalesce them, but the count is the design property.
    (Counts the detail-section headings — the formatted output lists each
    operator twice, once in the tree and once in the details.)"""
    plan = formatted_plan(df)
    n = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))
    if n == 0 and "Exchange" in plan:
        # fallback for plan shapes without a details section
        n = sum(1 for line in plan.splitlines() if "Exchange" in line)
    return n


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every FileScan in the plan."""
    return "\n".join(
        line.strip() for line in formatted_plan(df).splitlines() if "PushedFilters" in line
    )


def scan_read_schema(df: DataFrame) -> str:
    """ReadSchema lines — verifies column pruning reached the scan."""
    return "\n".join(
        line.strip() for line in formatted_plan(df).splitlines() if "ReadSchema" in line
    )


# Distinctive schema columns identifying scans of tables whose size grows
# with the data scale factor. nation/region/fixed dims are NOT here — a
# forced broadcast of those is always safe.
_SF_TABLE_SIGNATURES = {
    "customer": "c_custkey#",
    "orders": "o_orderkey#",
    "lineitem": "l_orderkey#",
    "part": "p_partkey#",
    "partsupp": "ps_partkey#",
    "supplier": "s_suppkey#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
    "events": "event_id#",
}

# Grouping columns with SF-independent cardinality: an Aggregate grouped
# only by these yields a bounded result no matter the input size, so a
# broadcast of it is safe at any scale.
_BOUNDED_GROUP_COLS = {
    "event_type", "l_returnflag", "l_linestatus", "o_orderpriority",
    "o_orderstatus", "c_mktsegment", "p_brand", "p_type", "p_size",
    "n_nationkey", "n_name", "r_regionkey", "r_name", "lang", "source",
    "label", "q", "bucket", "bin", "band", "step", "digit",
    # operator-internal aliases whose grouping domain is bounded by the
    # operator's documented contract or by construction:
    "__g",          # grouped-stats group column (bounded-enum contract)
    "__cat",        # target-encode category (bounded-enum contract)
    "__cm",         # cohort month — calendar-bounded, SF-independent
    "__mag",        # lorenz magnitude bucket (<= 19 decimal magnitudes)
    "__bucket",     # epoch_shuffle/heaps bucket — constant n_buckets
    "shard",        # pack_chunks shard — constant n_shards
    "hour_bucket",  # hour-of-day (<= 24)
    "__lbl",        # nearest_centroid label (bounded-enum contract)
    "pos",          # vector dimension index — fixed dim, SF-independent
}


def _node_depth(line: str) -> int:
    """Tree depth of a logical-plan toString line. Each level is exactly
    3 chars of ``:  `` / ``   `` prefix plus an optional ``+- ``/``:- ``
    marker; the root has no marker."""
    m = re.match(r"^((?::  |   )*)([+:]- )?", line)
    return len(m.group(1)) // 3 + (1 if m.group(2) else 0)


def _aggregate_is_bounded(line: str) -> bool:
    """True when an ``Aggregate`` logical node provably bounds output
    cardinality: global (no grouping keys) or grouped only by columns
    whose domain does not scale with SF."""
    body = line.strip().lstrip(":+- ").removeprefix("Aggregate ")
    # Two top-level bracket groups = grouped; one = global aggregate.
    groups, depth, cur = [], 0, []
    for ch in body:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    if len(groups) < 2:
        return True  # global aggregate → exactly one row
    # split grouping keys on TOP-LEVEL commas only (keys can be nested
    # expressions like cast(pmod(doc_id, cast(8 as bigint)) as bigint))
    keys, d, cur = [], 0, []
    for ch in groups[0]:
        if ch in "([":
            d += 1
        elif ch in ")]":
            d -= 1
        if ch == "," and d == 0:
            keys.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        keys.append("".join(cur).strip())
    for k in keys:
        base = re.sub(r"#\d+L?$", "", k).split(" AS ")[0].strip().lower()
        if base in _BOUNDED_GROUP_COLS:
            continue
        # modulo / bucketing by a LITERAL bounds the domain to that
        # literal regardless of input size (hash-shard / n-bucket keys)
        if re.search(r"pmod\([^,]+, cast\(\d+ as \w+\)\)", k):
            continue
        return False
    return True


def sf_broadcast_hints(df: DataFrame) -> list[str]:
    """Forced ``broadcast()`` hints whose subtree scans an SF-scaled
    table (customer/orders/lineitem/part/partsupp/supplier/documents/
    embeddings/events) with no cardinality-bounding Aggregate or Limit
    in between. Each such hint is a 100 TB hazard: it bypasses AQE's
    size check, and a table that fits at sf0.1 is a broadcast OOM at
    sf100 (the repo convention since commits 35c3ac8/8e1588f is "no
    F.broadcast on SF-scaled tables; let AQE choose").

    Walks the ANALYZED LOGICAL plan (hints are erased by planning), and
    skips subtrees under a global/bounded-grouped ``Aggregate`` or a
    ``Limit`` — those outputs are size-bounded at any SF, so hinting
    them is legitimate. Returns findings ``sf-broadcast: <table>``.
    """
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()  # noqa: SLF001
    findings: list[str] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        hint_depth = _node_depth(line)
        skip_deeper_than: int | None = None
        hit: set[str] = set()
        for sub in lines[i + 1:]:
            d = _node_depth(sub)
            if d <= hint_depth:
                break
            if skip_deeper_than is not None:
                if d > skip_deeper_than:
                    continue
                skip_deeper_than = None
            stripped = sub.strip().lstrip(":+- ")
            if stripped.startswith("Aggregate ") and _aggregate_is_bounded(sub):
                skip_deeper_than = d
                continue
            if stripped.startswith(("GlobalLimit", "LocalLimit")):
                skip_deeper_than = d
                continue
            if stripped.startswith("Relation"):
                for table, sig in _SF_TABLE_SIGNATURES.items():
                    if sig in stripped:
                        hit.add(table)
        findings.extend(f"sf-broadcast: {t}" for t in sorted(hit))
    return findings


def lint_plan(df: DataFrame) -> list[str]:
    """Static scale-hazard lint of a DataFrame's physical plan. Returns
    human-readable findings (empty list = clean):

    - ``cartesian``: a CartesianProduct — O(n*m) at scale, almost always
      a missing join key or a forgotten broadcast hint.
    - ``python-row-udf``: a BatchEvalPython node — row-at-a-time Python
      in the hot path (ArrowEvalPython / mapInPandas / mapInArrow are the fast
      path).
    - ``global-window``: a window function over an empty PARTITION BY —
      the whole input flows through ONE task.
    - ``global-sort``: a range-partitioned global Sort that is not a
      bounded top-k (TakeOrderedAndProject is fine).

    Used by tests as a one-call regression net over every registered
    query; also useful interactively before promoting a new query.
    """
    plan = formatted_plan(df)
    findings: list[str] = []
    if "CartesianProduct" in plan:
        findings.append("cartesian: CartesianProduct join in plan")
    if re.search(r"^\(\d+\) BatchEvalPython", plan, flags=re.MULTILINE):
        findings.append("python-row-udf: row-at-a-time Python UDF (BatchEvalPython)")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # a spec whose argument list starts with an ordering expression
        # OR directly with the frame (no partition columns, no ordering)
        # is a global window — all rows flow through one task either way
        first = spec.split(",")[0].strip()
        if (
            " ASC" in first
            or " DESC" in first
            or first.startswith("specifiedwindowframe")
        ):
            findings.append("global-window: window with empty PARTITION BY")
            break
    if "rangepartitioning" in plan and "TakeOrderedAndProject" not in plan:
        findings.append("global-sort: range-partitioned global sort")
    return findings
