"""Plan auditing as a user-facing utility — the repo's test-side plan
checks (tests/test_plans.py), packaged so a pipeline author can assert
the same physical properties on THEIR queries before paying for them at
100 TB. The numbers a plan review actually needs:

* how many Exchanges (every one is a full shuffle of its input),
* whether filters reached the parquet scan (``PushedFilters``) and how
  many columns the scan reads (``ReadSchema`` — a 2-column projection
  reading 16 columns is a missing prune),
* how much of the plan runs inside WholeStageCodegen (JVM-compiled)
  versus interpreted or Python (Arrow boundary nodes),
* whether any join degenerated to a nested loop (the quadratic trap a
  missing equi-key produces).

``audit(df)`` returns a plain dict so callers can assert on it; use
``assert_scales(df, ...)`` for the common gate. Reference tie: SURVEY §4
(optimizer & physical execution) — these are the properties every
registered query's plan audit pins, exposed as an API.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: plan nodes that cross the JVM→Python boundary, matched by name pattern
#: so every UDF form counts: ``*InPandas`` / ``*InArrow`` (map, grouped and
#: cogrouped maps) and ``*Python`` (Arrow/batch eval, Arrow aggregate and
#: window)
_PY_NODE = re.compile(r"InPandas|InArrow|Python")


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The exact string ``df.explain(mode)`` prints, returned instead."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _read_schema_cols(plan: str) -> list[int]:
    """Per-scan count of TOP-LEVEL columns in each ``ReadSchema: struct<…>``.

    Depth-aware (ADVICE r5): a naive ``[^>]*`` match stops at the first
    ``>`` of an inner struct/array/map and a flat comma-split counts
    nested fields as extra top-level columns. This walks the balanced
    angle brackets and counts commas only at depth 0. Caveat: Spark
    truncates long metadata strings (``spark.sql.maxMetadataStringLength``,
    default 100 chars) to ``… N more fields``; the trailer is parsed and
    added back, but a truncation that eats the trailer itself leaves the
    count a LOWER bound."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<", plan):
        i, depth, buf = m.end(), 1, []
        while i < len(plan) and plan[i] != "\n" and depth > 0:
            ch = plan[i]
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            if depth > 0:
                buf.append(ch)
            i += 1
        body = "".join(buf)
        depth = 0
        n = 0
        for ch in body:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                n += 1
        count = n + 1 if body.strip() else 0
        trailer = re.search(r"\.\.\.\s*(\d+) more fields", body)
        if trailer:
            # the "... N more fields" chunk occupied one comma-slot itself
            count += int(trailer.group(1)) - 1
        out.append(count)
    return out


def audit(df: DataFrame) -> dict:
    """Structured physical-plan audit of a DataFrame (formatted-mode
    parse; see module docstring for what each number means).
    ``scan_read_cols`` counts top-level columns per scan; see
    :func:`_read_schema_cols` for the nested-type and truncation rules."""
    plan = plan_text(df, "formatted")
    nodes = re.findall(r"^\(\d+\) ([A-Za-z][\w ]*?)\s*(?:\[codegen id.*)?$",
                       plan, flags=re.M)
    exchanges = [n for n in nodes if n.startswith("Exchange")]
    # count node HEADERS only — each node prints once in the tree sketch
    # and once in the detail section, so a raw substring count doubles
    scans = len([n for n in nodes if n.startswith("Scan parquet")])
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_cols = _read_schema_cols(plan)
    return {
        "n_exchanges": len(exchanges),
        "n_scans": scans,
        "pushed_filters": [p for p in pushed if p.strip()],
        "scan_read_cols": read_cols,
        "n_codegen_stages": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "python_nodes": sorted({n for n in nodes if _PY_NODE.search(n)}),
        "has_nested_loop_join": "NestedLoop" in plan
        or "CartesianProduct" in plan,
        "has_broadcast_join": "BroadcastHashJoin" in plan,
        "has_sort_merge_join": "SortMergeJoin" in plan,
    }


def assert_scales(
    df: DataFrame,
    max_exchanges: int,
    max_scan_cols: int | None = None,
    allow_nested_loop: bool = False,
    allow_python: bool = True,
) -> dict:
    """The common pre-flight gate: raise AssertionError (with the full
    audit in the message) if the plan shuffles more than ``max_exchanges``
    times, reads more than ``max_scan_cols`` columns in any scan, or
    contains a nested-loop/cartesian join (unless allowed). Returns the
    audit dict on success so callers can log it."""
    a = audit(df)
    ok = (
        a["n_exchanges"] <= max_exchanges
        and (allow_nested_loop or not a["has_nested_loop_join"])
        and (allow_python or not a["python_nodes"])
        and (
            max_scan_cols is None
            or all(c <= max_scan_cols for c in a["scan_read_cols"])
        )
    )
    if not ok:
        raise AssertionError(f"plan fails the scale gate: {a}")
    return a
