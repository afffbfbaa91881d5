"""Top-k FILE pushdown from manifest stats: answer ``ORDER BY col
DESC/ASC LIMIT k`` by visiting only the files that can contribute.

This is the SCAN-shaped sibling of the reference's flagship artifact:
``top_pickup_locations.sql:8-9`` ends in ``ORDER BY 2 DESC LIMIT
200`` over a GROUP BY — that grouped form is already answered from
metadata by the aggregate pushdown (``plans/agg_pushdown.py`` peels
the Sort/Limit above the Aggregate) — while THIS module covers the
raw-column ``ORDER BY col LIMIT k`` scan, which a plain engine runs
as a FULL SCAN + TakeOrderedAndProject.
On a table CLUSTERED by the sort column the manifest already knows
each file's [min, max]: the classic Iceberg/Delta sort-order-scan
observation is that once k qualifying rows provably sort at-or-above
some bound T, every file whose whole range sorts strictly below T can
be skipped. This module derives that bound STATICALLY from the
per-file stats and narrows the engine's view rebind to the surviving
files; the original query (its WHERE, full ORDER BY with tiebreaks,
and LIMIT) still executes over them, so results are row-identical by
construction.

Soundness argument (DESC, Spark's default NULLS LAST):

- only files whose conjunct classification is 'all' (every row passes
  the WHERE — the agg-pushdown ``_classify_row`` exactness machinery)
  count toward the bound: visiting files in min_c-descending order,
  the first prefix whose qualifying non-null rows total >= k proves k
  result candidates all have ``c >= T`` where T is the prefix's last
  min_c;
- a file with ``max_c < T`` (or all-NULL on c) holds only rows that
  lose to ALL k of those candidates under ``c DESC`` — strictly, so
  secondary sort keys and LIMIT tie-breaking cannot resurrect them;
- a counted file can never be excluded (its max_c >= min_c >= T), so
  the bound never removes its own evidence.

ASC mirrors with Spark's default NULLS FIRST: sure-qualifying NULL
rows (from 'all' files) sort ahead of every value row and count toward
k; files are visited in max_c-ascending order; a file is excludable
only when it has ZERO nulls on c and ``min_c > T``.

r16: the first sort key may also be a safelisted MONOTONE EXPRESSION
of a statted column — ``date_trunc(unit, ts)``, ``trunc(date, unit)``,
order-preserving casts (timestamp<->date, integral widenings), and
unary negation (order-REVERSING) — resolved through the Project alias
the analyzer hoists ORDER BY expressions into. The bound machinery
runs unchanged in the transformed space with per-file bounds derived
by pushing the raw min/max through the chain (see
``_monotone_sort_key`` for the gates: literal valid trunc units, UTC
session for session-zoned calendar steps, no integer-min negation).

Everything else declines — non-default null ordering, an OFFSET, an
unparsable first sort key or WHERE conjunct, a non-monotone sort
expression (abs/hash/concat), a stale manifest, NaN bounds, or a
bound that skips nothing (the unclustered case). This is an
accelerator, never a semantics change; at 100 TB it is the
difference between scanning a petabyte-scale table for a 200-row
dashboard answer and reading O(k / rows-per-file) files.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.plans import PlanContext, pruned_frame
from quack_reduce_spark.plans.agg_pushdown import (
    _classify_row,
    _exact_conjunct,
    _is_nan,
    _norm_conjuncts,
    _split_and,
    _type_ok,
)
from quack_reduce_spark.plans.zonemap_pushdown import _bare, prune_conjuncts

# a LIMIT above this is not a "top-k" — the threshold machinery still
# works, but the win shrinks and the driver-side sort of file bounds
# should stay trivially cheap
TOPK_MAX_K = 1_000_000

# ASC sentinel: "enough sure-qualifying NULLs to fill k — every VALUE
# row loses". An identity object, not a string: a string-typed sort
# column whose computed bound happened to EQUAL a string sentinel
# would trigger the all-values-lose exclusion branch and drop files
# holding real top-k rows (r15 ADVICE). `is` comparisons below can
# never collide with a data value.
_ALL_VALUES_LOSE = object()

# -- monotone-expression sort keys (r16, VERDICT r15 #4) --------------------
#
# ``ORDER BY date_trunc('month', ts) DESC LIMIT k``, ``ORDER BY
# cast(ts AS date)``, and unary negation are order-preserving (or, for
# negation, order-REVERSING) maps of a statted column: f monotone
# non-decreasing means min f(rows(file)) = f(min_raw) and
# max f(rows(file)) = f(max_raw), so the k-bound machinery runs
# unchanged in the TRANSFORMED space with per-file bounds derived from
# the raw manifest stats. Non-strict monotonicity suffices: the bound
# counts rows with f(c) >= T from f(min_raw) >= T, and exclusion stays
# STRICT (max_e < T), so many-to-one maps (truncation) cannot
# resurrect an excluded row via tiebreaks. Every step is also
# null-preserving in BOTH directions (null in <=> null out), so the
# per-file null counts carry over exactly. Anything outside the
# safelist below — abs/hash/concat/arbitrary casts — declines.

# casts that are monotone on the whole input domain; value = True when
# the step depends on the session timezone (a session-zoned timestamp
# rendered to a calendar date): such chains additionally require a
# fixed-offset UTC session, where wall-clock order provably equals
# instant order. date->timestamp maps midnights monotonically in ANY
# zone (later date, later instant), so it carries no gate.
_MONOTONE_CASTS: dict[tuple[str, str], bool] = {
    ("timestamp", "date"): True,
    ("timestamp_ntz", "date"): False,
    ("date", "timestamp"): False,
    ("date", "timestamp_ntz"): False,
    # wall-clock <-> instant re-interpretations: the identity on the
    # stats values, order-preserving only under a fixed-offset session
    # (a DST fold renders instants to non-monotone wall clocks)
    ("timestamp_ntz", "timestamp"): True,
    ("timestamp", "timestamp_ntz"): True,
    ("byte", "short"): False,
    ("byte", "integer"): False,
    ("byte", "long"): False,
    ("short", "integer"): False,
    ("short", "long"): False,
    ("integer", "long"): False,
}

_TRUNC_UNIT_ALIASES = {
    "year": "year", "yyyy": "year", "yy": "year",
    "quarter": "quarter",
    "month": "month", "mon": "month", "mm": "month",
    "week": "week",
    "day": "day", "dd": "day",
    "hour": "hour", "minute": "minute", "second": "second",
    "millisecond": "millisecond", "microsecond": "microsecond",
}
# TruncDate accepts only the calendar units
_TRUNC_DATE_UNITS = {"year", "quarter", "month", "week"}

_INT_MIN = {
    "byte": -(2 ** 7), "short": -(2 ** 15),
    "integer": -(2 ** 31), "long": -(2 ** 63),
}

# session timezones under which wall-clock rendering of instants is
# provably order-preserving (fixed zero offset — no DST fold)
_UTC_TZS = {
    "UTC", "GMT", "GMT0", "Z", "+00:00", "UCT", "Universal", "Zulu",
    "Etc/UTC", "Etc/GMT", "Etc/GMT0", "Etc/GMT+0", "Etc/GMT-0",
    "Etc/UCT", "Etc/Universal", "Etc/Zulu",
}

_ALIAS_DEPTH_MAX = 8


def _monotone_sort_key(
    e: Any, aliases: dict[int, Any], by_id: dict[int, tuple[str, str]]
) -> tuple[int, bool, bool, list[tuple[str, str | None]]] | None:
    """Parse a sort-key expression as a chain of safelisted monotone
    steps over ONE relation attribute. Returns ``(sid, flip, tz_gate,
    steps)`` — ``steps`` in application order (innermost first),
    ``flip`` True when the net chain is order-reversing, ``tz_gate``
    True when soundness additionally needs a UTC session — or None to
    decline. ``aliases`` resolves Project aliases BELOW the Sort (the
    analyzer hoists ORDER BY expressions into one)."""
    steps: list[tuple[str, str | None]] = []
    flip = False
    tz_gate = False
    cur = e
    depth = 0
    while True:
        cls = cur.getClass().getSimpleName()
        if cls == "AttributeReference":
            aid = int(cur.exprId().id())
            if aid in by_id:
                break
            sub = aliases.get(aid)
            if sub is None:
                return None
            depth += 1
            if depth > _ALIAS_DEPTH_MAX:
                return None
            cur = sub
        elif cls == "Alias":
            cur = cur.child()
        elif cls == "Cast":
            src = cur.child().dataType().typeName()
            dst = cur.dataType().typeName()
            gate = _MONOTONE_CASTS.get((src, dst))
            if gate is None:
                return None
            tz_gate = tz_gate or gate
            if (src, dst) == ("timestamp", "date") or (
                src, dst
            ) == ("timestamp_ntz", "date"):
                steps.append(("to_date", None))
            elif dst in ("timestamp", "timestamp_ntz"):
                steps.append(("to_ts", None))
            # integral widenings are the identity on the stats values
            cur = cur.child()
        elif cls == "TruncTimestamp":
            fmt = cur.format()
            if fmt.getClass().getSimpleName() != "Literal" or (
                fmt.value() is None
            ):
                return None
            unit = _TRUNC_UNIT_ALIASES.get(str(fmt.value()).lower())
            if unit is None:
                return None  # unknown unit evaluates to NULL: decline
            if cur.timestamp().dataType().typeName() == "timestamp":
                tz_gate = True  # truncation happens in session-local time
            steps.append(("trunc_ts", unit))
            cur = cur.timestamp()
        elif cls == "TruncDate":
            fmt = cur.format()
            if fmt.getClass().getSimpleName() != "Literal" or (
                fmt.value() is None
            ):
                return None
            unit = _TRUNC_UNIT_ALIASES.get(str(fmt.value()).lower())
            if unit is None or unit not in _TRUNC_DATE_UNITS:
                return None
            steps.append(("trunc_date", unit))
            cur = cur.date()
        elif cls == "UnaryMinus":
            flip = not flip
            steps.append(("neg", None))
            cur = cur.child()
        else:
            return None
    steps.reverse()
    return int(cur.exprId().id()), flip, tz_gate, steps


def _apply_steps(v: Any, steps: list[tuple[str, str | None]]) -> Any:
    """Evaluate the monotone chain on one raw stats value (Python-side
    replica of the safelisted Spark semantics under the gates above).
    Values arrive as the manifest decodes them: datetime/date for
    temporal columns (session-zoned ones rendered in the session zone,
    which the tz gate pins to UTC), int/float/Decimal for numerics."""
    import datetime as _dt

    for kind, unit in steps:
        if v is None:
            return None
        if kind == "neg":
            v = -v
        elif kind == "to_date":
            v = v.date() if isinstance(v, _dt.datetime) else v
        elif kind == "to_ts":
            if not isinstance(v, _dt.datetime):
                v = _dt.datetime.combine(v, _dt.time())
        elif kind == "trunc_date":
            if isinstance(v, _dt.datetime):
                v = v.date()
            v = _trunc_date(v, unit)
        else:  # trunc_ts
            if not isinstance(v, _dt.datetime):
                v = _dt.datetime.combine(v, _dt.time())
            v = _trunc_ts(v, unit)
    return v


def _trunc_date(d: Any, unit: str) -> Any:
    import datetime as _dt

    if unit == "year":
        return d.replace(month=1, day=1)
    if unit == "quarter":
        return d.replace(month=((d.month - 1) // 3) * 3 + 1, day=1)
    if unit == "month":
        return d.replace(day=1)
    return d - _dt.timedelta(days=d.weekday())  # week: Monday start


def _trunc_ts(t: Any, unit: str) -> Any:
    import datetime as _dt

    if unit in ("year", "quarter", "month", "week"):
        d = _trunc_date(t.date(), unit)
        return _dt.datetime.combine(d, _dt.time())
    if unit == "day":
        return t.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "hour":
        return t.replace(minute=0, second=0, microsecond=0)
    if unit == "minute":
        return t.replace(second=0, microsecond=0)
    if unit == "second":
        return t.replace(microsecond=0)
    if unit == "millisecond":
        return t.replace(microsecond=t.microsecond - t.microsecond % 1000)
    return t  # microsecond: identity at parquet's resolution


def extract_topk(
    df: DataFrame, paths_by_name: dict[str, str]
) -> dict | None:
    """Inspect ``df``'s optimized logical plan; when it is EXACTLY

        GlobalLimit(k) [LocalLimit] [Project]* Sort(global)
        [Project/Filter]* LogicalRelation(one registered table)

    with a bare-attribute FIRST sort key in the table's schema, the
    default null ordering for its direction, and every Filter conjunct
    exactly understood, return::

        {"table", "col", "tname", "asc", "k",
         "conjuncts": [(col, op, value), ...], "types": {col: tname}}

    None otherwise (the query runs through the generic planner). Only
    the FIRST sort key drives file exclusion — the bound argument is
    strict, so arbitrary tiebreak keys below it stay sound — but it
    must be understood exactly."""
    node = df._jdf.queryExecution().optimizedPlan()
    if node.getClass().getSimpleName() != "GlobalLimit":
        return None
    le = node.limitExpr()
    if le.getClass().getSimpleName() != "Literal" or le.value() is None:
        return None
    k = int(str(le.value()))
    if not (1 <= k <= TOPK_MAX_K):
        return None
    node = node.child()
    if node.getClass().getSimpleName() == "LocalLimit":
        node = node.child()
    # Projects between the limit and the sort are row-wise (1:1): they
    # cannot change WHICH rows the limit keeps, so their shape is free
    while node.getClass().getSimpleName() == "Project":
        node = node.child()
    if node.getClass().getSimpleName() != "Sort":
        return None
    if not getattr(node, "global")():
        return None
    order = node.order()
    if order.size() == 0:
        return None
    so = order.apply(0)
    sort_expr = so.child()
    asc = so.direction().sql() == "ASC"
    nulls_first = so.nullOrdering().sql() == "NULLS FIRST"
    # only the DEFAULT orderings (what the reference's SQL produces):
    # DESC NULLS LAST / ASC NULLS FIRST — others would need their own
    # bound mirror and never occur in the covered surface. The gate is
    # on the QUERY's direction over the (possibly transformed) sort
    # expression; every safelisted step is null-preserving both ways,
    # so expr nulls are exactly the raw column's nulls.
    if asc != nulls_first:
        return None
    node = node.child()
    filter_conds = []
    aliases: dict[int, Any] = {}
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "Project":
            # the analyzer hoists ORDER BY expressions into a Project
            # alias below the Sort: record alias -> definition so the
            # monotone-key walk can resolve through it
            pl = node.projectList()
            for i in range(pl.size()):
                ne = pl.apply(i)
                if ne.getClass().getSimpleName() == "Alias":
                    aliases[int(ne.exprId().id())] = ne.child()
            node = node.child()
        elif cls == "Filter":
            filter_conds.append(node.condition())
            node = node.child()
        elif cls == "LogicalRelation":
            break
        else:
            return None
    try:
        roots = node.relation().location().rootPaths()
    except Exception:
        return None
    name_by_root = {_bare(p): n for n, p in paths_by_name.items()}
    names = {
        name_by_root.get(_bare(roots.apply(j).toString()))
        for j in range(roots.size())
    }
    names.discard(None)
    if len(names) != 1:
        return None
    table = names.pop()
    rel_out = node.output()
    by_id: dict[int, tuple[str, str]] = {}
    for i in range(rel_out.size()):
        a = rel_out.apply(i)
        by_id[int(a.exprId().id())] = (a.name(), a.dataType().typeName())
    # the first sort key: a bare relation column (steps == []), or a
    # safelisted monotone expression chain over one (r16) — anything
    # else declines
    got_key = _monotone_sort_key(sort_expr, aliases, by_id)
    if got_key is None:
        return None
    sid, flip, tz_gate, steps = got_key
    if sid not in by_id:
        return None
    col, tname = by_id[sid]
    if not _type_ok(tname):
        return None
    # every WHERE conjunct must be exactly understood: the bound counts
    # rows that PROVABLY qualify, so nothing may be ignored (unlike
    # plain pruning, which re-applies the predicate anyway)
    conjuncts: list[tuple[str, str, Any]] = []
    for cond in filter_conds:
        for leaf in _split_and(cond):
            got = _exact_conjunct(leaf)
            if got is None:
                return None
            aid, op, v = got
            if aid not in by_id:
                return None
            ccol, ctname = by_id[aid]
            if not _type_ok(ctname):
                return None
            conjuncts.append((ccol, op, v))
    used = {c for c, _o, _v in conjuncts} | {col}
    types = {nm: tn for nm, tn in by_id.values() if nm in used}
    return {
        "table": table,
        "col": col,
        "tname": tname,
        "asc": asc,
        "k": k,
        "conjuncts": conjuncts,
        "types": types,
        "steps": steps,
        "flip": flip,
        "tz_gate": tz_gate,
    }


def plan_topk_files(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    info: dict,
) -> tuple[list[str], int, dict, dict] | None:
    """Resolve a :func:`extract_topk` spec into a surviving file list
    via the static k-bound, or None when the pushdown can't fire
    (sort column unstatted, stale manifest, no provable bound, or
    nothing would be skipped). Returns ``(files, total, stats,
    telemetry)`` in the engine's rebind shape."""
    col, k, asc = info["col"], info["k"], info["asc"]
    steps = info.get("steps") or []
    flip = bool(info.get("flip"))
    if col not in stats_cols:
        return None
    if info.get("tz_gate") and (
        spark.conf.get("spark.sql.session.timeZone") not in _UTC_TZS
    ):
        return None  # DST fold could break wall-clock monotonicity
    # WHERE pruning first (closed-widened, like the agg path): the
    # bound then only has to beat the files a plain range query would
    # already read
    got = prune_conjuncts(spark, path, stats_cols, info["conjuncts"])
    if got is None:
        return None  # un-maintained append: metadata can't be trusted
    rows, total = got
    norm = _norm_conjuncts(info["conjuncts"])
    surviving: list[tuple[dict, str, int]] = []  # (row, state, n_rows)
    for r in rows:
        n_rows = int(r["n_rows"])
        if n_rows == 0:
            continue
        state = _classify_row(norm, r, n_rows)
        if state == "none":
            continue  # exact semantics prove no row passes: drop it
        surviving.append((r, state, n_rows))

    if any(s[0] == "neg" for s in steps) and info["tname"] in _INT_MIN:
        imin = _INT_MIN[info["tname"]]
        for r, _state, _n in surviving:
            if r.get(f"min_{col}") == imin:
                # negating the type's minimum overflows (ANSI raises,
                # legacy wraps non-monotonically): no sound bound
                return None

    def bounds(r: dict) -> tuple[Any, Any, int | None]:
        """Per-file [min, max, nulls] in the SORT-EXPRESSION space:
        the raw manifest stats pushed through the monotone chain, ends
        swapped when the chain is order-reversing. A transform failure
        raises — the engine then declines the whole pushdown (sound);
        it must NOT degrade to (None, None), which means 'all-NULL
        file' to the exclusion branches."""
        mn, mx = r.get(f"min_{col}"), r.get(f"max_{col}")
        nl = r.get(f"nulls_{col}")
        if steps:
            mn = _apply_steps(mn, steps)
            mx = _apply_steps(mx, steps)
            if flip:
                mn, mx = mx, mn
        return mn, mx, (None if nl is None else int(nl))

    # -- the static bound ------------------------------------------------
    # candidates: 'all' files (every row qualifies) with usable stats
    cand = []
    for r, state, n_rows in surviving:
        mn, mx, nl = bounds(r)
        if _is_nan(mn) or _is_nan(mx):
            return None  # NaN sorts above everything: no sound bound
        if state != "all" or nl is None:
            continue
        cand.append((mn, mx, nl, n_rows))
    threshold: Any = None
    have_null_budget = 0
    if not asc:
        # DESC NULLS LAST: visit by min_c descending; T = last prefix
        # min once qualifying non-null rows reach k
        vals = sorted(
            (
                (mn, n_rows - nl)
                for mn, _mx, nl, n_rows in cand
                if mn is not None and n_rows - nl > 0
            ),
            key=lambda t: t[0],
            reverse=True,
        )
        cum = 0
        for mn, nn in vals:
            cum += nn
            if cum >= k:
                threshold = mn
                break
    else:
        # ASC NULLS FIRST: sure-qualifying NULLs sort ahead of every
        # value row and count toward k
        have_null_budget = sum(nl for _mn, _mx, nl, _n in cand)
        if have_null_budget >= k:
            threshold = _ALL_VALUES_LOSE
        else:
            vals = sorted(
                (
                    (mx, n_rows - nl)
                    for _mn, mx, nl, n_rows in cand
                    if mx is not None and n_rows - nl > 0
                ),
                key=lambda t: t[0],
            )
            cum = have_null_budget
            for mx, nn in vals:
                cum += nn
                if cum >= k:
                    threshold = mx
                    break
    if threshold is None:
        return None  # not enough provably-qualifying rows: no bound

    kept: list[dict] = []
    skipped = 0
    for r, _state, n_rows in surviving:
        mn, mx, nl = bounds(r)
        try:
            if not asc:
                # excludable: all-NULL on c, or whole range below T
                if mx is None or mx < threshold:
                    skipped += 1
                    continue
            else:
                nl_known = nl is not None and nl == 0
                if threshold is _ALL_VALUES_LOSE:
                    if nl_known and mn is not None:
                        skipped += 1
                        continue
                elif nl_known and mn is not None and mn > threshold:
                    skipped += 1
                    continue
        except TypeError:
            pass  # incomparable stat: keep the file (sound)
        kept.append(r)
    if len(kept) >= total:
        return None  # nothing skipped anywhere: run the generic path
    files = sorted(r["file"] for r in kept)
    sizes = [r.get("file_bytes") for r in kept]
    stats = {
        "est_rows": sum(int(r["n_rows"]) for r in kept),
        "est_bytes": (
            sum(int(s) for s in sizes)
            if all(s is not None for s in sizes)
            else None
        ),
    }
    telemetry = {
        "col": col,
        "k": k,
        "direction": "asc" if asc else "desc",
        "files_total": total,
        "files_read": len(files),
        "files_skipped_by_bound": skipped,
    }
    if steps:
        telemetry["sort_expr_steps"] = [
            s if u is None else f"{s}:{u}" for s, u in steps
        ]
        telemetry["order_reversing"] = flip
    return files, total, stats, telemetry


def plan(ctx: PlanContext) -> tuple[DataFrame, dict] | None:
    """The top-k rule: a raw-column ``ORDER BY col LIMIT k`` over one
    zone-mapped table (the scan-shaped sibling of the grouped top-k the
    agg rule answers) re-plans over only the files the manifest's
    min/max bound lets contribute to the top k. The extraction shape
    guarantees a single scan and no joins, and the survivor set
    re-applies the exact WHERE classification, so it subsumes the
    generic WHERE pruning of the zone-map rule."""
    info = extract_topk(ctx.df, ctx.paths) if ctx.zm_tables else None
    if info is None or info["table"] not in ctx.zm_tables:
        return None
    name = info["table"]
    path, cols = ctx.zm_tables[name]
    got = plan_topk_files(ctx.spark, path, cols, info)
    if got is None:
        return None
    files, total, stats, tele = got
    planned = ctx.rebind({name: pruned_frame(ctx.spark, path, files)})
    return planned, {
        name: {
            "files_read": len(files),
            "files_total": total,
            "columns": cols,
            "est_rows": stats["est_rows"],
            "est_bytes": stats["est_bytes"],
            "broadcast_hint": False,
            "topk": tele,
        }
    }
