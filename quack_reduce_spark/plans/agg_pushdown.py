"""Metadata AGGREGATE pushdown for the SQL surface: answer scalar
COUNT/MIN/MAX/SUM/AVG queries from the zone-map manifest instead of
scanning.

``SELECT COUNT(*) FROM t WHERE <range>`` is the reference dashboard's
bread-and-butter shape (``dashboard.py:37-39`` issues exactly this per
widget refresh) — and through a plain engine it reads every surviving
file's rows even though the manifest already KNOWS each file's exact
row count and per-column min/max/null stats. This module detects the
shape in the engine's own OPTIMIZED logical plan and rebuilds the
answer as::

    metadata partials (files whose stats PROVE every row matches)
  + a residual aggregate over only the BOUNDARY files

which on a clustered layout reads O(1) files for an arbitrarily wide
range, and ZERO files when the range fully contains or excludes every
file (the Iceberg/Delta metadata-aggregate shape on plain parquet).

Soundness contract — stricter than file PRUNING's: pruning may ignore
a conjunct it can't parse (superset of files read, query re-applies
the predicate), but ANSWERING from metadata must understand the whole
plan exactly, so this path fires only when ALL hold:

- the plan root is a global Aggregate (no GROUP BY) whose every output
  is plain COUNT(*) / COUNT(col) / MIN(col) / MAX(col) / SUM(col) /
  AVG(col) — no DISTINCT, no FILTER clause, no expression arguments
  (SUM only over integer-family / decimal(p<=18) columns, whose
  per-file sums are exact in any evaluation order; AVG only over the
  integer family, rebuilt as exact-sum / exact-count with ONE final
  double division);
- below it only Project / Filter nodes over ONE registered zone-mapped
  table's relation, and every referenced attribute resolves BY EXPR-ID
  to that relation's own output (a Project alias shadowing a column
  name can never be mistaken for the column);
- every Filter conjunct is ``<bare attr> cmp <literal>`` / ``IN`` /
  ``IS [NOT] NULL`` with the STRICT/closed distinction preserved (a
  strict bound widened to closed is sound for pruning but would
  miscount boundary files here);
- MIN/MAX/COUNT(col) columns are manifest stats columns.

Anything else declines — the query just runs; this is an accelerator,
never a semantics change. Timestamps follow the manifest's epoch-space
discipline end to end: session-zoned literals stay raw Catalyst micros,
per-file classification compares int-vs-int, the residual predicate
compares ``unix_micros(col)`` against those micros, and a MIN/MAX
result renders through ``timestamp_micros`` — no OS-zone rendering on
any path (the round-12 soundness rule).
"""

from __future__ import annotations

import bisect as _bisect
import decimal as _pydecimal
import math as _math
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.plans import PlanContext
from quack_reduce_spark.plans.zonemap_pushdown import (
    _INSET_SEP,
    _MAX_INSET,
    _bare,
    _literal_py,
    _parse_internal_str,
    prune_conjuncts,
)

# comparison node -> exact op code when the attribute is on the LEFT
_CMP_LEFT = {
    "GreaterThanOrEqual": "ge",
    "GreaterThan": "gt",
    "LessThanOrEqual": "le",
    "LessThan": "lt",
    "EqualTo": "eq",
    # null-safe equality with a non-null literal == plain equality in
    # WHERE semantics (NULL literals report unusable and decline)
    "EqualNullSafe": "eq",
}
_FLIP = {"ge": "le", "gt": "lt", "le": "ge", "lt": "gt", "eq": "eq"}

# attribute/literal types this path can classify and rebuild exactly
_OK_TYPES = {
    "integer", "long", "short", "byte", "double", "float",
    "string", "date", "timestamp", "timestamp_ntz",
}


def _type_ok(tname: str) -> bool:
    from quack_reduce_spark.operators.zonemaps import _decimal_ps

    # decimal(p<=18) participates through its unscaled-int stats
    # space; WIDE decimals (p > 18) through native-Decimal stats (r14)
    # — SUM/AVG stay gated separately (_sum_col_ok / the int family)
    return tname in _OK_TYPES or _decimal_ps(tname) is not None


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and _math.isnan(v)


def _attr_id(e: Any) -> tuple[str | None, int | None]:
    """(name, exprId) for a BARE AttributeReference, else (None, None).
    Casts are NOT accepted here — the agg path needs exact semantics,
    and every safe-cast shape changes the comparison domain."""
    if e.getClass().getSimpleName() == "AttributeReference":
        return e.name(), int(e.exprId().id())
    return None, None


def _exact_conjunct(e: Any) -> tuple[int, str, Any] | None:
    """(attr exprId, op, value) for one Filter conjunct with EXACT
    semantics preserved (strict vs closed, IN value sets, nullness),
    or None when the shape isn't understood — the caller then declines
    the whole pushdown (unlike pruning, nothing may be ignored)."""
    name = e.getClass().getSimpleName()
    if name in _CMP_LEFT:
        ln, lid = _attr_id(e.left())
        rn, rid = _attr_id(e.right())
        if ln is not None and rid is None:
            lit = e.right()
            if lit.getClass().getSimpleName() != "Literal":
                return None
            v, ok = _literal_py(lit)
            if not ok or _is_nan(v):
                return None
            return lid, _CMP_LEFT[name], v
        if rn is not None and lid is None:
            lit = e.left()
            if lit.getClass().getSimpleName() != "Literal":
                return None
            v, ok = _literal_py(lit)
            if not ok or _is_nan(v):
                return None
            return rid, _FLIP[_CMP_LEFT[name]], v
        return None
    if name == "In":
        _n, aid = _attr_id(e.value())
        if aid is None:
            return None
        vals = []
        lst = e.list()
        for j in range(lst.size()):
            el = lst.apply(j)
            if el.getClass().getSimpleName() != "Literal":
                return None
            v, ok = _literal_py(el)
            if not ok or _is_nan(v):
                return None
            vals.append(v)
        if not vals:
            return None
        return aid, "in", frozenset(vals)
    if name == "InSet":
        _n, aid = _attr_id(e.child())
        if aid is None:
            return None
        hs = e.hset()
        n = int(hs.size())
        if n == 0 or n > _MAX_INSET:
            return None
        tname = e.child().dataType().typeName()
        joined = hs.mkString(_INSET_SEP)
        parts = joined.split(_INSET_SEP)
        if len(parts) != n:
            return None  # a string value held the separator
        vals = []
        for s in parts:
            v, ok = _parse_internal_str(s, tname)
            if not ok or _is_nan(v):
                return None
            vals.append(v)
        return aid, "in", frozenset(vals)
    if name in ("IsNull", "IsNotNull"):
        _n, aid = _attr_id(e.child())
        if aid is None:
            return None
        return aid, ("isnull" if name == "IsNull" else "isnotnull"), None
    return None


# trunc() format literals accepted per bucket (Spark's own aliases)
_TRUNC_MONTH = {"month", "mon", "mm"}
_TRUNC_YEAR = {"year", "yyyy", "yy"}


def _date_src(e: Any, by_id: dict) -> str | None:
    """Source column NAME when ``e`` is a bare date column or a cast
    of a bare timestamp_ntz column to date (monotone wall-clock
    truncation); None otherwise. Session-zoned timestamps decline —
    their stats are epoch micros and every bucket boundary depends on
    the session zone."""
    cls = e.getClass().getSimpleName()
    if cls == "Cast" and e.dataType().typeName() == "date":
        _n, aid = _attr_id(e.child())
        if aid is not None and aid in by_id:
            col, tname = by_id[aid]
            if tname == "timestamp_ntz":
                return col
        return None
    _n, aid = _attr_id(e)
    if aid is not None and aid in by_id and by_id[aid][1] == "date":
        return by_id[aid][0]
    return None


def _derived_group(e: Any, by_id: dict) -> dict | None:
    """Recognize a MONOTONE date-bucket grouping expression —
    ``year(d)``, ``trunc(d, 'month'/'year')``, ``to_date(ts)`` — over
    one bare date / NTZ-timestamp column. Monotonicity is the
    soundness requirement: F(min) == F(max) proves every row of a file
    falls in ONE bucket (a non-monotone key like month-of-year would
    wrap). Returns the group spec or None."""
    if e is None:
        return None
    cls = e.getClass().getSimpleName()
    if cls == "Year":
        src = _date_src(e.children().apply(0), by_id)
        if src is None:
            return None
        return {
            "kind": "year", "src": src, "gname": f"year({src})",
            "out_tname": "integer",
        }
    if cls == "TruncDate":
        ch = e.children()
        if ch.size() != 2:
            return None
        fmt = ch.apply(1)
        if fmt.getClass().getSimpleName() != "Literal" or fmt.value() is None:
            return None
        f = str(fmt.value()).lower()
        src = _date_src(ch.apply(0), by_id)
        if src is None:
            return None
        if f in _TRUNC_MONTH:
            kind = "trunc_month"
        elif f in _TRUNC_YEAR:
            kind = "trunc_year"
        else:
            return None  # week/quarter: not implemented driver-side
        return {
            "kind": kind, "src": src, "gname": f"{kind}({src})",
            "out_tname": "date",
        }
    if cls == "Cast" and e.dataType().typeName() == "date":
        src = _date_src(e, by_id)
        if src is None:
            return None
        return {
            "kind": "to_date", "src": src, "gname": f"to_date({src})",
            "out_tname": "date",
        }
    return None


def _derive_value(kind: str, v: Any) -> Any:
    """Driver-side bucket of one stat value (a date or an NTZ naive
    datetime) — must match Spark's own function on the same input."""
    import datetime as _dt

    d = v.date() if isinstance(v, _dt.datetime) else v
    if kind == "year":
        return d.year
    if kind == "to_date":
        return d
    if kind == "trunc_month":
        return d.replace(day=1)
    return d.replace(month=1, day=1)  # trunc_year


def _derive_column(spec: dict) -> Any:
    """The Spark Column replaying a group spec for the boundary scan —
    the exact expression the plan grouped on."""
    c = F.col(spec["src"])
    if spec["kind"] == "col":
        return c
    d = c.cast("date")
    if spec["kind"] == "year":
        return F.year(d)
    if spec["kind"] == "to_date":
        return d
    if spec["kind"] == "trunc_month":
        return F.trunc(d, "month")
    return F.trunc(d, "year")  # trunc_year


def _split_and(cond: Any) -> list[Any]:
    out, stack = [], [cond]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "And":
            stack.extend((e.left(), e.right()))
        else:
            out.append(e)
    return out


# GROUP BY pushdown accepts up to this many grouping columns: every
# key multiplies the per-file single-valuedness requirement (and the
# row-rendered key width), while real layouts cluster on 1-3 columns
_MAX_GROUP_KEYS = 4

# HAVING compares OUTPUT values against plan literals: accepted only
# where the Catalyst internal form decodes to the natural Python value
# (timestamps stay raw micros and decimals unscaled — both decline)
_HAVING_TYPES = {
    "integer", "long", "short", "byte", "double", "float",
    "string", "date", "boolean",
}

# group-key types the metadata path can re-render EXACTLY through
# createDataFrame rows (zone-free): integer family, strings, dates,
# and unscaled decimals. Timestamps decline in group mode (their
# rendering discipline is literal-based, not row-based).
_GROUP_KEY_TYPES = {"integer", "long", "short", "byte", "string", "date"}
# MIN/MAX value types that survive the same row-based rendering
_GROUP_VAL_TYPES = _GROUP_KEY_TYPES | {"double", "float"}


def _group_type_ok(tname: str, key: bool) -> bool:
    from quack_reduce_spark.operators.zonemaps import _decimal_ps

    # decimals of ANY precision: narrow ones re-render from unscaled
    # ints, wide ones pass native Decimals straight through
    # createDataFrame rows — both exact (r14)
    ok = _GROUP_KEY_TYPES if key else _GROUP_VAL_TYPES
    return tname in ok or _decimal_ps(tname) is not None


def extract_scalar_agg(
    df: DataFrame, paths_by_name: dict[str, str]
) -> dict | None:
    """Inspect ``df``'s optimized logical plan; when it is EXACTLY a
    global scalar aggregate over Filter/Project chains on one
    registered table, return::

        {"table", "groups": [], "aggs": [(kind, col|None), ...],
         "conjuncts": [(col, op, value), ...],
         "types": {col: catalyst type name},
         "out": [(output name, output DataType), ...]}

    with kind in {count_star, count, min, max, sum} and op in {ge, gt, le,
    lt, eq, in, isnull, isnotnull}; None when any piece of the plan
    falls outside the exactly-understood surface."""
    return _extract_agg(df, paths_by_name, grouped=False)


def extract_grouped_agg(
    df: DataFrame, paths_by_name: dict[str, str]
) -> dict | None:
    """The GROUP BY twin of :func:`extract_scalar_agg`: 1-4 bare
    grouping attributes (portable key types), the same agg surface
    plus ``("key", col)`` entries for the grouping columns' own output
    positions (a key may be projected out: grouping still runs over
    ALL keys). MIN/MAX value columns are restricted to row-renderable
    types (no timestamps) — the metadata partials travel through
    ``createDataFrame`` rows in group mode, not literals."""
    return _extract_agg(df, paths_by_name, grouped=True)


def _peel_sort_limit(opt: Any) -> tuple[Any, list | None, int | None]:
    """Peel ``GlobalLimit(LocalLimit(Sort(...)))`` wrappers above the
    Aggregate — the dashboard top-k shape (``... GROUP BY k ORDER BY n
    DESC LIMIT 5``). Returns ``(inner node, sort, limit)`` where sort
    is ``[(output exprId, ascending, nulls_first), ...]`` (resolved to
    output POSITIONS by the caller) or None when a Sort exists but is
    not fully understood (bare output attributes only) — the caller
    must then decline: a LIMIT's row choice depends on the sort."""
    node = opt
    limit = None
    cls = node.getClass().getSimpleName()
    if cls == "GlobalLimit":
        le = node.limitExpr()
        if le.getClass().getSimpleName() != "Literal" or le.value() is None:
            return node, None, None
        limit = int(str(le.value()))
        node = node.child()
        if node.getClass().getSimpleName() == "LocalLimit":
            node = node.child()
        cls = node.getClass().getSimpleName()
    sort: list | None = []
    if cls == "Sort":
        if not getattr(node, "global")():
            return node, None, limit
        order = node.order()
        for j in range(order.size()):
            so = order.apply(j)
            _n, aid = _attr_id(so.child())
            if aid is None:
                return node.child(), None, limit  # expression sort key
            sort.append(
                (
                    aid,
                    so.direction().sql() == "ASC",
                    so.nullOrdering().sql() == "NULLS FIRST",
                )
            )
        node = node.child()
    return node, sort, limit


def _extract_agg(
    df: DataFrame, paths_by_name: dict[str, str], grouped: bool
) -> dict | None:
    root = df._jdf.queryExecution().optimizedPlan()
    opt, sort, limit = _peel_sort_limit(root)
    if sort is None:
        # a Sort existed but was not fully understood: the row
        # order (and under LIMIT, the row set) is not reproducible
        return None
    # optional Project over bare aggregate outputs + Filter(s) ABOVE
    # the Aggregate: the HAVING shape (a projected-away auxiliary
    # aggregate like HAVING COUNT(*) > k introduces the Project)
    proj_ids: list[int] | None = None
    if opt.getClass().getSimpleName() == "Project":
        pl = opt.projectList()
        proj_ids = []
        for j in range(pl.size()):
            _pn, aid = _attr_id(pl.apply(j))
            if aid is None:
                return None
            proj_ids.append(aid)
        opt = opt.child()
    having_conds = []
    while opt.getClass().getSimpleName() == "Filter":
        having_conds.append(opt.condition())
        opt = opt.child()
    if opt.getClass().getSimpleName() != "Aggregate":
        return None
    gexprs = opt.groupingExpressions()
    if not grouped and gexprs.size() != 0:
        return None
    if grouped and not (1 <= gexprs.size() <= _MAX_GROUP_KEYS):
        return None

    # -- the chain below: Project*/Filter* down to one LogicalRelation
    node = opt.child()
    filter_conds = []
    proj_aliases: dict[int, Any] = {}  # Project alias exprId -> child expr
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "Project":
            pl = node.projectList()
            for j in range(pl.size()):
                pe = pl.apply(j)
                if pe.getClass().getSimpleName() == "Alias":
                    proj_aliases[int(pe.exprId().id())] = pe.child()
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
    by_id: dict[int, tuple[str, str]] = {}  # exprId -> (name, type name)
    for i in range(rel_out.size()):
        a = rel_out.apply(i)
        by_id[int(a.exprId().id())] = (a.name(), a.dataType().typeName())

    groups: list[dict] = []
    gids: dict[int, str] = {}  # group attr exprId -> canonical key name
    if grouped:
        for j in range(gexprs.size()):
            _gn, gid = _attr_id(gexprs.apply(j))
            if gid is None or gid in gids:
                return None
            if gid in by_id:
                gcol, gtname = by_id[gid]
                if not _group_type_ok(gtname, key=True):
                    return None
                spec = {
                    "kind": "col", "src": gcol, "gname": gcol,
                    "out_tname": gtname,
                }
            else:
                # a derived grouping key: Spark hoists GROUP BY
                # expressions into a Project alias (_groupingexpression)
                # — accept the MONOTONE date-bucket family, whose
                # endpoint equality pins a file to one bucket
                spec = _derived_group(proj_aliases.get(gid), by_id)
                if spec is None:
                    return None
            gids[gid] = spec["gname"]
            groups.append(spec)

    # -- aggregate expressions: COUNT(*)/COUNT(col)/MIN(col)/MAX(col)
    aggs: list[tuple[str, str | None]] = []
    id_to_pos: dict[int, int] = {}  # output exprId -> position
    aexprs = opt.aggregateExpressions()
    for i in range(aexprs.size()):
        ne = aexprs.apply(i)
        necls = ne.getClass().getSimpleName()
        try:
            id_to_pos[int(ne.exprId().id())] = i
        except Exception:
            pass  # an output without an exprId can't be a sort key
        if grouped and necls == "AttributeReference":
            # a grouping column selected bare
            gcol = gids.get(int(ne.exprId().id()))
            if gcol is None:
                return None
            aggs.append(("key", gcol))
            continue
        if necls != "Alias":
            return None
        ae = ne.child()
        aecls = ae.getClass().getSimpleName()
        if grouped and aecls == "AttributeReference":
            # a grouping column selected under an alias
            gcol = gids.get(int(ae.exprId().id()))
            if gcol is None:
                return None
            aggs.append(("key", gcol))
            continue
        if aecls != "AggregateExpression":
            return None
        if ae.filter().isDefined():
            return None
        fn = ae.aggregateFunction()
        fname = fn.getClass().getSimpleName()
        ch = fn.children()
        if ae.isDistinct():
            # COUNT(DISTINCT col) over a row-renderable column — the
            # unique-per-bucket (DAU) shape in group mode: pinned
            # files contribute their single value to a distinct SET
            # (per group), un-pinned files demote to the boundary
            # scan, and the union (in Spark, exact by the key-type
            # render rules) counts once.
            if fname != "Count" or ch.size() != 1:
                return None
            _dn, did = _attr_id(ch.apply(0))
            if did is None or did not in by_id:
                return None
            dcol, dtname = by_id[did]
            if not _group_type_ok(dtname, key=True):
                return None
            aggs.append(("count_distinct", dcol))
            continue
        if fname not in ("Count", "Min", "Max", "Sum", "Average") or (
            ch.size() != 1
        ):
            return None
        c0 = ch.apply(0)
        ccls = c0.getClass().getSimpleName()
        if fname == "Count" and ccls == "Literal":
            if c0.value() is None:
                return None
            aggs.append(("count_star", None))
            continue
        aname, aid = _attr_id(c0)
        if aid is None or aid not in by_id:
            return None
        col, tname = by_id[aid]
        if not _type_ok(tname):
            return None
        if grouped and fname in ("Min", "Max") and not _group_type_ok(
            tname, key=False
        ):
            return None  # group-mode partials are row-rendered: no ts
        if fname == "Sum":
            # SUM composes from metadata only where per-file sums are
            # EXACT in any order: integer-family, unscaled decimals,
            # and (r15) WIDE decimals — whose per-file sums stat
            # natively as decimal(38,s) and fold driver-side in exact
            # python-Decimal space. Double/float sums are
            # order-dependent and decline.
            from quack_reduce_spark.operators.zonemaps import (
                _sum_col_ok,
                _sum_wide_dec,
            )

            if not _sum_col_ok(tname) and _sum_wide_dec(tname) is None:
                return None
        if fname == "Average":
            # AVG rebuilds as exact SUM / exact COUNT with ONE final
            # division. Integer family: double division (Spark's own
            # Average semantics for ints). WIDE decimals (r15, scalar
            # only): the rebuilt frame replays Spark's exact Average
            # expression — Divide(sum cast decimal(38,s), count cast
            # decimal(20,0)) cast to the result type — over the exact
            # folded totals, so typing/rounding are Spark's own.
            # Double/float AVG is accumulation-order-dependent and a
            # NARROW-decimal AVG (unscaled-long stats space) would need
            # its own replay: both decline.
            from quack_reduce_spark.operators.zonemaps import _sum_wide_dec

            if tname not in ("integer", "long", "short", "byte") and not (
                not grouped and _sum_wide_dec(tname) is not None
            ):
                return None
            aggs.append(("avg", col))
            continue
        aggs.append(("count" if fname == "Count" else fname.lower(), col))

    # -- filter conjuncts, every one exactly understood
    conjuncts: list[tuple[str, str, Any]] = []
    for cond in filter_conds:
        for leaf in _split_and(cond):
            got = _exact_conjunct(leaf)
            if got is None:
                return None
            aid, op, v = got
            if aid not in by_id:
                return None  # references a Project alias, not the column
            col, tname = by_id[aid]
            if not _type_ok(tname):
                return None
            conjuncts.append((col, op, v))

    # the all-keys grouping (SELECT DISTINCT k / GROUP BY k with no
    # aggregate — the SHOW PARTITIONS query) is supported: a pinned
    # contained file proves its key tuple EXISTS, boundary files scan
    # for theirs, and the union dedupes (no partials to merge)
    used = {c for c, _o, _v in conjuncts} | {
        c for _k, c in aggs if c is not None
    }
    used |= {g["src"] for g in groups}
    types = {
        nm: tn for nm, tn in by_id.values() if nm in used
    }
    out_fields = [(f.name, f.dataType) for f in df.schema.fields]
    if proj_ids is not None:
        visible = []
        for aid in proj_ids:
            pos = id_to_pos.get(aid)
            if pos is None:
                return None
            visible.append(pos)
    else:
        visible = list(range(len(aggs)))
    if len(out_fields) != len(visible):
        return None
    sort_pos = []
    for aid, asc, nf in sort:
        pos = id_to_pos.get(aid)
        if pos is None:
            return None  # sort key is not one of the outputs
        sort_pos.append((pos, asc, nf))
    having = []
    for cond in having_conds:
        for leaf in _split_and(cond):
            got = _exact_conjunct(leaf)
            if got is None:
                return None
            aid, op, v = got
            pos = id_to_pos.get(aid)
            if pos is None:
                return None
            if aexprs.apply(pos).dataType().typeName() not in _HAVING_TYPES:
                return None  # internal-form literal domain unclear
            having.append((pos, op, v))
    from pyspark.sql.types import _parse_datatype_json_string

    out_all_types = [
        _parse_datatype_json_string(aexprs.apply(i).dataType().json())
        for i in range(aexprs.size())
    ]
    return {
        "table": table,
        "groups": groups,
        "aggs": aggs,
        "conjuncts": conjuncts,
        "types": types,
        "out": out_fields,
        "visible": visible,
        "out_all_types": out_all_types,
        "having": having,
        "sort": sort_pos,
        "limit": limit,
    }


def finish_frame(frame: DataFrame, info: dict) -> DataFrame:
    """Finish a rebuilt aggregate frame whose columns are the FULL
    aggregate-output list as ``__o{i}``: apply the HAVING predicate,
    the peeled ORDER BY / LIMIT (sort keys are positions, so hidden
    auxiliary aggregates participate), and project the visible outputs
    under their final names/types."""
    if info.get("having"):
        frame = frame.where(_having_predicate(info["having"]))
    if info.get("sort"):
        order = []
        for pos, asc, nf in info["sort"]:
            c = F.col(f"__o{pos}")
            if asc:
                order.append(c.asc_nulls_first() if nf else c.asc_nulls_last())
            else:
                order.append(
                    c.desc_nulls_first() if nf else c.desc_nulls_last()
                )
        frame = frame.orderBy(*order)
    if info.get("limit") is not None:
        frame = frame.limit(info["limit"])
    return frame.select(
        *[
            F.col(f"__o{p}").cast(t).alias(n)
            for (n, t), p in zip(info["out"], info["visible"])
        ]
    )


def _having_predicate(having: list):
    """Exact filter over the ``__o{i}`` aggregate outputs — HAVING
    conjuncts compare OUTPUT values against plain literals (types
    pre-gated to natural-Python internal forms)."""
    pred = F.lit(True)
    for pos, op, v in having:
        c = F.col(f"__o{pos}")
        if op == "isnull":
            pred = pred & c.isNull()
        elif op == "isnotnull":
            pred = pred & c.isNotNull()
        elif op == "in":
            cond = F.lit(False)
            for x in sorted(v, key=repr):
                cond = cond | (c == F.lit(x))
            pred = pred & cond
        elif op == "ge":
            pred = pred & (c >= F.lit(v))
        elif op == "gt":
            pred = pred & (c > F.lit(v))
        elif op == "le":
            pred = pred & (c <= F.lit(v))
        elif op == "lt":
            pred = pred & (c < F.lit(v))
        else:
            pred = pred & (c == F.lit(v))
    return pred




def _tri_state(
    op: str, v: Any, mn: Any, mx: Any, nulls: int, n_rows: int
) -> str:
    """'all' (stats PROVE every row matches), 'none' (no row can),
    or 'some' — NULL comparison semantics included: a row with NULL in
    the column fails every comparison/IN conjunct. Incomparable values
    classify 'some' (sound: the file is scanned)."""
    all_null = nulls == n_rows
    if op == "isnull":
        return "all" if all_null else ("none" if nulls == 0 else "some")
    if op == "isnotnull":
        return "none" if all_null else ("all" if nulls == 0 else "some")
    if all_null or mn is None or mx is None:
        # no non-null values (or no usable stats): a comparison matches
        # no row of an all-null file; without stats, unknown
        return "none" if all_null else "some"
    try:
        if op == "ge":
            if mx < v:
                return "none"
            return "all" if nulls == 0 and mn >= v else "some"
        if op == "gt":
            if mx <= v:
                return "none"
            return "all" if nulls == 0 and mn > v else "some"
        if op == "le":
            if mn > v:
                return "none"
            return "all" if nulls == 0 and mx <= v else "some"
        if op == "lt":
            if mn >= v:
                return "none"
            return "all" if nulls == 0 and mx < v else "some"
        if op == "eq":
            if v < mn or v > mx:
                return "none"
            return "all" if nulls == 0 and mn == mx == v else "some"
        if op == "in":
            vals, sv = v
            if mn == mx:
                if mn in vals:
                    return "all" if nulls == 0 else "some"
                return "none"
            if sv is not None:  # sorted: binary-search the [mn, mx] hit
                i = _bisect.bisect_left(sv, mn)
                return "some" if i < len(sv) and sv[i] <= mx else "none"
            if not any(mn <= x <= mx for x in vals):
                return "none"
            return "some"
    except TypeError:
        return "some"
    return "some"


def _meta_literal(v: Any, tname: str, out_type: Any):
    """A Column literal of a manifest stat value, built ZONE-FREE per
    the manifest's storage domain: session-zoned timestamp stats are
    epoch micros -> timestamp_micros; NTZ stats are naive datetimes ->
    string-cast (wall clock, no zone applies); everything else is a
    plain literal cast to the output type."""
    from quack_reduce_spark.operators.zonemaps import _unscaled_decimal

    if v is None:
        return F.lit(None).cast(out_type)
    if tname == "timestamp":
        return F.timestamp_micros(F.lit(int(v)))
    if tname == "timestamp_ntz":
        return F.lit(v.isoformat(sep=" ")).cast("timestamp_ntz")
    if tname == "date":
        return F.lit(v)
    dec_s = _unscaled_decimal(tname)
    if dec_s is not None:
        import decimal as _pydec

        # unscaled-int stat -> the exact decimal value it encodes
        return F.lit(_pydec.Decimal(int(v)).scaleb(-dec_s)).cast(out_type)
    return F.lit(v).cast(out_type)


def residual_predicate(
    conjuncts: list[tuple[str, str, Any]], types: dict[str, str]
):
    """The EXACT filter the extracted conjuncts encode, rebuilt for the
    boundary-file scan — session-zoned timestamp columns compare as
    unix_micros against the raw Catalyst micros (epoch space, no
    rendering), NTZ via zone-free string casts."""
    from quack_reduce_spark.operators.zonemaps import (
        _unscaled_col,
        _unscaled_decimal,
    )

    pred = F.lit(True)
    for col, op, v in conjuncts:
        tname = types.get(col)
        if op == "isnull":
            pred = pred & F.col(col).isNull()
            continue
        if op == "isnotnull":
            pred = pred & F.col(col).isNotNull()
            continue
        dec_s = _unscaled_decimal(tname)
        if tname == "timestamp":
            target = F.unix_micros(F.col(col))
            conv = lambda x: F.lit(int(x))  # noqa: E731 — raw micros
        elif dec_s is not None:
            # unscaled-int space: values decoded from the literals are
            # already unscaled at the column scale
            target = _unscaled_col(col, dec_s)
            conv = lambda x: F.lit(int(x))  # noqa: E731
        elif tname == "timestamp_ntz":
            target = F.col(col)
            conv = lambda x: F.lit(x.isoformat(sep=" ")).cast(  # noqa: E731
                "timestamp_ntz"
            )
        else:
            target = F.col(col)
            conv = F.lit
        if op == "in":
            cond = F.lit(False)
            for x in sorted(v, key=repr):
                cond = cond | (target == conv(x))
            pred = pred & cond
        elif op == "ge":
            pred = pred & (target >= conv(v))
        elif op == "gt":
            pred = pred & (target > conv(v))
        elif op == "le":
            pred = pred & (target <= conv(v))
        elif op == "lt":
            pred = pred & (target < conv(v))
        elif op == "eq":
            pred = pred & (target == conv(v))
    return pred


def _norm_conjuncts(conjuncts: list) -> list:
    """IN value sets classify per file: pre-sort once so each file is a
    binary search, not a linear pass over a (possibly 32k-value) set."""
    norm = []
    for col, op, v in conjuncts:
        if op == "in":
            try:
                v = (v, sorted(v))
            except TypeError:
                v = (v, None)  # mixed types: linear fallback
        norm.append((col, op, v))
    return norm


def _classify_row(norm: list, r: dict, n_rows: int) -> str:
    """'all' | 'some' | 'none' for one manifest row against every
    (normalized) conjunct."""
    state = "all"
    for col, op, v in norm:
        mn, mx = r.get(f"min_{col}"), r.get(f"max_{col}")
        nulls = r.get(f"nulls_{col}")
        if nulls is None:
            state = "some"
            continue
        tri = _tri_state(op, v, mn, mx, int(nulls), n_rows)
        if tri == "none":
            return "none"
        if tri == "some":
            state = "some"
    return state


def build_agg_frame(
    spark: SparkSession,
    path: str,
    info: dict,
    rows: list[dict],
    total: int,
    group_stats: tuple[str, dict[str, list[dict]]] | None = None,
) -> tuple[DataFrame, dict] | None:
    """Classify the pruned-in manifest ``rows`` (contained / boundary),
    fold the contained files' stats into metadata partials, and return
    ``(one-row DataFrame, telemetry)`` — the frame LAZILY scans only
    the boundary files with the exact residual predicate and combines
    with the metadata partials (sum for counts, least/greatest for
    min/max, both null-skipping). When per-group slice stats exist for
    a conjunct column (``group_stats``), a file whose file-level
    classification is 'some' can still resolve from metadata: each
    slice classifies against its own (tighter) stats — the reference
    dashboard's ``COUNT(*) WHERE status = X`` widget on an UNCLUSTERED
    layout then reads zero files. None when a needed stat is absent or
    a metadata partial is NaN-poisoned (caller declines, sound)."""
    aggs, conjuncts, types = info["aggs"], info["conjuncts"], info["types"]
    # avg folds TWO partials (exact sum, non-null count) per agg slot;
    # count_distinct folds a SET of pinned single values
    meta: list[Any] = [
        [None, 0] if k == "avg"
        else set() if k == "count_distinct"
        else (0 if k in ("count_star", "count") else None)
        for k, _c in aggs
    ]
    cd_cols = [c for k, c in aggs if k == "count_distinct"]
    norm = _norm_conjuncts(conjuncts)
    boundary: list[str] = []
    gs_col, gs_by_file = group_stats if group_stats else (None, {})
    files_gs = 0
    for r in rows:
        n_rows = int(r["n_rows"])
        state = _classify_row(norm, r, n_rows)
        if state == "none":
            continue  # pruning kept it, exact classification drops it
        # every count_distinct column must PIN this file to one value
        # (single-valued non-null, or all-NULL = contributes nothing);
        # anything mixed demotes the file to the slice path / boundary
        pinned = (
            _pin_cd_row(cd_cols, r, n_rows) if state == "all" else None
        )
        if pinned is not None:
            if not _fold_partials(aggs, meta, r, n_rows, pinned):
                return None
            continue
        # PER-GROUP SLICE PATH: slice-tight stats classify exactly
        # (all slices must resolve or the whole file scans once)
        if gs_col is not None:
            from quack_reduce_spark.operators.zonemaps import _bare, _unq

            slices = gs_by_file.get(_unq(_bare(r["file"])))
        else:
            slices = None
        # integrity gate (r15 review): slices PARTITION the file's rows
        # by construction, so their n_rows must sum to the file's — a
        # crash mid-append can commit a strict SUBSET of a file's slice
        # rows (task-level output commit), which has no duplicates for
        # the dedup demotion to catch; folding it would silently
        # undercount. Mismatch = scan the file.
        if slices is not None and sum(
            int(g["n_rows"]) for g in slices
        ) != n_rows:
            slices = None
        if slices is not None:
            staged: list = []
            ok = True
            for gr in slices:
                g_n = int(gr["n_rows"])
                if g_n == 0:
                    continue
                g_state = _classify_row(norm, gr, g_n)
                if g_state == "none":
                    continue
                if g_state != "all":
                    ok = False
                    break
                cdp = _pin_cd_row(cd_cols, gr, g_n)
                if cdp is None:
                    ok = False
                    break
                staged.append((cdp, gr, g_n))
            if ok:
                files_gs += 1
                for cdp, gr, g_n in staged:
                    if not _fold_partials(aggs, meta, gr, g_n, cdp):
                        return None
                continue
        boundary.append(r["file"])

    if boundary:
        bdf = spark.read.option("basePath", path).parquet(*boundary)
        pred = residual_predicate(conjuncts, types)
        partials = []
        for i, (kind, col) in enumerate(aggs):
            if kind == "count_star":
                partials.append(F.count(F.lit(1)).alias(f"__a{i}"))
            elif kind == "count":
                partials.append(F.count(F.col(col)).alias(f"__a{i}"))
            elif kind == "min":
                partials.append(F.min(F.col(col)).alias(f"__a{i}"))
            elif kind == "sum":
                partials.append(F.sum(F.col(col)).alias(f"__a{i}"))
            elif kind == "avg":
                from quack_reduce_spark.operators.zonemaps import (
                    _sum_wide_dec as _swd,
                )

                if _swd(types.get(col, "")) is not None:
                    # wide decimal: native sum at its own scale (a
                    # (38,0) cast would truncate); ANSI overflow on a
                    # boundary subset mirrors the plain plan's
                    partials.append(F.sum(F.col(col)).alias(f"__a{i}s"))
                else:
                    # exact integer sum, widened to decimal(38,0) so a
                    # boundary SUBSET of a file's rows can never raise
                    # the ANSI int64-overflow the plain (double-
                    # buffered) AVG would not; one double division
                    # happens at the end
                    partials.append(
                        F.sum(F.col(col).cast("decimal(38,0)")).alias(
                            f"__a{i}s"
                        )
                    )
                partials.append(F.count(F.col(col)).alias(f"__a{i}n"))
            elif kind == "count_distinct":
                pass  # computed via a crossJoined distinct-union frame
            else:
                partials.append(F.max(F.col(col)).alias(f"__a{i}"))
        base = (
            bdf.where(pred).agg(*partials)
            if partials
            else spark.range(1)
        )
        # each COUNT(DISTINCT c): the pinned metadata values union the
        # boundary files' distinct values IN SPARK (exact by the key-
        # type render rules), counted once and crossJoined as a 1-row
        # frame — no driver-side value materialization beyond the
        # pinned set
        from pyspark.sql import types as T

        for i, (kind, col) in enumerate(aggs):
            if kind != "count_distinct":
                continue
            tname = types.get(col, "")
            schema = T.StructType(
                [T.StructField("__v", _py_datatype(tname))]
            )
            mdf = spark.createDataFrame(
                [(_render_meta(v, tname),) for v in meta[i]], schema
            )
            bvals = (
                bdf.where(pred)
                .select(F.col(col).alias("__v"))
                .where(F.col("__v").isNotNull())
            )
            cd = mdf.unionByName(bvals).agg(
                F.count_distinct(F.col("__v")).alias(f"__a{i}")
            )
            base = base.crossJoin(cd)
    else:
        base = spark.range(1)

    outs = []
    for i, (kind, col) in enumerate(aggs):
        otype = info["out_all_types"][i]
        if kind in ("count_star", "count"):
            expr = F.lit(int(meta[i]))
            if boundary:
                expr = expr + F.coalesce(F.col(f"__a{i}"), F.lit(0))
        elif kind == "count_distinct":
            # with a boundary the crossJoined frame already merged the
            # metadata values; without one the pinned set IS the answer
            expr = (
                F.coalesce(F.col(f"__a{i}"), F.lit(0))
                if boundary
                else F.lit(len(meta[i]))
            )
        elif kind == "avg":
            from quack_reduce_spark.operators.zonemaps import _sum_wide_dec

            wide_s = _sum_wide_dec(types.get(col, ""))
            m_sum, m_cnt = meta[i]
            sdt = (
                f"decimal(38,{wide_s})" if wide_s is not None
                else "decimal(38,0)"
            )
            if wide_s is not None and m_sum is not None and abs(
                m_sum
            ) >= _pydecimal.Decimal(10) ** (38 - wide_s):
                return None  # plain Average's sum buffer overflows too
            sum_lit = (
                F.lit(
                    m_sum if wide_s is not None
                    else _pydecimal.Decimal(int(m_sum))
                )
                if m_sum is not None
                else F.lit(None)
            ).cast(sdt)
            cnt = F.lit(int(m_cnt))
            if boundary:
                zero = F.lit(0).cast(sdt)
                total_sum = F.coalesce(sum_lit, zero) + F.coalesce(
                    F.col(f"__a{i}s"), zero
                )
                cnt = cnt + F.coalesce(F.col(f"__a{i}n"), F.lit(0))
            else:
                total_sum = sum_lit
            if wide_s is not None:
                # replay Spark's own Average-over-decimal expression:
                # the sum is cast to Average's RESULT type (s+4 scale)
                # BEFORE the divide — Divide(dec(38,s+4), dec(20,0))
                # then lands scale s+4 under the precision-loss rules,
                # one rounding, exactly the plain plan's — over the
                # exact folded totals (empirically pinned in tests;
                # dividing at scale s instead loses 2 digits)
                expr = F.when(cnt == 0, F.lit(None)).otherwise(
                    total_sum.cast(otype) / cnt.cast("decimal(20,0)")
                )
            else:
                # SQL AVG of zero non-null rows is NULL; otherwise ONE
                # double division over the exact totals
                expr = F.when(cnt == 0, F.lit(None)).otherwise(
                    total_sum.cast("double") / cnt
                )
        elif kind == "sum":
            from quack_reduce_spark.operators.zonemaps import (
                _sum_wide_dec,
                _unscaled_decimal,
            )

            dec_s = _unscaled_decimal(types.get(col, ""))
            wide_s = _sum_wide_dec(types.get(col, ""))
            if meta[i] is None:
                # no non-null value in any contained file: the result
                # is whatever the boundary says (SQL SUM of empty = NULL)
                expr = F.col(f"__a{i}") if boundary else F.lit(None).cast(otype)
            else:
                if wide_s is not None:
                    # exact Decimal total; decline when it can't fit
                    # the plain plan's decimal(38,s) output (plain
                    # execution overflows there too — under ANSI it
                    # errors, and this path must never differ quietly)
                    if abs(meta[i]) >= _pydecimal.Decimal(10) ** (38 - wide_s):
                        return None
                    lit = F.lit(meta[i]).cast(f"decimal(38,{wide_s})")
                elif dec_s is not None:
                    lit = F.lit(_pydecimal.Decimal(int(meta[i])).scaleb(-dec_s))
                else:
                    if abs(int(meta[i])) > 2 ** 63 - 1:
                        return None  # the plain query would overflow too
                    lit = F.lit(int(meta[i]))
                expr = (
                    lit + F.coalesce(F.col(f"__a{i}"), F.lit(0))
                    if boundary
                    else lit
                )
        else:
            lit = _meta_literal(meta[i], types.get(col, ""), otype)
            if boundary:
                # least/greatest skip NULLs: an absent metadata partial
                # or an empty boundary result defers to the other side
                expr = (F.least if kind == "min" else F.greatest)(
                    lit, F.col(f"__a{i}")
                )
            else:
                expr = lit
        outs.append(expr.cast(otype).alias(f"__o{i}"))
    frame = finish_frame(base.select(*outs), info)
    telemetry = {
        "table": info["table"],
        "aggs": [
            f"{k}({c})" if c is not None else "count(*)" for k, c in aggs
        ],
        "files_total": total,
        "files_pruned_in": len(rows),
        "files_contained": len(rows) - len(boundary),
        "files_scanned": len(boundary),
    }
    if gs_col is not None:
        telemetry["files_group_stats"] = files_gs
        telemetry["group_stats_col"] = gs_col
    return frame, telemetry


def _py_datatype(tname: str):
    """PySpark DataType for a catalyst type NAME — the row-rendered
    group-mode types only (callers pre-gate via _group_type_ok)."""
    from pyspark.sql import types as T

    from quack_reduce_spark.operators.zonemaps import _decimal_ps

    ps = _decimal_ps(tname)
    if ps is not None:
        return T.DecimalType(ps[0], ps[1])
    return {
        "integer": T.IntegerType(), "long": T.LongType(),
        "short": T.ShortType(), "byte": T.ByteType(),
        "string": T.StringType(), "date": T.DateType(),
        "double": T.DoubleType(), "float": T.FloatType(),
    }[tname]


def _render_meta(v: Any, tname: str) -> Any:
    """Python value for a createDataFrame row from a manifest stat —
    decimals come back from unscaled space; everything else is already
    the exact native value."""
    from quack_reduce_spark.operators.zonemaps import _unscaled_decimal

    if v is None:
        return None
    s = _unscaled_decimal(tname)
    if s is not None:
        import decimal as _pydec

        return _pydec.Decimal(int(v)).scaleb(-s)
    return v


def _slice_pin(gs_key: str, gr: dict) -> dict[str, Any]:
    """Per-column pinned values carried by one SLICE row: a single-
    column key stores its value as ``__gv``; a composite ``"a,b"`` key
    as ``__gv0``/``__gv1``/... (every row of the slice holds exactly
    these values, by groupBy construction)."""
    comps = gs_key.split(",")
    if len(comps) == 1:
        return {comps[0]: gr["__gv"]}
    return {c: gr[f"__gv{i}"] for i, c in enumerate(comps)}


def _pin_keys_row(
    groups: list[dict], r: dict, n_rows: int,
    gv_pin: dict[str, Any] | None = None,
) -> list | None:
    """The single group-key tuple every row behind stats row ``r``
    belongs to, or None when the stats cannot pin one. A plain key
    pins when single-valued non-null (min == max, zero nulls) or
    all-NULL (the SQL NULL group); a derived key when its MONOTONE
    bucket of both endpoints agrees. When ``r`` is a per-group SLICE
    row, ``gv_pin`` carries the slice's pinned column values (one per
    slice-key component) — those columns' keys ARE the pinned values."""
    key_vals: list = []
    for g in groups:
        src = g["src"]
        if gv_pin is not None and src in gv_pin:
            gv = gv_pin[src]
            if gv is None or g["kind"] == "col":
                key_vals.append(gv)
            else:
                key_vals.append(_derive_value(g["kind"], gv))
            continue
        gmn, gmx = r.get(f"min_{src}"), r.get(f"max_{src}")
        gnulls = r.get(f"nulls_{src}")
        if gnulls is not None and int(gnulls) == 0 and gmn is not None:
            if g["kind"] == "col":
                if gmn == gmx:
                    key_vals.append(gmn)
                    continue
            else:
                lo = _derive_value(g["kind"], gmn)
                hi = _derive_value(g["kind"], gmx)
                if lo == hi:
                    key_vals.append(lo)
                    continue
            return None
        if gnulls is not None and int(gnulls) == n_rows:
            key_vals.append(None)
        else:
            return None
    return key_vals


def _pin_cd_row(cd_cols: list[str], r: dict, n_rows: int) -> dict | None:
    """Per-column pinned value for every COUNT(DISTINCT) column behind
    stats row ``r`` (single non-null value, or None for an all-NULL
    slice), or None when any column is mixed."""
    out: dict[str, Any] = {}
    for c in cd_cols:
        mn, mx = r.get(f"min_{c}"), r.get(f"max_{c}")
        nulls = r.get(f"nulls_{c}")
        if mn is None and nulls is not None and int(nulls) == n_rows:
            out[c] = None
        elif mn is not None and mn == mx and not _is_nan(mn):
            out[c] = mn
        else:
            return None
    return out


def _fold_partials(
    aggs: list, part: list, r: dict, n_rows: int, cd_pinned: dict
) -> bool:
    """Accumulate one stats row's metadata partials into ``part``
    (one slot per aggregate). False = a needed stat is absent or
    NaN-poisoned — the caller must decline the whole pushdown."""
    for i, (kind, col) in enumerate(aggs):
        if kind == "key":
            continue
        if kind == "count_distinct":
            v = cd_pinned[col]
            if v is not None:
                part[i].add(v)
            continue
        if kind == "count_star":
            part[i] += n_rows
        elif kind == "count":
            nc = r.get(f"nulls_{col}")
            if nc is None:
                return False
            part[i] += n_rows - int(nc)
        elif kind == "sum":
            sv = r.get(f"sum_{col}")
            if sv is None:
                nc = r.get(f"nulls_{col}")
                if nc is not None and int(nc) == n_rows:
                    continue  # all-NULL: SUM contributes nothing
                return False  # pre-r13 manifest / per-file overflow
            # wide-decimal sums arrive as exact python Decimals and
            # fold in Decimal space (no overflow exists there);
            # everything else is an int (unscaled/plain)
            if not isinstance(sv, _pydecimal.Decimal):
                sv = int(sv)
            part[i] = (0 if part[i] is None else part[i]) + sv
        elif kind == "avg":
            nc = r.get(f"nulls_{col}")
            if nc is None:
                return False
            nn = n_rows - int(nc)
            if nn == 0:
                continue  # all-NULL/empty: AVG sees nothing
            sv = r.get(f"sum_{col}")
            if sv is None:
                return False
            if not isinstance(sv, _pydecimal.Decimal):
                sv = int(sv)
            part[i] = [
                (0 if part[i][0] is None else part[i][0]) + sv,
                part[i][1] + nn,
            ]
        else:
            v = r.get(f"min_{col}" if kind == "min" else f"max_{col}")
            if v is None:
                continue  # all-null contributes nothing
            if _is_nan(v):
                return False
            try:
                if part[i] is None:
                    part[i] = v
                elif kind == "min":
                    part[i] = min(part[i], v)
                else:
                    part[i] = max(part[i], v)
            except TypeError:
                return False
    return True


def build_group_agg_frame(
    spark: SparkSession,
    path: str,
    info: dict,
    rows: list[dict],
    total: int,
    group_stats: tuple[str, dict[str, list[dict]]] | None = None,
) -> tuple[DataFrame, dict] | None:
    """The GROUP BY twin of :func:`build_agg_frame`: a file whose
    conjunct classification is 'all' AND whose EVERY grouping column
    is single-valued (min == max with zero nulls — the hive-
    partitioned / clustered layout shape) or all-NULL (the SQL NULL
    group) contributes per-group metadata partials without being read;
    every other surviving file is a boundary file, scanned once,
    grouped, and union-merged with the metadata partials (counts/sums
    add, mins/maxes fold — all exact by the same type gates the scalar
    path enforces). Group keys and partials travel as createDataFrame
    ROWS, which is why group mode is limited to zone-free-renderable
    types."""
    import decimal as _pydec

    from pyspark.sql import types as T

    from quack_reduce_spark.operators.zonemaps import _unscaled_decimal

    aggs, conjuncts, types = info["aggs"], info["conjuncts"], info["types"]
    groups = info["groups"]
    g_ts = [
        g["out_tname"] if g["kind"] != "col" else types.get(g["src"])
        for g in groups
    ]
    gnames = [g["gname"] for g in groups]
    if not groups or any(t is None for t in g_ts):
        return None
    norm = _norm_conjuncts(conjuncts)
    meta: dict[Any, list] = {}
    boundary: list[str] = []

    cd_cols = [c for k, c in aggs if k == "count_distinct"]

    def fresh_partials() -> list:
        return [
            [None, 0] if k == "avg"
            else set() if k == "count_distinct"
            else (0 if k in ("count_star", "count") else None)
            for k, _c in aggs
        ]

    gs_col, gs_by_file = group_stats if group_stats else (None, {})
    files_gs = 0
    for r in rows:
        n_rows = int(r["n_rows"])
        state = _classify_row(norm, r, n_rows)
        if state == "none":
            continue
        if n_rows == 0:
            continue  # empty file: no group, nothing to add
        # FAST PATH — EVERY grouping key pins this file to one group:
        # source single-valued non-null (key = the value, bucketed for
        # derived keys — sound because the bucket fns are MONOTONE, so
        # equal endpoints mean one bucket) or all-NULL (the SQL NULL
        # group); every count_distinct column must also pin
        if state == "all":
            key_vals = _pin_keys_row(groups, r, n_rows)
            cd_pinned = (
                _pin_cd_row(cd_cols, r, n_rows)
                if key_vals is not None
                else None
            )
            if key_vals is not None and cd_pinned is not None:
                part = meta.setdefault(tuple(key_vals), fresh_partials())
                if not _fold_partials(aggs, part, r, n_rows, cd_pinned):
                    return None
                continue
        # PER-GROUP SLICE PATH (unclustered layouts): the manifest's
        # (file, group-value) partials — written for designated
        # low-NDV columns — pin each slice exactly: the slice value IS
        # the group key, conjuncts classify against the slice's own
        # (tighter) stats, and slice partials fold like file partials
        # because groupBy(file, value) partitions the file's rows
        # exactly. Staged per file: any unclassifiable slice demotes
        # the WHOLE file to the boundary scan (a file reads once or
        # not at all).
        if gs_col is not None:
            from quack_reduce_spark.operators.zonemaps import _bare, _unq

            slices = gs_by_file.get(_unq(_bare(r["file"])))
        else:
            slices = None
        # integrity gate (r15 review): a crash mid-append can commit a
        # strict SUBSET of a file's slice rows — no duplicates for the
        # dedup demotion to catch. Slices partition the file, so their
        # n_rows must sum to the file's; mismatch = scan the file.
        if slices is not None and sum(
            int(g["n_rows"]) for g in slices
        ) != n_rows:
            slices = None
        if slices is not None:
            staged: list = []
            ok = True
            for gr in slices:
                g_n = int(gr["n_rows"])
                if g_n == 0:
                    continue
                g_state = _classify_row(norm, gr, g_n)
                if g_state == "none":
                    continue  # the whole slice fails the predicate
                if g_state != "all":
                    ok = False
                    break
                kv = _pin_keys_row(
                    groups, gr, g_n, gv_pin=_slice_pin(gs_col, gr)
                )
                cdp = (
                    _pin_cd_row(cd_cols, gr, g_n) if kv is not None else None
                )
                if kv is None or cdp is None:
                    ok = False
                    break
                staged.append((tuple(kv), cdp, gr, g_n))
            if ok:
                files_gs += 1
                for kv, cdp, gr, g_n in staged:
                    part = meta.setdefault(kv, fresh_partials())
                    if not _fold_partials(aggs, part, gr, g_n, cdp):
                        return None
                continue
        boundary.append(r["file"])

    # -- the metadata partials as a (possibly empty) frame ------------
    knames = [f"__k{j}" for j in range(len(groups))]
    fields = [
        T.StructField(kn, _py_datatype(gt))
        for kn, gt in zip(knames, g_ts)
    ]
    merges = []  # final fold per partial column
    for i, (kind, col) in enumerate(aggs):
        if kind in ("key", "count_distinct"):
            continue  # count_distinct joins in via its own value frame
        if kind in ("count_star", "count"):
            fields.append(T.StructField(f"__a{i}", T.LongType()))
            merges.append((i, F.sum))
        elif kind == "avg":
            # two partials per slot: exact decimal sum + non-null count
            fields.append(T.StructField(f"__a{i}", T.DecimalType(38, 0)))
            fields.append(T.StructField(f"__a{i}n", T.LongType()))
            merges.append((i, "avg"))
        elif kind == "sum":
            from quack_reduce_spark.operators.zonemaps import (
                _decimal_ps,
                _sum_wide_dec,
            )

            ct = types.get(col, "")
            ps_s = _unscaled_decimal(ct)
            wide_s = _sum_wide_dec(ct)
            if wide_s is not None:
                fields.append(
                    T.StructField(f"__a{i}", T.DecimalType(38, wide_s))
                )
            elif ps_s is not None:
                p = _decimal_ps(ct)[0]
                fields.append(
                    T.StructField(f"__a{i}", T.DecimalType(min(38, p + 10), ps_s))
                )
            else:
                fields.append(T.StructField(f"__a{i}", T.LongType()))
            merges.append((i, F.sum))
        else:
            fields.append(T.StructField(f"__a{i}", _py_datatype(types[col])))
            merges.append((i, F.min if kind == "min" else F.max))
    schema = T.StructType(fields)
    meta_rows = []
    for key, part in meta.items():
        row = [
            _render_meta(kv, gt) for kv, gt in zip(key, g_ts)
        ]
        for i, (kind, col) in enumerate(aggs):
            if kind in ("key", "count_distinct"):
                continue
            if kind == "avg":
                s, nn = part[i]
                row.append(None if s is None else _pydec.Decimal(int(s)))
                row.append(int(nn))
            elif kind == "sum":
                from quack_reduce_spark.operators.zonemaps import (
                    _sum_wide_dec,
                )

                v = part[i]
                if v is not None:
                    ps_s = _unscaled_decimal(types.get(col, ""))
                    wide_s = _sum_wide_dec(types.get(col, ""))
                    if wide_s is not None:
                        # exact Decimal already; a per-group total past
                        # decimal(38,s) overflows the plain plan too
                        if abs(v) >= _pydec.Decimal(10) ** (38 - wide_s):
                            return None
                    elif ps_s is not None:
                        v = _pydec.Decimal(int(v)).scaleb(-ps_s)
                    elif abs(int(v)) > 2 ** 63 - 1:
                        return None  # plain execution would overflow too
                row.append(v)
            elif kind in ("count_star", "count"):
                row.append(int(part[i]))
            else:
                row.append(_render_meta(part[i], types[col]))
        meta_rows.append(tuple(row))
    meta_df = spark.createDataFrame(meta_rows, schema)

    distinct_only = not merges  # every output is a grouping key
    combined = meta_df
    if boundary:
        bdf = spark.read.option("basePath", path).parquet(*boundary)
        pred = residual_predicate(conjuncts, types)
        base = bdf.where(pred)
        aggexprs = []
        for i, (kind, col) in enumerate(aggs):
            if kind in ("key", "count_distinct"):
                continue
            if kind == "count_star":
                aggexprs.append(F.count(F.lit(1)).alias(f"__a{i}"))
            elif kind == "count":
                aggexprs.append(F.count(F.col(col)).alias(f"__a{i}"))
            elif kind == "min":
                aggexprs.append(F.min(F.col(col)).alias(f"__a{i}"))
            elif kind == "max":
                aggexprs.append(F.max(F.col(col)).alias(f"__a{i}"))
            elif kind == "avg":
                aggexprs.append(
                    F.sum(F.col(col).cast("decimal(38,0)")).alias(f"__a{i}")
                )
                aggexprs.append(F.count(F.col(col)).alias(f"__a{i}n"))
            else:
                aggexprs.append(F.sum(F.col(col)).alias(f"__a{i}"))
        keysel = [
            _derive_column(g).alias(kn) for g, kn in zip(groups, knames)
        ]
        bagg = (
            base.select(*keysel).distinct()
            if distinct_only or not aggexprs
            else base.groupBy(*keysel).agg(*aggexprs)
        )
        combined = meta_df.unionByName(
            bagg.select(*[f.name for f in fields])
        )

    finals = []
    for i, fn in merges:
        if fn == "avg":
            finals.append(F.sum(F.col(f"__a{i}")).alias(f"__f{i}"))
            finals.append(F.sum(F.col(f"__a{i}n")).alias(f"__f{i}n"))
        else:
            finals.append(fn(F.col(f"__a{i}")).alias(f"__f{i}"))
    merged = (
        combined.distinct()
        if distinct_only
        else combined.groupBy(*knames).agg(*finals)
    )
    # per-group COUNT(DISTINCT c): pinned (group, value) pairs union
    # the boundary files' distinct pairs IN SPARK, count per group, and
    # null-safe-join back onto the merged frame (the SQL NULL group is
    # a join key too); groups with no pair coalesce to 0
    for i, (kind, col) in enumerate(aggs):
        if kind != "count_distinct":
            continue
        tname = types.get(col, "")
        vschema = T.StructType(
            list(schema.fields[: len(knames)])
            + [T.StructField("__v", _py_datatype(tname))]
        )
        pair_rows = [
            tuple(_render_meta(kv, gt) for kv, gt in zip(key, g_ts))
            + (_render_meta(v, tname),)
            for key, part in meta.items()
            for v in part[i]
        ]
        pairs = spark.createDataFrame(pair_rows, vschema)
        if boundary:
            bpairs = (
                bdf.where(pred)
                .select(*keysel, F.col(col).alias("__v"))
                .where(F.col("__v").isNotNull())
                .distinct()
            )
            pairs = pairs.unionByName(bpairs)
        rnames = [f"__r{j}" for j in range(len(knames))]
        cdc = (
            pairs.groupBy(*knames)
            .agg(F.count_distinct(F.col("__v")).alias(f"__f{i}"))
            .select(
                *[
                    F.col(kn).alias(rn)
                    for kn, rn in zip(knames, rnames)
                ],
                F.col(f"__f{i}"),
            )
        )
        cond = F.lit(True)
        for kn, rn in zip(knames, rnames):
            cond = cond & merged[kn].eqNullSafe(cdc[rn])
        merged = merged.join(cdc, cond, "left").drop(*rnames)
    outs = []
    for i, (kind, col) in enumerate(aggs):
        if kind == "key":
            src = F.col(knames[gnames.index(col)])
        elif kind == "count_distinct":
            src = F.coalesce(F.col(f"__f{i}"), F.lit(0))
        elif kind == "avg":
            cnt = F.coalesce(F.col(f"__f{i}n"), F.lit(0))
            src = F.when(cnt == 0, F.lit(None)).otherwise(
                F.col(f"__f{i}").cast("double") / cnt
            )
        else:
            src = F.col(f"__f{i}")
        outs.append(
            src.cast(info["out_all_types"][i]).alias(f"__o{i}")
        )
    frame = finish_frame(merged.select(*outs), info)
    telemetry = {
        "table": info["table"],
        "group_by": gnames,
        "aggs": [
            f"{k}({c})" if c is not None else "count(*)" for k, c in aggs
        ],
        "files_total": total,
        "files_pruned_in": len(rows),
        "files_contained": len(rows) - len(boundary),
        "files_scanned": len(boundary),
        "groups_metadata": len(meta),
    }
    if gs_col is not None:
        telemetry["files_group_stats"] = files_gs
        telemetry["group_stats_col"] = gs_col
    return frame, telemetry


def best_group_stats(
    spark: SparkSession, path: str, want: set[str], need: str | None = None
) -> tuple[str, dict] | None:
    """``(config key, slice rows by file)`` of the per-group stats key
    (possibly COMPOSITE, "a,b") pinning the most ``want`` columns, then
    the fewest extraneous components (each multiplies the slice count
    without pinning anything); it must hold ``need`` when given. None
    when no key overlaps ``want`` or its rows are unavailable."""
    from quack_reduce_spark.operators import zonemaps as _zm

    gcol, best_rank = None, (0, 0)
    for key in _zm.group_stats_config(path):
        comps = set(_zm._gs_components(key))
        if need is not None and need not in comps:
            continue
        ov = len(comps & want)
        rank = (ov, -(len(comps) - ov))
        if ov > 0 and rank > best_rank:
            best_rank, gcol = rank, key
    if gcol is None:
        return None
    by_file = _zm.group_stats_rows(spark, path, gcol)
    return None if by_file is None else (gcol, by_file)


def plan(ctx: PlanContext) -> tuple[DataFrame, dict] | None:
    """The aggregate rule: a query that passes this module's exactness
    gates is answered from the manifest plus a residual aggregate over
    only the BOUNDARY files — the reference dashboard's per-widget
    ``SELECT COUNT(*) .. WHERE range`` (dashboard.py:37-39) reads O(1)
    files on a clustered layout. ``files_read`` in the report counts
    those boundary files."""
    if not ctx.zm_tables:
        return None
    info = extract_scalar_agg(ctx.df, ctx.paths) or extract_grouped_agg(
        ctx.df, ctx.paths
    )
    if info is None:
        return None
    path, zcols = ctx.zm_tables[info["table"]]
    zset = set(zcols)
    if any(c is not None and c not in zset for k, c in info["aggs"] if k != "key"):
        return None  # MIN/MAX/COUNT/SUM/AVG/COUNT-DISTINCT(col) need stats
    if any(g["src"] not in zset for g in info["groups"]):
        # every grouping key's SOURCE column needs stats for the
        # per-file single-valuedness classification (a key may be
        # grouped on without being selected, and derived keys pin
        # through their source column's endpoints)
        return None
    got = prune_conjuncts(ctx.spark, path, zcols, info["conjuncts"])
    if got is None:
        return None  # un-maintained append: metadata can't answer
    rows, total = got
    # per-file PER-GROUP partials (written for designated low-NDV
    # columns) let both builders answer UNCLUSTERED layouts from
    # metadata: grouped queries need the column among the grouping
    # keys' sources; scalar queries profit when it carries a conjunct
    # or COUNT(DISTINCT) (slice-tight classification). Slice rows are
    # epoch-cached: zero I/O on an unchanged table after the first read.
    if info["groups"]:
        want = {g["src"] for g in info["groups"]}
    else:
        want = {c for c, _o, _v in info["conjuncts"]} | {
            c for k, c in info["aggs"] if k == "count_distinct"
        }
    group_stats = best_group_stats(ctx.spark, path, want)
    # the builders finish the frame themselves: HAVING + the peeled
    # ORDER BY / LIMIT re-apply over the full aggregate-output list
    # before the visible projection
    build = build_group_agg_frame if info["groups"] else build_agg_frame
    got = build(ctx.spark, path, info, rows, total, group_stats)
    if got is None:
        return None
    frame, tele = got
    return frame, {
        tele["table"]: {
            "files_read": tele["files_scanned"],
            "files_total": tele["files_total"],
            "agg_pushdown": tele,
        }
    }
