"""Star-join grouped aggregate pushdown (r16, VERDICT r15 #3): answer

    SELECT d.attr, COUNT(*) / SUM(f.x) / MIN/MAX/AVG(f.x) ...
    FROM fact f JOIN dim d ON f.k = d.k
    [WHERE fact- and/or dim-side predicates]
    GROUP BY d.attr [HAVING ...] [ORDER BY ... LIMIT ...]

with ZERO fact files scanned, from the fact manifest's per-(file,
join-key) slice partials joined driver-side to the evaluated dim
side. The reference's dashboard is single-table, so the single-table
aggregate pushdown (plans/agg_pushdown.py) covers its parity surface;
the TPC-H star shapes (q3/q5 style: big fact, small dim, GROUP BY a
dim attribute) previously scanned the fact — this module composes the
two existing pieces the r15 verdict named:

- the DPP machinery already proves the dim side is small, filtered,
  and deterministic, and evaluates it at plan time
  (plans/zonemap_pushdown.py's ``_dim_key_values``);
- the group-stats slice machinery already holds exact per-(file,
  join-key) partials for designated low-NDV columns and classifies
  every WHERE conjunct against the slice's own stats
  (plans/agg_pushdown.py's ``_classify_row`` / ``_pin_keys_row`` /
  ``_fold_partials``).

Soundness: an inner equi join emits one copy of each qualifying fact
row PER matching dim row, grouped by the dim attribute. Folding the
fact side to per-key partials first is exact because every supported
aggregate (COUNT/SUM/MIN/MAX/AVG as sum+count) is commutative and
per-key partials partition the qualifying fact rows; iterating DIM
ROWS (not distinct keys) and merging the key's fact partial once per
row reproduces the join multiplicity exactly; NULL keys are dropped
on both sides (an equi join never matches NULL).

Grouping keys may MIX sides (r16): a dim attribute rides the dim
evaluation; a bare FACT column joins the fact-side key tuple the
partials fold under — it must pin per file or per slice (the
composite-slice machinery: ``group_stats_cols=["k,c"]``), and the
output key re-interleaves both sides into the query's grouping order.

Declines (never wrong, only unaccelerated): a non-inner or non-equi
join, more than one equi pair (composite join keys — slices pin one
join key), grouping keys that are expressions or from neither side's
bare output, aggregates over dim columns or expressions,
COUNT(DISTINCT), fact conjuncts not exactly understood, a stale fact
manifest, ANY surviving fact file that neither pins (single-valued
key tuple, 'all' classification) nor fully resolves through slices,
over-cap key sets (> ``STAR_MAX_KEYS``) or dim rows
(> ``STAR_MAX_DIM_ROWS``), a nondeterministic or oversized dim side.

At 100 TB this is the star-schema dashboard answered at metadata
cost: the fact's slice table is manifest-sized (bounded by the
group-stats entry cap), the dim collect is bounded, and the whole
answer is O(#files + #slices + #dim rows) driver work with zero data
scanned. Reference: quack-reduce runs every such query as a full
DuckDB scan per invocation (app.py:51).
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.plans import PlanContext
from quack_reduce_spark.plans.agg_pushdown import (
    _MAX_GROUP_KEYS,
    _attr_id,
    _classify_row,
    _exact_conjunct,
    _fold_partials,
    _norm_conjuncts,
    _peel_sort_limit,
    _pin_keys_row,
    _py_datatype,
    _render_meta,
    _slice_pin,
    _split_and,
    _type_ok,
    best_group_stats,
    finish_frame,
)
from quack_reduce_spark.plans.zonemap_pushdown import (
    DPP_DIM_MAX_BYTES,
    _bare,
    _iter_nodes,
    prune_conjuncts,
)

# the fact partial table is driver-side: cap it at the DPP key cap —
# above this a grouped metadata answer stops being "metadata-sized"
STAR_MAX_KEYS = 4096
# dim rows collected at plan time (keys may repeat; attrs ride along)
STAR_MAX_DIM_ROWS = 8192

# Plan-time dim-row cache, the _DPP_KEY_CACHE discipline: a dashboard
# re-issuing the same star query must not re-run the dim subquery.
# Keyed on the CANONICALIZED dim subplan + the selected output
# positions; validated against a (mtime, size) stat snapshot of every
# file the dim subplan reads, so an overwritten/appended dim re-runs.
_STAR_DIM_CACHE: dict[tuple, tuple[tuple, list]] = {}
_STAR_DIM_CACHE_MAX = 128
STAR_COUNTS = {"dim_evals": 0, "dim_cache_hits": 0}

# join-key and grouping-attribute types whose values round-trip
# EXACTLY through manifest parquet collect / dim-side collect /
# createDataFrame rows — the spaces the driver-side equality join
# compares (decimals/timestamps have their own rendering spaces and
# decline in v1)
_STAR_KEY_TYPES = {"integer", "long", "short", "byte", "string", "date"}


def _strict_equi_pairs(cond: Any) -> list[tuple[Any, Any]] | None:
    """(left, right) attribute pairs when the join condition is
    EXACTLY a conjunction of bare-attribute equalities — None when any
    other predicate participates (unlike DPP's ``_equi_pairs``, which
    may soundly IGNORE extra conjuncts: here the condition defines the
    answer, so nothing may be ignored)."""
    out: list[tuple[Any, Any]] = []
    stack = [cond]
    while stack:
        e = stack.pop()
        name = e.getClass().getSimpleName()
        if name == "And":
            stack.extend((e.left(), e.right()))
        elif name == "EqualTo":
            l, r = e.left(), e.right()
            if (
                l.getClass().getSimpleName() != "AttributeReference"
                or r.getClass().getSimpleName() != "AttributeReference"
            ):
                return None
            out.append((l, r))
        else:
            return None
    return out


def _rel_chain(node: Any) -> tuple[Any, list, dict] | None:
    """Peel Project/Filter down to one LogicalRelation. Returns
    ``(relation, filter_conds, aliases)`` or None."""
    filter_conds: list = []
    aliases: dict[int, Any] = {}
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "Project":
            pl = node.projectList()
            for j in range(pl.size()):
                pe = pl.apply(j)
                if pe.getClass().getSimpleName() == "Alias":
                    aliases[int(pe.exprId().id())] = pe.child()
            node = node.child()
        elif cls == "Filter":
            filter_conds.append(node.condition())
            node = node.child()
        elif cls == "LogicalRelation":
            return node, filter_conds, aliases
        else:
            return None


def _plan_deterministic(plan: Any) -> bool:
    """Every expression of every node is deterministic — the dim side
    is evaluated ONCE at plan time, so a rand() anywhere in it would
    diverge from what execution would have drawn."""
    try:
        for m in _iter_nodes(plan):
            exprs = m.expressions()
            for j in range(exprs.size()):
                if not exprs.apply(j).deterministic():
                    return False
    except Exception:
        return False
    return True


def extract_star_group(
    df: DataFrame, paths_by_name: dict[str, str]
) -> list[dict]:
    """Parse ``df``'s optimized plan as the star-group shape above.
    Returns a LIST of candidate info dicts (same envelope as the
    grouped-agg extractor plus ``fact_key`` / ``dim_plan`` /
    ``dim_key_idx`` / ``dim_group_idx`` / ``fact_group_cols``), empty
    when nothing parses. Both join orientations are candidates — the
    fact is a side that parses as a Project/Filter chain over ONE
    registered table; the builder decides which (if either) can
    actually answer from its manifest."""
    root = df._jdf.queryExecution().optimizedPlan()
    opt, sort, limit = _peel_sort_limit(root)
    if sort is None:
        return []
    proj_ids: list[int] | None = None
    if opt.getClass().getSimpleName() == "Project":
        pl = opt.projectList()
        proj_ids = []
        for j in range(pl.size()):
            _pn, aid = _attr_id(pl.apply(j))
            if aid is None:
                return []
            proj_ids.append(aid)
        opt = opt.child()
    having_conds = []
    while opt.getClass().getSimpleName() == "Filter":
        having_conds.append(opt.condition())
        opt = opt.child()
    if opt.getClass().getSimpleName() != "Aggregate":
        return []
    gexprs = opt.groupingExpressions()
    if not (1 <= gexprs.size() <= _MAX_GROUP_KEYS):
        return []
    # Projects between Aggregate and Join are column pruning; an
    # Alias there would re-id attributes the group/agg parse needs
    # bare, so references into one simply fail the id lookups below
    node = opt.child()
    while node.getClass().getSimpleName() == "Project":
        node = node.child()
    if node.getClass().getSimpleName() != "Join":
        return []
    if node.joinType().toString() != "Inner":
        return []
    cond = node.condition()
    if not cond.isDefined():
        return []
    pairs = _strict_equi_pairs(cond.get())
    if pairs is None or len(pairs) != 1:
        return []  # composite equi keys: slices pin ONE key
    name_by_root = {_bare(p): n for n, p in paths_by_name.items()}

    out = []
    for fact_side, dim_side in (
        (node.left(), node.right()),
        (node.right(), node.left()),
    ):
        got = _try_orientation(
            df, fact_side, dim_side, pairs[0], opt, gexprs, name_by_root,
            having_conds, proj_ids, sort, limit,
        )
        if got is not None:
            out.append(got)
    return out


def _try_orientation(
    df: DataFrame,
    fact_side: Any,
    dim_side: Any,
    pair: tuple[Any, Any],
    agg_node: Any,
    gexprs: Any,
    name_by_root: dict[str, str],
    having_conds: list,
    proj_ids: list[int] | None,
    sort: list,
    limit: int | None,
) -> dict | None:
    chain = _rel_chain(fact_side)
    if chain is None:
        return None
    rel, filter_conds, _aliases = chain
    try:
        roots = rel.relation().location().rootPaths()
    except Exception:
        return None
    names = {
        name_by_root.get(_bare(roots.apply(j).toString()))
        for j in range(roots.size())
    }
    names.discard(None)
    if len(names) != 1:
        return None
    table = names.pop()
    rel_out = rel.output()
    by_id: dict[int, tuple[str, str]] = {}
    for i in range(rel_out.size()):
        a = rel_out.apply(i)
        by_id[int(a.exprId().id())] = (a.name(), a.dataType().typeName())

    # the fact table must appear EXACTLY once in the whole plan (a
    # self-join must not fold the other scan's rows), and never on
    # the dim side
    opt_root = df._jdf.queryExecution().optimizedPlan()
    n_seen = 0
    for m in _iter_nodes(opt_root):
        if m.getClass().getSimpleName() != "LogicalRelation":
            continue
        try:
            rts = m.relation().location().rootPaths()
        except Exception:
            continue
        ns = {
            name_by_root.get(_bare(rts.apply(j).toString()))
            for j in range(rts.size())
        }
        if table in ns:
            n_seen += 1
    if n_seen != 1:
        return None

    # join key: the pair attr on the fact relation, statted type
    la, ra = pair
    fact_attr, dim_attr = la, ra
    if int(fact_attr.exprId().id()) not in by_id:
        fact_attr, dim_attr = ra, la
    if int(fact_attr.exprId().id()) not in by_id:
        return None
    fk, fk_t = by_id[int(fact_attr.exprId().id())]
    if fk_t not in _STAR_KEY_TYPES:
        return None

    # dim output positions: join key + every grouping attribute
    dim_out = dim_side.output()
    dim_ids: dict[int, int] = {}
    for i in range(dim_out.size()):
        dim_ids[int(dim_out.apply(i).exprId().id())] = i
    dk_idx = dim_ids.get(int(dim_attr.exprId().id()))
    if dk_idx is None:
        return None
    if dim_attr.dataType().typeName() not in _STAR_KEY_TYPES:
        return None

    # grouping keys may come from EITHER side (r16 mixed grouping):
    # a dim attribute rides the dim evaluation; a FACT column must pin
    # per slice (the composite-slice machinery), so it joins the
    # fact-side key tuple the partials fold under
    groups: list[dict] = []
    gids: dict[int, str] = {}
    dim_group_idx: list[int] = []
    fact_group_cols: list[str] = []
    for j in range(gexprs.size()):
        ge = gexprs.apply(j)
        _gn, gid = _attr_id(ge)
        if gid is None or gid in gids:
            return None
        gtname = ge.dataType().typeName()
        if gtname not in _STAR_KEY_TYPES:
            return None
        gname = ge.name()
        if gid in dim_ids:
            side = "dim"
            dim_group_idx.append(dim_ids[gid])
        elif gid in by_id:
            side = "fact"
            fact_group_cols.append(by_id[gid][0])
        else:
            return None
        gids[gid] = gname
        groups.append({"kind": "col", "src": gname, "gname": gname,
                       "out_tname": gtname, "side": side})
    if len({g["gname"] for g in groups}) != len(groups):
        return None  # same-named keys would collide in the render

    # aggregates: keys, COUNT(*), COUNT/MIN/MAX/SUM/AVG over bare
    # FACT relation attributes
    aggs: list[tuple[str, str | None]] = []
    id_to_pos: dict[int, int] = {}
    aexprs = agg_node.aggregateExpressions()
    for i in range(aexprs.size()):
        ne = aexprs.apply(i)
        necls = ne.getClass().getSimpleName()
        try:
            id_to_pos[int(ne.exprId().id())] = i
        except Exception:
            pass
        if necls == "AttributeReference":
            gcol = gids.get(int(ne.exprId().id()))
            if gcol is None:
                return None
            aggs.append(("key", gcol))
            continue
        if necls != "Alias":
            return None
        ae = ne.child()
        aecls = ae.getClass().getSimpleName()
        if aecls == "AttributeReference":
            gcol = gids.get(int(ae.exprId().id()))
            if gcol is None:
                return None
            aggs.append(("key", gcol))
            continue
        if aecls != "AggregateExpression":
            return None
        if ae.filter().isDefined() or ae.isDistinct():
            return None
        fn = ae.aggregateFunction()
        fname = fn.getClass().getSimpleName()
        ch = fn.children()
        if fname not in ("Count", "Min", "Max", "Sum", "Average") or (
            ch.size() != 1
        ):
            return None
        c0 = ch.apply(0)
        if fname == "Count" and c0.getClass().getSimpleName() == "Literal":
            if c0.value() is None:
                return None
            aggs.append(("count_star", None))
            continue
        _an, aid = _attr_id(c0)
        if aid is None or aid not in by_id:
            return None  # dim-column / expression aggregate: decline
        col, tname = by_id[aid]
        if not _type_ok(tname):
            return None
        if fname == "Sum":
            from quack_reduce_spark.operators.zonemaps import (
                _sum_col_ok,
                _sum_wide_dec,
            )

            if not _sum_col_ok(tname) and _sum_wide_dec(tname) is None:
                return None
        if fname == "Average":
            if tname not in ("integer", "long", "short", "byte"):
                return None
            aggs.append(("avg", col))
            continue
        if fname in ("Min", "Max") and tname not in _STAR_KEY_TYPES | {
            "double", "float"
        }:
            return None  # row-rendered partials: portable types only
        aggs.append(("count" if fname == "Count" else fname.lower(), col))

    # fact-side conjuncts, every one exactly understood
    conjuncts: list[tuple[str, str, Any]] = []
    for cond in filter_conds:
        for leaf in _split_and(cond):
            got = _exact_conjunct(leaf)
            if got is None:
                return None
            aid, op, v = got
            if aid not in by_id:
                return None
            col, tname = by_id[aid]
            if not _type_ok(tname):
                return None
            conjuncts.append((col, op, v))

    # dim-side gates: deterministic, statically small
    if not _plan_deterministic(dim_side):
        return None
    try:
        if int(dim_side.stats().sizeInBytes()) > DPP_DIM_MAX_BYTES:
            return None
    except Exception:
        return None

    used = {c for c, _o, _v in conjuncts} | {
        c for k, c in aggs if c is not None and k != "key"
    } | {fk} | set(fact_group_cols)
    types = {nm: tn for nm, tn in by_id.values() if nm in used}
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
            return None
        sort_pos.append((pos, asc, nf))
    from quack_reduce_spark.plans.agg_pushdown import _HAVING_TYPES

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
                return None
            having.append((pos, op, v))
    from pyspark.sql.types import _parse_datatype_json_string

    out_all_types = [
        _parse_datatype_json_string(aexprs.apply(i).dataType().json())
        for i in range(aexprs.size())
    ]
    return {
        "table": table,
        "fact_key": fk,
        "fact_key_t": fk_t,
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
        "dim_plan": dim_side,
        "dim_key_idx": dk_idx,
        "dim_group_idx": dim_group_idx,
        "fact_group_cols": fact_group_cols,
    }


def _fresh_partials(aggs: list) -> list:
    return [
        [None, 0] if k == "avg"
        else (0 if k in ("count_star", "count") else None)
        for k, _c in aggs
    ]


def _merge_parts(aggs: list, dst: list, src: list) -> None:
    """Fold one fact key's partials into a group's accumulator — once
    PER DIM ROW, reproducing the inner join's row multiplicity."""
    for i, (kind, _c) in enumerate(aggs):
        if kind == "key":
            continue
        if kind in ("count_star", "count"):
            dst[i] += src[i]
        elif kind == "sum":
            if src[i] is not None:
                dst[i] = (0 if dst[i] is None else dst[i]) + src[i]
        elif kind == "avg":
            s, nn = src[i]
            if nn:
                dst[i] = [
                    (0 if dst[i][0] is None else dst[i][0]) + s,
                    dst[i][1] + nn,
                ]
        elif src[i] is not None:
            if dst[i] is None:
                dst[i] = src[i]
            elif kind == "min":
                dst[i] = min(dst[i], src[i])
            else:
                dst[i] = max(dst[i], src[i])


def build_star_frame(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    info: dict,
) -> tuple[DataFrame, dict] | None:
    """Resolve an :func:`extract_star_group` spec: fold the fact side
    to per-join-key partials ENTIRELY from manifest metadata (file
    pins + slice partials — any file that would need scanning
    declines), evaluate the bounded dim side once, merge driver-side,
    and return ``(result frame, telemetry)`` in the agg-pushdown
    envelope. None when any gate fails — the caller runs the plain
    plan."""
    import decimal as _pydec

    from pyspark.sql import types as T

    from quack_reduce_spark.operators.zonemaps import (
        _decimal_ps,
        _sum_wide_dec,
        _unscaled_decimal,
    )

    fk = info["fact_key"]
    aggs, conjuncts, types = info["aggs"], info["conjuncts"], info["types"]
    if fk not in stats_cols:
        return None
    got = prune_conjuncts(spark, path, stats_cols, info["conjuncts"])
    if got is None:
        return None  # un-maintained append: metadata can't be trusted
    rows, total = got

    # slice table keyed on the JOIN key (possibly composite — every
    # slice still pins fk exactly, just finer), covering the most
    # fact-side group columns (mixed grouping)
    fact_gcols = info.get("fact_group_cols") or []
    gcol, gs_by_file = best_group_stats(
        spark, path, {fk} | set(fact_gcols), need=fk
    ) or (None, {})

    # the fact-side key tuple the partials fold under: the join key
    # FIRST, then every fact grouping column (each must pin per file
    # or per slice — single-valued or all-NULL — or the path declines)
    fk_groups = [{
        "kind": "col", "src": fk, "gname": fk,
        "out_tname": info["fact_key_t"],
    }] + [
        {"kind": "col", "src": c, "gname": c,
         "out_tname": types.get(c, "")}
        for c in fact_gcols
    ]
    norm = _norm_conjuncts(conjuncts)
    fact_meta: dict[Any, list] = {}
    files_pinned = 0
    files_sliced = 0
    for r in rows:
        n_rows = int(r["n_rows"])
        if n_rows == 0:
            continue
        state = _classify_row(norm, r, n_rows)
        if state == "none":
            continue
        if state == "all":
            kv = _pin_keys_row(fk_groups, r, n_rows)
            if kv is not None:
                files_pinned += 1
                if kv[0] is not None:  # NULL keys never equi-join
                    part = fact_meta.setdefault(
                        tuple(kv), _fresh_partials(aggs)
                    )
                    if not _fold_partials(aggs, part, r, n_rows, {}):
                        return None
                    if len(fact_meta) > STAR_MAX_KEYS:
                        return None
                continue
        if gcol is None:
            return None  # would need a scan: zero-scan path only
        from quack_reduce_spark.operators.zonemaps import _unq

        slices = gs_by_file.get(_unq(_bare(r["file"])))
        # integrity gate: slices partition the file (r15 review)
        if slices is None or sum(
            int(g["n_rows"]) for g in slices
        ) != n_rows:
            return None
        for gr in slices:
            g_n = int(gr["n_rows"])
            if g_n == 0:
                continue
            g_state = _classify_row(norm, gr, g_n)
            if g_state == "none":
                continue
            if g_state != "all":
                return None  # a slice would need scanning: decline
            kv = _pin_keys_row(
                fk_groups, gr, g_n, gv_pin=_slice_pin(gcol, gr)
            )
            if kv is None:
                return None
            if kv[0] is None:
                continue
            part = fact_meta.setdefault(tuple(kv), _fresh_partials(aggs))
            if not _fold_partials(aggs, part, gr, g_n, {}):
                return None
            if len(fact_meta) > STAR_MAX_KEYS:
                return None
        files_sliced += 1

    # -- evaluate the dim side once, bounded, plan-time cached --------
    from quack_reduce_spark.plans.zonemap_pushdown import _dim_stat_snapshot

    n_gk = len(info["dim_group_idx"])
    snap = _dim_stat_snapshot(info["dim_plan"])
    ck = None
    dim_vals: list[tuple] | None = None
    if snap is not None:
        try:
            canon = info["dim_plan"].canonicalized().toString()
        except Exception:
            canon = None
        if canon is not None:
            ck = (
                canon, info["dim_key_idx"],
                tuple(info["dim_group_idx"]), STAR_MAX_DIM_ROWS,
            )
            hit = _STAR_DIM_CACHE.get(ck)
            if hit is not None and hit[0] == snap:
                STAR_COUNTS["dim_cache_hits"] += 1
                dim_vals = hit[1]
    if dim_vals is None:
        STAR_COUNTS["dim_evals"] += 1
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            df._jdf.sparkSession(), info["dim_plan"]
        )
        dim = DataFrame(jdf, spark)
        fresh = dim.toDF(*[f"c{i}" for i in range(len(dim.columns))])
        sel = [F.col(f"c{info['dim_key_idx']}").alias("__k")] + [
            F.col(f"c{j}").alias(f"__g{i}")
            for i, j in enumerate(info["dim_group_idx"])
        ]
        rows_d = fresh.select(*sel).limit(STAR_MAX_DIM_ROWS + 1).collect()
        if len(rows_d) > STAR_MAX_DIM_ROWS:
            return None
        dim_vals = [
            (r["__k"], tuple(r[f"__g{i}"] for i in range(n_gk)))
            for r in rows_d
        ]
        if ck is not None:
            if len(_STAR_DIM_CACHE) >= _STAR_DIM_CACHE_MAX:
                _STAR_DIM_CACHE.pop(next(iter(_STAR_DIM_CACHE)))
            _STAR_DIM_CACHE[ck] = (snap, dim_vals)

    # merge: per dim ROW (join multiplicity), per fact key tuple with
    # that join key; the output key interleaves dim attrs and fact
    # columns back into the query's grouping order
    by_fk: dict[Any, list[tuple[tuple, list]]] = {}
    for kv, part in fact_meta.items():
        by_fk.setdefault(kv[0], []).append((kv[1:], part))
    sides = [g["side"] for g in info["groups"]]

    def _assemble(dim_gvals: tuple, fact_gvals: tuple) -> tuple:
        di, fi, out = 0, 0, []
        for s in sides:
            if s == "dim":
                out.append(dim_gvals[di])
                di += 1
            else:
                out.append(fact_gvals[fi])
                fi += 1
        return tuple(out)

    group_parts: dict[tuple, list] = {}
    for k, dim_gvals in dim_vals:
        if k is None:
            continue
        for fact_gvals, fp in by_fk.get(k, ()):
            key = _assemble(dim_gvals, fact_gvals)
            dst = group_parts.setdefault(key, _fresh_partials(aggs))
            _merge_parts(aggs, dst, fp)

    # -- render the merged groups as the aggregate-output frame -------
    groups = info["groups"]
    g_ts = [g["out_tname"] for g in groups]
    gnames = [g["gname"] for g in groups]
    knames = [f"__k{j}" for j in range(len(groups))]
    fields = [
        T.StructField(kn, _py_datatype(gt))
        for kn, gt in zip(knames, g_ts)
    ]
    for i, (kind, col) in enumerate(aggs):
        if kind == "key":
            continue
        if kind in ("count_star", "count"):
            fields.append(T.StructField(f"__a{i}", T.LongType()))
        elif kind == "avg":
            fields.append(T.StructField(f"__a{i}", T.DecimalType(38, 0)))
            fields.append(T.StructField(f"__a{i}n", T.LongType()))
        elif kind == "sum":
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
                    T.StructField(
                        f"__a{i}", T.DecimalType(min(38, p + 10), ps_s)
                    )
                )
            else:
                fields.append(T.StructField(f"__a{i}", T.LongType()))
        else:
            fields.append(T.StructField(f"__a{i}", _py_datatype(types[col])))
    schema = T.StructType(fields)
    meta_rows = []
    for key, part in group_parts.items():
        row = [_render_meta(kv, gt) for kv, gt in zip(key, g_ts)]
        for i, (kind, col) in enumerate(aggs):
            if kind == "key":
                continue
            if kind == "avg":
                s, nn = part[i]
                row.append(None if s is None else _pydec.Decimal(int(s)))
                row.append(int(nn))
            elif kind == "sum":
                v = part[i]
                if v is not None:
                    ps_s = _unscaled_decimal(types.get(col, ""))
                    wide_s = _sum_wide_dec(types.get(col, ""))
                    if wide_s is not None:
                        if abs(v) >= _pydec.Decimal(10) ** (38 - wide_s):
                            return None
                    elif ps_s is not None:
                        v = _pydec.Decimal(int(v)).scaleb(-ps_s)
                    elif abs(int(v)) > 2 ** 63 - 1:
                        return None  # plain execution overflows too
                row.append(v)
            elif kind in ("count_star", "count"):
                row.append(int(part[i]))
            else:
                row.append(_render_meta(part[i], types[col]))
        meta_rows.append(tuple(row))
    meta_df = spark.createDataFrame(meta_rows, schema)
    outs = []
    for i, (kind, col) in enumerate(aggs):
        if kind == "key":
            src = F.col(knames[gnames.index(col)])
        elif kind == "avg":
            cnt = F.col(f"__a{i}n")
            src = F.when(cnt == 0, F.lit(None)).otherwise(
                F.col(f"__a{i}").cast("double") / cnt
            )
        else:
            src = F.col(f"__a{i}")
        outs.append(src.cast(info["out_all_types"][i]).alias(f"__o{i}"))
    frame = finish_frame(meta_df.select(*outs), info)
    telemetry = {
        "table": info["table"],
        "fact_key": fk,
        "group_by": gnames,
        "aggs": [
            f"{k}({c})" if c is not None else "count(*)" for k, c in aggs
        ],
        "files_total": total,
        "files_pruned_in": len(rows),
        "files_pinned": files_pinned,
        "files_group_stats": files_sliced,
        "files_scanned": 0,
        "fact_keys": len(fact_meta),
        "dim_rows": len(dim_vals),
        "groups_metadata": len(group_parts),
    }
    if gcol is not None:
        telemetry["group_stats_col"] = gcol
    return frame, telemetry


def plan(ctx: PlanContext) -> tuple[DataFrame, dict] | None:
    """The star rule: ``fact INNER JOIN dim ON one equi key, GROUP BY
    bare dim attributes, COUNT/SUM/MIN/MAX/AVG over bare fact columns``
    with every fact conjunct exactly understood is answered from the
    fact manifest's per-(file, join-key) slice partials merged
    driver-side with the evaluated dim rows — zero fact files
    scanned."""
    if not ctx.zm_tables:
        return None
    for info in extract_star_group(ctx.df, ctx.paths):
        if info["table"] not in ctx.zm_tables:
            continue
        path, zcols = ctx.zm_tables[info["table"]]
        got = build_star_frame(ctx.spark, ctx.df, path, zcols, info)
        if got is not None:
            frame, tele = got
            return frame, {
                tele["table"]: {
                    "files_read": 0,
                    "files_total": tele["files_total"],
                    "star_pushdown": tele,
                }
            }
    return None
