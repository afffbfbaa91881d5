"""Materialized-view query REWRITE for the SQL surface: answer an
aggregate query from a registered MV instead of the base table.

The reference dashboard re-issues the same aggregates per widget
refresh (``dashboard.py:37-39``); the classic warehouse answer
(Calcite/Snowflake/BigQuery MV rewrite) is to materialize the grouped
partials ONCE and transparently rewrite matching queries to read the
tiny MV. This module is the matching half:

- :func:`mv_spec` validates a CREATE query — it must be exactly the
  aggregate shape ``plans/agg_pushdown.py`` understands (one table,
  up to 4 group keys all selected, plain COUNT(*)/COUNT/SUM/MIN/MAX
  with mergeable/exact types, NO predicate) — and derives the
  canonical partial-column layout;
- :func:`try_rewrite` inspects a query's optimized plan with the SAME
  extractors and rewrites it over an MV when ALL hold:

  * same source table, and the MV is FRESH — its recorded source
    snapshot (one stat of the zone-map manifest list when the table
    has one: every commit rewrites ``_list.json`` last; else a capped
    per-file (mtime, size) listing) still matches the live table;
  * the query's group keys are a SUBSET of the MV's (any order; the
    empty subset is a global aggregate) — the classic ROLLUP
    containment: re-aggregating the finer per-group partials by the
    coarser keys is exact because every partial kind here is
    mergeable: counts/sums add, mins/maxes fold, AVG rebuilds as
    exact-sum / exact-count with one final double division (the
    agg-pushdown discipline);
  * every WHERE conjunct references an MV GROUP column — a predicate
    on a grouping column commutes with the grouping, so re-applying
    it to the MV rows (via agg_pushdown's exact
    ``residual_predicate``) filters exactly the rows the plain plan
    would aggregate, even when the filtered column is rolled away by
    the query's coarser grouping;
  * every query aggregate derives from a materialized partial:
    COUNT(*) -> SUM(n__star), COUNT(c) -> SUM(count__c),
    SUM(c) -> SUM(sum__c), MIN/MAX(c) -> MIN(mn)/MAX(mx),
    AVG(c) -> SUM(sum__c) / SUM(count__c).

Anything else declines and the query runs plain — a rewrite is an
accelerator, never a semantics change. Scalar COUNT rewrites coalesce
to 0 (SQL COUNT over an empty/fully-filtered table is 0, not NULL);
every other aggregate of no rows is NULL on both paths.

Exactness notes mirror the agg-pushdown gates the shared extractors
enforce: SUM only over integer-family/decimal(p<=18) columns (order-
independent), AVG only over the integer family; a double SUM/AVG never
reaches this module. Grouped rewrites touch exactly one MV row per
group, so even the folds are single-value.
"""

from __future__ import annotations

import json
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.plans import PlanContext

MV_FILE = "_mv.json"
# freshness fallback for un-manifested tables: stat at most this many
# files per check (a table past this should carry a zone-map manifest,
# whose single _list.json stat is the intended O(1) freshness token)
SNAP_MAX_FILES = 256
# zone-mapped tables additionally digest the live data-file NAMES into
# the token (one directory walk, no per-file stats): a raw append that
# bypasses manifest maintenance (plain df.write append) changes the
# name set even though _list.json is untouched — the exact case the
# agg-pushdown path declines via its file-count check. Past this cap
# the walk is abandoned and the table has no cheap token (sound: the
# MV then never rewrites until refreshed).
SNAP_LIST_MAX_FILES = 65536


def _cname(kind: str, col: str | None) -> str:
    """Canonical MV partial-column name for one aggregate spec."""
    return "n__star" if kind == "count_star" else f"{kind}__{col}"


# the ONLY aggregate kinds an MV may materialize: each has a mergeable
# partial. Everything else (avg -> materialize sum+count instead,
# count_distinct -> non-mergeable, future kinds) declines at creation.
_MV_KINDS = {"count_star", "count", "sum", "min", "max"}


def _parse_partial(cn: str) -> tuple[str, str | None] | None:
    """(kind, col) for a stored partial-column name, or None when the
    name is not one of the exactly-known layouts — callers must treat
    None as 'cannot merge/derive: full recompute or decline'. Explicit
    prefix matching (never ``partition('__')``): a hypothetical
    ``count_distinct__c`` must NOT parse as ``count('distinct__c')``."""
    if cn == "n__star":
        return "count_star", None
    for kind in ("count", "sum", "min", "max"):
        pre = f"{kind}__"
        if cn.startswith(pre):
            return kind, cn[len(pre):]
    return None


def _enc_conjuncts(conjuncts: list) -> list | None:
    """JSON-safe canonical form of extracted WHERE conjuncts
    ``(col, op, value)`` — values encode via the manifest's _enc
    discipline (epoch/unscaled ints pass through; dates/NTZ datetimes
    as tagged isoformat). None when any value is unencodable (the MV
    then declines creation — never a lossy predicate)."""
    from quack_reduce_spark.operators.zonemaps import _enc

    out = []
    for col, op, v in conjuncts:
        if op == "in":
            evs = [_enc(x) for x in sorted(v, key=repr)]
            if any(e is not None and e.get("t") == "?" for e in evs):
                return None
            out.append([col, op, evs])
        else:
            e = _enc(v)
            if e is not None and e.get("t") == "?":
                return None
            out.append([col, op, e])
    return sorted(out, key=repr)


def _dec_conjuncts(enc: list, types: dict) -> list | None:
    """Decode stored MV conjuncts back to ``(col, op, value)`` triples
    (frozensets for IN). None when any value decodes untrusted — the
    MV then never rewrites (sound)."""
    from quack_reduce_spark.operators.zonemaps import _UNKNOWN, _dec

    out = []
    for col, op, ev in enc or []:
        t = types.get(col)
        if op == "in":
            vals = [_dec(x, t) for x in ev]
            if any(v is _UNKNOWN for v in vals):
                return None
            out.append((col, op, frozenset(vals)))
        else:
            v = _dec(ev, t)
            if v is _UNKNOWN:
                return None
            out.append((col, op, v))
    return out


def source_snapshot(path: str, cache: dict | None = None) -> list | None:
    """JSON-safe freshness token for a source table. Zone-mapped
    tables stat ONE file — every manifest commit (write/append/
    optimize/OCC head flip) rewrites ``_zonemap/_list.json`` last, so
    its (mtime, size) is the table's change epoch (the same key the
    parsed-manifest caches trust). Plain tables fall back to a sorted
    per-file (mtime, size) listing capped at SNAP_MAX_FILES; None when
    no cheap token exists (the MV then never rewrites: sound).

    ``cache``: an optional per-QUERY memo ``{path: snapshot}`` — the
    engine passes one dict through a single ``sql()``/``df()`` call so
    the result-cache probe and every MV freshness check share ONE
    directory walk per table instead of repeating the (O(files)) name
    digest per consumer. The memo must never outlive the call: a
    longer-lived cache would mask commits."""
    if cache is not None and path in cache:
        return cache[path]
    snap = _source_snapshot_uncached(path)
    if cache is not None:
        cache[path] = snap
    return snap


def _source_snapshot_uncached(path: str) -> list | None:
    from quack_reduce_spark.lake import _fs_for, _join
    from quack_reduce_spark.operators.zonemaps import (
        LIST_FILE,
        ZONEMAP_DIR,
        _data_files,
    )

    fs = _fs_for(path)
    base = path.rstrip("/")
    lp = _join(_join(base, ZONEMAP_DIR), LIST_FILE)
    key = fs.stat_key(lp)
    if key is not None:
        # manifest commits rewrite _list.json, but a RAW append (plain
        # parquet write, no append_zonemap) does not: digest the live
        # file names so un-maintained appends/rewrites invalidate too
        try:
            files = _data_files(base)
        except Exception:
            return None
        if len(files) > SNAP_LIST_MAX_FILES:
            return None
        import hashlib as _hl

        sig = _hl.md5("\n".join(sorted(files)).encode()).hexdigest()
        return ["list", lp, list(key), len(files), sig]
    if not fs.is_dir(base):
        k = fs.stat_key(base)
        return None if k is None else ["files", [[base, list(k)]]]
    try:
        files = _data_files(base)
    except Exception:
        return None
    if not files or len(files) > SNAP_MAX_FILES:
        return None
    out = []
    for p in sorted(files):
        k = fs.stat_key(p)
        if k is None:
            return None
        out.append([p, list(k)])
    return ["files", out]


def mv_spec(df: DataFrame, paths_by_name: dict[str, str]) -> dict | None:
    """Validate a CREATE MATERIALIZED VIEW query and return its spec
    (source table, group column, canonical partial layout, source
    column types, canonical WHERE conjuncts) or None when the query
    falls outside the exactly-understood aggregate surface. A WHERE
    clause is accepted when every conjunct is exactly extractable and
    JSON-encodable — the classic filtered-aggregate MV (the reference's
    own dbt model is one, ``trips_by_pickup_location.sql:1-6``);
    rewrites then require the QUERY predicate to CONTAIN the MV's.
    No AVG (materialize SUM + COUNT instead; AVG *queries* rewrite
    over the pair) and no COUNT(DISTINCT) — its partial does not
    merge."""
    from quack_reduce_spark.plans.agg_pushdown import (
        extract_grouped_agg,
        extract_scalar_agg,
    )

    info = extract_grouped_agg(df, paths_by_name) or extract_scalar_agg(
        df, paths_by_name
    )
    if info is None:
        return None
    if info["having"] or info["limit"] is not None:
        return None  # a filtered/truncated grouping is not mergeable
    if info["visible"] != list(range(len(info["aggs"]))):
        return None  # hidden auxiliary outputs: not a plain layout
    if any(
        kind != "key" and kind not in _MV_KINDS
        for kind, _c in info["aggs"]
    ):
        return None  # avg / count_distinct / unknown: no mergeable partial
    if not any(kind != "key" for kind, _c in info["aggs"]):
        return None
    enc_conjs = _enc_conjuncts(info["conjuncts"])
    if enc_conjs is None:
        return None  # a predicate value the MV doc cannot round-trip
    # every grouping key must be materialized (a key grouped on but
    # projected out would make the MV rows non-reaggregable)
    selected_keys = {c for k, c in info["aggs"] if k == "key"}
    if {g["gname"] for g in info["groups"]} - selected_keys:
        return None
    by_gname = {g["gname"]: g for g in info["groups"]}
    columns: dict[str, str] = {}
    select: list = []
    groups_out: list[dict] = []
    seen_keys: set[str] = set()
    for (kind, col), (oname, _t) in zip(info["aggs"], info["out"]):
        if kind == "key":
            if col in seen_keys:
                continue  # a key selected twice: materialize once
            seen_keys.add(col)
            g = by_gname[col]
            # derived (bucket) keys store under a sanitized physical
            # name; plain keys keep the source column name
            phys = (
                g["src"]
                if g["kind"] == "col"
                else f"g__{g['kind']}__{g['src']}"
            )
            groups_out.append({**g, "col": phys})
            select.append(F.col(oname).alias(phys))
            continue
        cn = _cname(kind, col)
        if cn in columns:
            continue  # duplicate aggregate spec: materialize once
        columns[cn] = oname
        select.append(F.col(oname).alias(cn))
    return {
        "table": info["table"],
        "groups": groups_out,
        "partials": sorted(columns),
        "types": info["types"],
        "conjuncts": enc_conjs,
        "_select": select,
    }


# bucket-granularity lattice: a query key of kind K_q derives from an
# MV key of kind K_m over the SAME source column when K_q is coarser-
# or-equal — each fine bucket maps to exactly ONE coarse bucket, so
# re-bucketing the MV rows is exact set algebra. 'col' (the raw value)
# is the finest granularity.
_BUCKET_ORDER = {"col": 0, "to_date": 1, "trunc_month": 2,
                 "trunc_year": 3, "year": 4}


def _rebucket_col(q_kind: str, mv_kind: str, c):
    """Column deriving the QUERY's bucket from the MV's stored key
    column. Callers pre-check the lattice; mv kinds store date values
    except 'col' (raw date / NTZ timestamp, cast first)."""
    if q_kind == mv_kind:
        return c
    d = c.cast("date") if mv_kind == "col" else c
    if q_kind == "to_date":
        return d
    if q_kind == "trunc_month":
        return F.trunc(d, "month")
    if q_kind == "trunc_year":
        return F.trunc(d, "year")
    return F.year(d)  # year


def _match_group(qg: dict, mv_groups: list[dict]) -> dict | None:
    """The MV key spec the query group ``qg`` derives from (exact
    gname match, or a strictly coarser bucket over the same source),
    or None."""
    for mg in mv_groups:
        if mg["gname"] == qg["gname"]:
            return mg
    if qg["kind"] == "col":
        return None  # a raw value never derives from a bucket
    for mg in mv_groups:
        if (
            mg["src"] == qg["src"]
            and _BUCKET_ORDER.get(qg["kind"], -1)
            > _BUCKET_ORDER.get(mg["kind"], 99)
        ):
            return mg
    return None


def load_mv(path: str) -> dict | None:
    """Parse ``<mv path>/_mv.json``; None when absent/unreadable."""
    from quack_reduce_spark.lake import _fs_for, _join

    p = _join(path.rstrip("/"), MV_FILE)
    fs = _fs_for(p)
    try:
        return json.loads(fs.read_text(p))
    except Exception:
        return None


def save_mv(path: str, meta: dict) -> None:
    from quack_reduce_spark.lake import _fs_for, _join

    p = _join(path.rstrip("/"), MV_FILE)
    doc = {k: v for k, v in meta.items() if not k.startswith("_")}
    _fs_for(p).write_text_atomic(p, json.dumps(doc, indent=1, sort_keys=True))


def try_rewrite(
    spark: SparkSession,
    df: DataFrame,
    paths_by_name: dict[str, str],
    mvs: dict[str, dict],
    snap_cache: dict | None = None,
) -> tuple[DataFrame, dict] | None:
    """Rewrite ``df`` over the first matching MV; None when no MV
    matches (the query runs plain). An MV whose source has APPENDED
    since its snapshot still rewrites via COMPENSATION — MV partials
    union an aggregate over only the delta files — when the recorded
    file set is a verified-unchanged prefix of the live one (see
    :func:`_compensation_delta`); any other drift declines."""
    from quack_reduce_spark.plans.agg_pushdown import (
        extract_grouped_agg,
        extract_scalar_agg,
    )

    info = extract_grouped_agg(df, paths_by_name) or extract_scalar_agg(
        df, paths_by_name
    )
    if info is None:
        return None
    for name, mv in mvs.items():
        if mv["table"] != info["table"]:
            continue
        # the query's RELATION must be the exact directory the MV
        # aggregated: a versioned table re-resolves to a NEW immutable
        # version dir on every maintenance commit while the MV's
        # recorded source dir stays byte-stable — matching by table
        # NAME alone would keep "fresh"-looking rewrites serving the
        # pre-commit snapshot forever (r15). Plain-dir tables resolve
        # to themselves, so this is an equality no-op for them.
        if paths_by_name.get(info["table"]) != mv.get("source_path"):
            continue
        mv_groups = _norm_groups(mv["groups"])
        # ROLLUP containment across BOTH lattices: every query key must
        # be an MV key or a coarser bucket of one (each fine bucket
        # maps to exactly one coarse bucket), and re-aggregating the
        # finer partials is exact because every partial kind merges
        matches = [
            (qg, _match_group(qg, mv_groups)) for qg in info["groups"]
        ]
        if any(mg is None for _qg, mg in matches):
            continue
        # predicate CONTAINMENT: the MV's own conjuncts must all appear
        # verbatim in the query's (the MV rows already satisfy them);
        # the residual (query-only) conjuncts re-apply over the MV rows
        # and must hit PLAIN (raw-value) MV keys — only those commute
        # with the grouping exactly
        mv_conjs = _dec_conjuncts(mv.get("conjuncts"), mv.get("types") or {})
        if mv_conjs is None:
            continue  # undecodable stored predicate: never rewrite
        q_conjs = list(info["conjuncts"])
        mv_set = set(mv_conjs)
        if not mv_set <= set(q_conjs):
            continue  # query is WIDER than the MV's row set
        residual = [c for c in q_conjs if c not in mv_set]
        plain_srcs = {g["src"] for g in mv_groups if g["kind"] == "col"}
        if any(c not in plain_srcs for c, _o, _v in residual):
            continue
        partials = set(mv["partials"])
        ok = True
        for kind, col in info["aggs"]:
            if kind == "key":
                continue
            if kind == "avg":
                need = {_cname("sum", col), _cname("count", col)}
            else:
                need = {_cname(kind, col)}
            if not need <= partials:
                ok = False
                break
        if not ok:
            continue
        # freshness LAST (it stats the filesystem; shape checks are
        # free): exact snapshot -> no delta; append-only drift with a
        # verified-unchanged prefix -> compensation delta; else decline
        if mv.get("snapshot") is None:
            continue
        live = source_snapshot(mv["source_path"], snap_cache)
        if live is None:
            continue
        if live == mv["snapshot"]:
            delta: list[str] | None = []
        else:
            delta = _compensation_delta(mv, live)
            if delta is None:
                continue
        return _build(spark, info, mv, name, matches, residual, delta)
    return None


# compensation verifies the recorded files are byte-unchanged via one
# stat each; past this many recorded files the per-query verification
# cost stops being metadata-cheap, so compensation declines (a table
# that large should refresh on a schedule instead)
COMP_STAT_MAX_FILES = 1024


def _compensation_delta(mv: dict, live_snap: list) -> list[str] | None:
    """Delta file list for an append-only-drifted MV, or None when
    compensation is unsound/unavailable. Requirements: the creation-
    time file listing AND per-file (mtime, size) stats were recorded;
    every recorded file still exists with an unchanged stat (an append
    never rewrites existing files — any touched file means compaction/
    overwrite, where partials can shrink and no union can compensate);
    the live listing is capturable. The verified delta is cached on
    the mv entry keyed by the live snapshot token, so a dashboard
    re-issuing the query between refreshes verifies ONCE per source
    commit, not once per query."""
    import json as _json

    from quack_reduce_spark.lake import _fs_for

    live_key = _json.dumps(live_snap, sort_keys=True)
    cached = mv.get("_comp")
    if cached is not None and cached[0] == live_key:
        return cached[1]
    old = mv.get("files")
    old_stat = mv.get("files_stat")
    if not old or not old_stat or len(old) > COMP_STAT_MAX_FILES:
        return None
    from quack_reduce_spark.operators.zonemaps import _data_files

    src = mv["source_path"].rstrip("/")
    fs = _fs_for(src)
    try:
        cur = sorted(_data_files(src)) if fs.is_dir(src) else [src]
    except Exception:
        return None
    cur_set = set(cur)
    if set(old) - cur_set:
        return None  # a recorded file disappeared: shrinkage possible
    for f in old:
        k = fs.stat_key(f)
        st = old_stat.get(f)
        if k is None or st is None or list(k) != list(st):
            return None  # a recorded file changed: not an append
    delta = sorted(cur_set - set(old))
    mv["_comp"] = (live_key, delta)
    return delta


def delta_partial_frame(
    spark: SparkSession, mv: dict, files: list[str]
) -> DataFrame | None:
    """Aggregate the given source DELTA files into the MV's exact
    partial layout (group key columns under their stored physical
    names, one column per partial), applying the MV's own WHERE
    conjuncts first. None when any stored partial name or group kind
    is unrecognized — callers must then fall back to a full recompute
    (refresh) or decline (rewrite compensation). Shared by the
    incremental-refresh and stale-compensation paths so both merge
    the same arithmetic."""
    from quack_reduce_spark.plans.agg_pushdown import (
        _derive_column,
        residual_predicate,
    )

    delta = spark.read.option("basePath", mv["source_path"]).parquet(*files)
    mv_conjs = _dec_conjuncts(mv.get("conjuncts"), mv.get("types") or {})
    if mv_conjs is None:
        return None
    if mv_conjs:
        delta = delta.where(
            residual_predicate(mv_conjs, dict(mv.get("types") or {}))
        )
    gspecs = _norm_groups(mv["groups"])
    delta_keys = [
        _derive_column({"kind": g["kind"], "src": g["src"]}).alias(g["col"])
        for g in gspecs
    ]
    aggs = []
    for cn in mv["partials"]:
        parsed = _parse_partial(cn)
        if parsed is None:
            return None  # unknown partial layout: cannot merge
        kind, col = parsed
        if kind == "count_star":
            aggs.append(F.count(F.lit(1)).alias(cn))
        elif kind == "count":
            aggs.append(F.count(F.col(col)).alias(cn))
        elif kind == "sum":
            aggs.append(F.sum(F.col(col)).alias(cn))
        elif kind == "min":
            aggs.append(F.min(F.col(col)).alias(cn))
        else:
            aggs.append(F.max(F.col(col)).alias(cn))
    return (
        delta.groupBy(*delta_keys).agg(*aggs)
        if gspecs
        else delta.agg(*aggs)
    )


def partial_merge_exprs(partials: list[str]) -> list | None:
    """Final-fold expressions re-aggregating stored partial columns
    (counts/sums add, mins/maxes fold), or None when any name is
    unrecognized."""
    out = []
    for cn in partials:
        parsed = _parse_partial(cn)
        if parsed is None:
            return None
        kind, _col = parsed
        if kind in ("count_star", "count", "sum"):
            out.append(F.sum(F.col(cn)).alias(cn))
        elif kind == "min":
            out.append(F.min(F.col(cn)).alias(cn))
        else:
            out.append(F.max(F.col(cn)).alias(cn))
    return out


def _norm_groups(gs: list) -> list[dict]:
    """Normalize group entries: pre-bucket _mv.json files stored bare
    column-name strings."""
    return [
        g if isinstance(g, dict)
        else {"kind": "col", "src": g, "gname": g, "col": g}
        for g in gs
    ]


def _build(
    spark: SparkSession,
    info: dict,
    mv: dict,
    name: str,
    matches: list,
    residual: list,
    delta: list[str],
) -> tuple[DataFrame, dict]:
    from quack_reduce_spark.plans.agg_pushdown import (
        finish_frame,
        residual_predicate,
    )

    grouped = bool(info["groups"])
    base = spark.read.parquet(mv["path"])
    if delta:
        # stale-compensation: the source appended since the snapshot —
        # aggregate ONLY the delta files into the same partial layout
        # (MV predicate applied) and union; every partial kind merges,
        # so MV (+) delta equals a fresh full materialization
        dagg = delta_partial_frame(spark, mv, delta)
        if dagg is None:
            raise ValueError("unmergeable MV partial layout")
        base = base.unionByName(
            dagg.select(
                *[
                    F.col(f.name).cast(f.dataType)
                    for f in base.schema.fields
                ]
            )
        )
    # query-group key columns, rebucketed from the matched MV keys and
    # aliased __k{j} in query-group order
    key_exprs = [
        _rebucket_col(qg["kind"], mg["kind"], F.col(mg["col"])).alias(
            f"__k{j}"
        )
        for j, (qg, mg) in enumerate(matches)
    ]
    key_by_gname = {
        qg["gname"]: f"__k{j}" for j, (qg, _mg) in enumerate(matches)
    }
    if residual:
        # only the QUERY-minus-MV conjuncts re-apply: the MV rows (and
        # the delta aggregate) already satisfy the MV's own predicate.
        # Group-column types recorded at MV creation keep the epoch-
        # space discipline for session-zoned timestamps (group keys
        # are currently zone-free types, but the predicate builder is
        # shared with the agg path and handles all of them)
        types = dict(mv.get("types") or {})
        types.update(info["types"])
        base = base.where(residual_predicate(residual, types))
    partial_exprs: list = []
    for i, (kind, col) in enumerate(info["aggs"]):
        if kind == "key":
            continue
        if kind in ("count_star", "count"):
            partial_exprs.append(
                F.sum(F.col(_cname(kind, col))).alias(f"__p{i}")
            )
        elif kind == "sum":
            partial_exprs.append(
                F.sum(F.col(_cname("sum", col))).alias(f"__p{i}")
            )
        elif kind == "min":
            partial_exprs.append(
                F.min(F.col(_cname("min", col))).alias(f"__p{i}")
            )
        elif kind == "max":
            partial_exprs.append(
                F.max(F.col(_cname("max", col))).alias(f"__p{i}")
            )
        else:  # avg
            partial_exprs.append(
                F.sum(F.col(_cname("sum", col)).cast("decimal(38,0)"))
                .alias(f"__p{i}s")
            )
            partial_exprs.append(
                F.sum(F.col(_cname("count", col))).alias(f"__p{i}n")
            )
    if not partial_exprs:
        # all-keys query (SELECT DISTINCT k): the MV's (rebucketed)
        # groups ARE the distinct key tuples of the source
        agged = base.select(*key_exprs).distinct()
    elif grouped:
        agged = base.groupBy(*key_exprs).agg(*partial_exprs)
    else:
        agged = base.agg(*partial_exprs)
    outs = []
    for i, (kind, col) in enumerate(info["aggs"]):
        if kind == "key":
            expr = F.col(key_by_gname[col])
        elif kind in ("count_star", "count"):
            # COUNT of no rows is 0: a scalar rewrite over an empty /
            # fully-filtered MV sums nothing and must not emit NULL
            expr = F.coalesce(F.col(f"__p{i}"), F.lit(0))
        elif kind == "avg":
            cnt = F.coalesce(F.col(f"__p{i}n"), F.lit(0))
            expr = F.when(cnt == 0, F.lit(None)).otherwise(
                F.col(f"__p{i}s").cast("double") / cnt
            )
        else:
            expr = F.col(f"__p{i}")
        outs.append(
            expr.cast(info["out_all_types"][i]).alias(f"__o{i}")
        )
    frame = finish_frame(agged.select(*outs), info)
    telemetry = {
        "view": name,
        "table": info["table"],
        "mv_path": mv["path"],
        "grouped": grouped,
        "aggs": [
            f"{k}({c})" if c is not None else "count(*)"
            for k, c in info["aggs"]
        ],
    }
    if delta:
        telemetry["compensation_delta_files"] = len(delta)
    if mv.get("conjuncts"):
        telemetry["mv_predicate"] = True
    return frame, telemetry


def plan(ctx: PlanContext) -> tuple[DataFrame, dict] | None:
    """The MV rule: an aggregate the manifest could not answer
    (un-maintained appends, AVG over a multi-valued layout, no manifest
    at all) re-plans over a registered FRESH MV's partials instead of
    the base table."""
    if not ctx.mvs:
        return None
    got = try_rewrite(ctx.spark, ctx.df, ctx.all_paths, ctx.mvs, ctx.snap_cache)
    if got is None:
        return None
    frame, tele = got
    return frame, {tele["table"]: {"mv_rewrite": tele}}
