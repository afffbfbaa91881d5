"""The engine: stateless SQL over a Parquet data lake.

Re-expresses the reference's Lambda handler
(``/root/reference/src/serverless/app.py:27-85``) as a library class:

- ``register(name, path)``  — path-addressed tables, no catalog
  (reference tables are raw S3 paths, ``quack.py:145``; a registry
  replaces path-typing, listed as future work at ``README.md:190``).
- ``sql(query, limit)``     — run arbitrary SQL, cap the result
  (``app.py:51,54``), return a JSON-safe envelope
  ``{metadata: {timeMs, eventId, query, warm}, data: {records}}``
  (``app.py:70-85``) with timestamps stringified (``app.py:61-67``).
- ``df(query)``             — the same query surface returning a lazy
  DataFrame (the scale path: nothing is collected).

Unlike the reference — which executes the FULL query and then truncates
the pandas result (``app.py:51-54``) — ``limit`` here is pushed into
the plan (Spark ``CollectLimitExec`` / ``TakeOrderedAndProject``), so
the cap also bounds compute, not just the payload.
"""

from __future__ import annotations

import logging
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark import session as _session
from quack_reduce_spark.plans import (
    PlanContext,
    agg_pushdown,
    mv_rewrite,
    star_pushdown,
    topk_pushdown,
    zonemap_pushdown,
)

DEFAULT_LIMIT = 20  # reference default row cap, app.py:9

_log = logging.getLogger(__name__)

# the metadata rules, tried in order until one answers the query
RULES = (
    ("agg_pushdown", agg_pushdown.plan),
    ("star_pushdown", star_pushdown.plan),
    ("mv_rewrite", mv_rewrite.plan),
    ("topk_pushdown", topk_pushdown.plan),
    ("zonemap_pushdown", zonemap_pushdown.plan),
)


@dataclass
class QueryResult:
    """Envelope mirroring the reference's wrap_response (app.py:70-85)."""

    records: list[dict[str, Any]]
    metadata: dict[str, Any]

    def to_dict(self) -> dict[str, Any]:
        return {"metadata": self.metadata, "data": {"records": self.records}}


@dataclass
class Engine:
    """A stateless lake query engine on a (warm-reused) SparkSession."""

    spark: SparkSession | None = None
    tables: dict[str, str] = field(default_factory=dict)
    # query RESULT cache for the envelope surface (the reference's
    # benchmark "cached" mode, benchmark.py:254-265, with real
    # invalidation): identical (query, limit) over unchanged source
    # tables returns the stored records without executing. Set False
    # to disable.
    result_cache: bool = True

    def __post_init__(self) -> None:
        import threading

        self._was_warm = _session.is_warm() or self.spark is not None
        self._table_meta: dict[str, dict] = {}
        self._mvs: dict[str, dict] = {}
        # key -> (snaps, records, approx_bytes)
        self._results: "dict[tuple, tuple]" = {}
        self._results_bytes = 0
        self._results_lock = threading.Lock()
        # bumped by create_view and by any DDL/DML Command through
        # sql(): part of every result-cache key, so redefining a view
        # (or any catalog mutation) orphans all earlier entries — the
        # same query text no longer means the same plan
        self._view_epoch = 0
        # result-cache hit/miss counts and cached bytes, updated under
        # _results_lock
        self.cache_counts = {"hits": 0, "misses": 0, "bytes": 0}
        # the calling thread's telemetry behind the last_* properties:
        # a sql_many worker never reads another query's report
        self._last = threading.local()
        # guards every temp-view binding: temp views are
        # session-global, so a concurrent sql_many worker must not
        # plan against another query's pruned rebinding, and a
        # register must not land inside one (the rebind's restore
        # would undo it)
        self._plan_lock = threading.Lock()
        self._reg_counter = 0  # register epoch, bumped under _plan_lock
        if self.spark is None:
            self.spark = _session.get_spark()

    # -- the calling thread's telemetry of its last call ---------------

    @property
    def last_zonemap_report(self) -> dict[str, dict]:
        """Per-table report of this thread's last planned ``sql`` /
        ``df`` / ``explain`` ({} when no rule fired)."""
        return getattr(self._last, "zonemap_report", {})

    @property
    def last_agg_plan(self) -> dict | None:
        return _fired(self.last_zonemap_report, "agg_pushdown")

    @property
    def last_star_plan(self) -> dict | None:
        return _fired(self.last_zonemap_report, "star_pushdown")

    @property
    def last_mv_rewrite(self) -> dict | None:
        return _fired(self.last_zonemap_report, "mv_rewrite")

    @property
    def last_result_cache(self) -> dict | None:
        return getattr(self._last, "result_cache", None)

    @property
    def last_count_plan(self) -> dict | None:
        return getattr(self._last, "count_plan", None)

    @property
    def last_join_plan(self) -> dict | None:
        return getattr(self._last, "join_plan", None)

    # -- table registry (path-addressed lake, no persistent catalog) ----

    def register(self, name: str, path: str, fmt: str = "parquet", **options: str) -> DataFrame:
        """Register a lake path (file or hive-partitioned dir) as a view.

        Partition discovery is automatic for directories, matching the
        reference's HIVE_PARTITIONING=1 scans (benchmark.py:138,166);
        nanos-timestamp parquet is normalized (see sources module).

        Tables carrying a zone-map manifest (``_zonemap/`` — written by
        :func:`operators.zonemaps.write_zonemap` or
        ``write_versioned(stats_cols=...)``) are detected here; range
        predicates on their stats columns in subsequent ``sql()``/
        ``df()`` calls plan from the manifest automatically (see
        plans/zonemap_pushdown.py).
        """
        df, meta = self._read_registration(path, fmt, options)
        # bind under the plan lock: a query inside its rebind window
        # restores the views it captured, which would undo a binding
        # made beside it (every later answer would miss the new files)
        with self._plan_lock:
            self._bind(name, path, df, meta)
        return df

    def _read_registration(
        self, path: str, fmt: str, options: dict
    ) -> tuple[DataFrame, dict]:
        """The frame and table metadata ``register`` binds — file
        listing, schema and manifest detection, all I/O, no view."""
        from quack_reduce_spark import lake
        from quack_reduce_spark.sources import read_table

        df = read_table(self.spark, path, fmt=fmt, **options)
        meta: dict = {"fmt": fmt, "options": dict(options)}
        resolved = lake.resolve(path)
        if resolved != path:
            # versioned table: a temp view binds to the files of ONE
            # snapshot, so remember which — sql()/df() re-resolve the
            # pointer and re-register when a maintenance commit moved it
            meta["resolved"] = resolved
        if fmt == "parquet":
            from quack_reduce_spark.operators import zonemaps as _zm

            if _zm.has_zonemap(resolved):
                # grouped (v2) manifests record their columns in the
                # manifest list; legacy layouts gain auto-pushdown on
                # their first append_zonemap (in-place upgrade)
                cols = _zm.zonemap_cols(resolved)
                if cols:
                    meta["zonemap_cols"] = cols
        return df, meta

    def _bind(self, name: str, path: str, df: DataFrame, meta: dict) -> None:
        """Bind a registration's view and table metadata. The caller
        holds ``_plan_lock``."""
        df.createOrReplaceTempView(name)
        self.tables[name] = path
        # registration epoch: result-cache tokens include it, so
        # re-registering (rebinding the view to a live file listing)
        # invalidates results computed against the previous binding
        self._reg_counter += 1
        self._table_meta[name] = {**meta, "epoch": self._reg_counter}

    def register_dir(self, root: str, names: list[str], fmt: str = "parquet") -> None:
        """Register ``root/{name}.{fmt}`` for each name (fixture
        layout). ``fmt="versioned"`` registers extension-less versioned
        table roots (lake.py pointer layout — read_table resolves the
        live snapshot); external table formats (Delta/Iceberg) are out
        of scope here, matching the reference's own future-work note
        (README.md:190)."""
        ext = "" if fmt == "versioned" else f".{fmt}"
        read_fmt = "parquet" if fmt == "versioned" else fmt
        for name in names:
            self.register(name, f"{root.rstrip('/')}/{name}{ext}", fmt=read_fmt)

    CATALOG_FILE = "_catalog.json"

    def save_catalog(self, root: str) -> str:
        """Persist the current registrations as a JSON catalog at
        ``root/_catalog.json`` and return its path. The reference
        lists catalog services as future work (``README.md:190``);
        this is the minimal durable form that actually closes the
        loop: a name → {path, fmt, options} manifest a fresh session
        re-attaches with :meth:`load_catalog`. No server, no lock —
        the write is a single atomic file swap through the same
        Hadoop-FileSystem helpers the versioned-table pointer uses,
        so it is object-store-safe and last-writer-wins (the commit
        model the rest of the lake layer already promises)."""
        import json as _json

        from quack_reduce_spark import lake

        entries = {
            name: {"path": self.tables[name], **self._table_meta.get(name, {})}
            for name in sorted(self.tables)
        }
        fs = lake._fs_for(root)
        fs.mkdirs(root)
        target = f"{root.rstrip('/')}/{self.CATALOG_FILE}"
        fs.write_text_atomic(
            target, _json.dumps({"version": 1, "tables": entries}, indent=1)
        )
        return target

    def load_catalog(self, root: str) -> list[str]:
        """Attach every table recorded by :meth:`save_catalog` at
        ``root`` and return the registered names, sorted. Unknown
        catalog versions are rejected rather than half-read."""
        import json as _json

        from quack_reduce_spark import lake

        fs = lake._fs_for(root)
        target = f"{root.rstrip('/')}/{self.CATALOG_FILE}"
        if not fs.is_file(target):
            raise FileNotFoundError(f"no {self.CATALOG_FILE} at {root}")
        doc = _json.loads(fs.read_text(target))
        if doc.get("version") != 1:
            raise ValueError(f"unsupported catalog version: {doc.get('version')!r}")
        for name, entry in sorted(doc["tables"].items()):
            self.register(
                name,
                entry["path"],
                fmt=entry.get("fmt", "parquet"),
                **entry.get("options", {}),
            )
        return sorted(doc["tables"])

    def register_lake(self, root: str) -> list[str]:
        """Auto-discover a lake directory: every ``*.parquet`` file
        becomes a view named after its stem, and every subdirectory
        containing parquet (flat or hive-partitioned) becomes a view
        named after the directory. The reference's no-catalog,
        path-addressed model (README.md:190) with the path typing
        removed. Returns the registered names, sorted."""
        import os

        registered = []
        root = root.rstrip("/")
        for entry in sorted(os.listdir(root)):
            full = os.path.join(root, entry)
            if entry.endswith(".parquet") and os.path.isfile(full):
                name = entry[: -len(".parquet")]
                self.register(name, full)
                registered.append(name)
            elif os.path.isdir(full):
                has_parquet = any(
                    f.endswith(".parquet")
                    for _, _, files in os.walk(full)
                    for f in files
                )
                if has_parquet:
                    self.register(entry, full)
                    registered.append(entry)
        return registered

    # -- query surface --------------------------------------------------

    def _refresh_versioned_views(self) -> None:
        """Rebind any registered view whose versioned table has moved
        its live pointer since registration (merge/compact/delete/
        rollback all commit new versions; a temp view is bound to one
        snapshot's files). Cost: one pointer-file read per REGISTERED
        VERSIONED table per query — zero for plain tables."""
        from quack_reduce_spark import lake

        for name, meta in list(self._table_meta.items()):
            cached = meta.get("resolved")
            if cached is None:
                continue
            live = lake.resolve(self.tables[name])
            if live != cached:
                self.register(
                    name, self.tables[name], fmt=meta["fmt"], **meta["options"]
                )

    def df(self, query: str) -> DataFrame:
        """Arbitrary SQL → lazy DataFrame (the reference's app.py:51).
        Predicates on zone-mapped tables' stats columns — ranges,
        IN-lists, ORs of ranges, LIKE-prefixes, IS [NOT] NULL (see
        plans/zonemap_pushdown.py for the full coverage) — plan from
        the manifest (file skipping) automatically, and a shuffle join
        whose file-pruned side is estimated small gets a broadcast
        hint."""
        self._refresh_versioned_views()
        df, report, _rules = self._sql_planned_report(query, {})
        self._last.zonemap_report = report
        if _is_command(df):
            # DDL through df() changes what later query text resolves
            # to — same cache-epoch discipline as sql()
            self._view_epoch += 1
        return df

    def _sql_planned_report(
        self, query: str, snap_cache: dict | None = None
    ) -> tuple[DataFrame, dict, dict[str, str]]:
        """``spark.sql`` plus the metadata rules. Returns ``(df, report,
        rules)``: ``report`` is the answering rule's per-table telemetry
        (the envelope's ``metadata["zonemap"]``; {} when no rule fired)
        and ``rules`` maps each rule tried to ``"fired"``,
        ``"declined"`` or ``"raised:<ExceptionClass>"`` ({} when none
        ran). ``snap_cache`` is the per-CALL snapshot memo shared with
        the result-cache probe, so MV freshness checks never repeat a
        table's directory walk within one query.

        With no zone-mapped table and no MV registered the query is
        plain ``spark.sql``. Otherwise it is analyzed once against the
        registered views, and the rules of ``RULES`` run in order over
        one :class:`plans.PlanContext`; the first that returns a frame
        answers the query. A rule that declines or raises falls through
        to the next, and when none fires the analyzed frame runs as is.
        Every rule is an accelerator, never a semantics change, so a
        fallback costs speed, not correctness; a raise is recorded by
        exception class, never dropped.

        Locking: temp views are session-global, so a query analyzed
        while another query has its views swapped would bind that
        query's pruned file set. ``_plan_lock`` is held in exactly two
        windows: the first analysis and ``rebind``. The rules run
        unlocked and concurrently across a ``sql_many`` burst: they
        read the analyzed frame and the manifests, never a view by
        name. ``rebind(pruned_views)`` captures the views it replaces,
        binds the pruned frames (built by the rule, unlocked),
        re-plans the query and restores the captured views in a
        ``finally`` with a pure ``createOrReplaceTempView`` — no I/O
        can fail the restore, so a raise mid-rebind never leaves a view
        bound to a pruned subset. ``register`` binds under the same
        lock, and every holder restores before releasing, so views are
        always in their registered state at lock acquisition."""
        if self._mvs:
            # pending lazy MV refreshes (post-maintenance marks) run
            # here, OUTSIDE the plan lock — refresh re-enters
            # create_materialized_view, which takes it
            self._mv_self_refresh()
        zm_tables = {
            name: (meta.get("resolved", self.tables[name]), meta["zonemap_cols"])
            for name, meta in self._table_meta.items()
            if meta.get("zonemap_cols")
        }
        if not zm_tables and not self._mvs:
            return self.spark.sql(query), {}, {}
        with self._plan_lock:
            df = self.spark.sql(query)  # analyzed now: binds the views

        def rebind(pruned_views: dict[str, DataFrame]) -> DataFrame:
            with self._plan_lock:
                originals = {n: self.spark.table(n) for n in pruned_views}
                try:
                    for name, pruned in pruned_views.items():
                        pruned.createOrReplaceTempView(name)
                    return self.spark.sql(query)  # analyzed now: binds pruned
                finally:
                    for name, odf in originals.items():
                        odf.createOrReplaceTempView(name)

        ctx = PlanContext(
            spark=self.spark,
            query=query,
            df=df,
            zm_tables=zm_tables,
            paths={n: p for n, (p, _) in zm_tables.items()},
            mvs=self._mvs,
            all_paths=self._all_paths(),
            snap_cache=snap_cache,
            rebind=rebind,
        )
        rules: dict[str, str] = {}
        for name, rule in RULES:
            try:
                got = rule(ctx)
            except Exception as e:
                # a rule is an accelerator: its failure must not fail
                # the query, but it is a bug or a race worth seeing
                _log.warning("rule %s raised; trying the next", name, exc_info=True)
                rules[name] = f"raised:{type(e).__name__}"
                continue
            if got is not None:
                rules[name] = "fired"
                return got[0], got[1], rules
            rules[name] = "declined"
        return df, {}, rules

    def table_stats(self, name: str) -> dict:
        """ANALYZE-style statistics for a registered zone-mapped table,
        read straight from its manifest at metadata cost (cached group
        rows, zero data scanned): n_files, n_rows, total_bytes, and
        per-stats-column {min, max, nulls}. EXACT whenever the
        manifest is current — the stats were computed from every row
        at build/append time (the differential registry key
        ``lake_manifest_stats`` hash-proves them equal to a DuckDB
        recomputation from the raw data). This is the stats readout a
        cost-based planner consults before join ordering / broadcast
        decisions; the automatic pushdown consults the same manifests
        per scan."""
        meta = self._table_meta.get(name)
        if meta is None:
            raise KeyError(f"table {name!r} is not registered")
        if not meta.get("zonemap_cols"):
            raise ValueError(
                f"table {name!r} carries no zone-map manifest; "
                "write one via operators.zonemaps.write_zonemap or "
                "write_versioned(stats_cols=...)"
            )
        from quack_reduce_spark.operators import zonemaps

        return zonemaps.manifest_stats(
            self.spark, meta.get("resolved", self.tables[name])
        )

    def count_where(
        self,
        name: str,
        constraints: dict[str, tuple] | None = None,
        in_lists: dict[str, list] | None = None,
    ) -> int:
        """``SELECT COUNT(*) FROM name WHERE <ranges>`` answered mostly
        from METADATA — the Iceberg/Delta metadata-count shape on plain
        parquet. ``constraints`` maps columns to closed ``(lo, hi)``
        ranges (either bound may be None; rows with NULL in a
        constrained column don't count, matching SQL comparison
        semantics); None counts the whole table.

        Files whose stats prove EVERY row matches (``min >= lo``,
        ``max <= hi``, zero nulls, for every constrained column)
        contribute their exact manifest ``n_rows`` without being read;
        only BOUNDARY files — pruned in but not fully contained — are
        scanned with the residual predicate. On a clustered layout a
        range count reads O(1) boundary files regardless of how many
        the range covers; at 100 TB that is the difference between a
        dashboard count and a full scan. Falls back to a plain
        filtered count when the table has no fresh manifest.
        Telemetry in ``last_count_plan``.

        ``in_lists`` maps columns to IN value sets — pruning composes
        with the column's Bloom fingerprint when one exists, so a
        point count on a fingerprinted key scans only the files that
        can hold it; a file counts wholly from metadata only when its
        stats prove every row matches (single-valued, value in the
        set, zero nulls)."""
        from quack_reduce_spark.operators import zonemaps as _zm

        meta = self._table_meta.get(name)
        if meta is None:
            raise KeyError(f"table {name!r} is not registered")
        path = meta.get("resolved", self.tables[name])
        overlap = set(constraints or {}) & set(in_lists or {})
        if overlap:
            raise ValueError(f"columns in both constraints and in_lists: {overlap}")
        cons = {
            c: (lo, hi, None, None) for c, (lo, hi) in (constraints or {}).items()
        }
        for c, vals in (in_lists or {}).items():
            cons[c] = (None, None, frozenset(vals), None)

        def fallback() -> int:
            # mirrors the metadata+residual path's bound semantics
            # EXACTLY: session-zoned timestamp columns compare in epoch
            # space (unix_micros vs _to_micros under the SESSION zone).
            # F.lit(naive_datetime) would render through the driver-OS
            # zone instead — on an off-UTC host the two paths would
            # count differently for the same arguments.
            df = self.spark.table(name)
            by_type = _zm._py_field_types(df)
            session_tz = self.spark.conf.get("spark.sql.session.timeZone")

            def target_and_val(c: str, v: Any, is_lo: bool) -> tuple:
                if by_type.get(c) == "timestamp":
                    return F.unix_micros(F.col(c)), _zm._to_micros(v, session_tz)
                dec_s = _zm._unscaled_decimal(by_type.get(c))
                if dec_s is not None:
                    return (
                        _zm._unscaled_col(c, dec_s),
                        _zm._to_unscaled_bound(v, dec_s, ceil=is_lo),
                    )
                return F.col(c), v

            pred = F.lit(True)
            for c, (lo, hi) in (constraints or {}).items():
                pred = pred & F.col(c).isNotNull()
                if lo is not None:
                    t, v = target_and_val(c, lo, True)
                    pred = pred & (t >= F.lit(v))
                if hi is not None:
                    t, v = target_and_val(c, hi, False)
                    pred = pred & (t <= F.lit(v))
            for c, vals in (in_lists or {}).items():
                dec_s = _zm._unscaled_decimal(by_type.get(c))
                if by_type.get(c) == "timestamp":
                    micros = [_zm._to_micros(v, session_tz) for v in vals]
                    pred = pred & F.unix_micros(F.col(c)).isin(micros)
                elif dec_s is not None:
                    iv = [
                        x
                        for x in (_zm._to_unscaled_val(v, dec_s) for v in vals)
                        if x is not None
                    ]
                    pred = pred & (
                        _zm._unscaled_col(c, dec_s).isin(iv)
                        if iv
                        else F.lit(False)
                    )
                else:
                    pred = pred & F.col(c).isin(list(vals))
            self._last.count_plan = {"source": "scan"}
            return df.where(pred).count()

        if not meta.get("zonemap_cols"):
            return fallback()
        try:
            rows, total = _zm.prune_files_multi(self.spark, path, cons)
            if total != len(_zm._data_files(path)):
                return fallback()  # un-maintained append: don't trust it
            doc = _zm._read_list(path) or {}
            types = doc.get("types") or {}
            session_tz = self.spark.conf.get("spark.sql.session.timeZone")
            norm = _zm._normalize_constraints(cons, types, session_tz)
        except Exception:
            return fallback()

        def contained(r: dict) -> bool:
            for c, (lo, hi, vals, _nl) in norm.items():
                mn, mx = r.get(f"min_{c}"), r.get(f"max_{c}")
                nulls = r.get(f"nulls_{c}")
                if mn is None or mx is None or nulls is None or int(nulls) != 0:
                    return False
                try:
                    if vals is not None:
                        # every row matches only if the file is
                        # single-valued on c and that value is listed
                        if mn != mx or mn not in vals:
                            return False
                        continue
                    if lo is not None and mn < lo:
                        return False
                    if hi is not None and mx > hi:
                        return False
                except TypeError:
                    return False  # incomparable: treat as boundary
            return True

        meta_rows, boundary = 0, []
        for r in rows:
            if contained(r):
                meta_rows += int(r["n_rows"])
            else:
                boundary.append(r["file"])
        scanned = 0
        if boundary:
            df = self.spark.read.option("basePath", path).parquet(*boundary)
            by_type = _zm._py_field_types(df)
            pred = F.lit(True)
            for c, (lo, hi, vals, _nl) in norm.items():
                dec_s = _zm._unscaled_decimal(by_type.get(c))
                if by_type.get(c) == "timestamp":
                    target = F.unix_micros(F.col(c))
                elif dec_s is not None:
                    # norm values are unscaled ints: compare in that space
                    target = _zm._unscaled_col(c, dec_s)
                else:
                    target = F.col(c)
                pred = pred & F.col(c).isNotNull()
                if vals is not None:
                    vl = list(vals)
                    pred = pred & (
                        target.isin(vl) if vl else F.lit(False)
                    )
                    continue
                if lo is not None:
                    pred = pred & (target >= F.lit(lo))
                if hi is not None:
                    pred = pred & (target <= F.lit(hi))
            scanned = df.where(pred).count()
        self._last.count_plan = {
            "source": "metadata+residual",
            "files_total": total,
            "files_pruned_in": len(rows),
            "files_contained": len(rows) - len(boundary),
            "files_scanned": len(boundary),
            "rows_metadata": meta_rows,
            "rows_scanned": scanned,
        }
        return meta_rows + scanned

    def explain(self, query: str, mode: str = "formatted") -> str:
        """Physical-plan text for a SQL query without executing it —
        the plan-inspection surface the scale discipline depends on
        (check pushed filters, pruned ReadSchema, broadcast joins; see
        docs/PLANS.md). ``mode``: simple | extended | formatted | cost.
        """
        df = self.df(query)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )

    # -- sketch-driven join planning ------------------------------------

    BROADCAST_THRESHOLD = zonemap_pushdown.BROADCAST_THRESHOLD

    def explain_join(
        self,
        left: DataFrame | str,
        right: DataFrame | str,
        on: str,
        n: int = 128,
        broadcast_threshold_bytes: int = BROADCAST_THRESHOLD,
    ) -> dict:
        """Answer the planner question static stats can't: how big is
        ``left ⋈ right`` and which side (if any) should broadcast?

        Static planning sizes a relation by its FILES — a filtered
        slice of a big table keeps the full file's sizeInBytes
        (Spark's size-only stats visitor passes Filter through), so
        the optimizer picks SortMergeJoin even when the slice is a
        few rows. This helper runs the ANALYZE-style pass instead:
        each side folds to key multiplicities, takes a bottom-``n``
        key-count theta sample (operators/sketches.py — the same
        machinery the ``sketch_join_cardinality`` registry key
        hash-gates), and estimates join rows by the ratio estimator;
        side byte sizes come from exact row counts (one aggregate per
        side) x a schema-derived row width. Returns the report dict
        {left: {rows, row_bytes, est_bytes, source}, right: {...},
        est_join_rows, n_common_sampled, strategy,
        broadcast_threshold_bytes} — ``strategy`` is
        ``broadcast_left`` / ``broadcast_right`` (smaller estimated
        side fits under the threshold) or ``shuffle_sort_merge``.

        A side passed by NAME that resolves to a registered zone-mapped
        table with a FRESH manifest (live file count matches) skips the
        ANALYZE pass entirely: exact rows and total file bytes come
        straight from the manifest (``source: "manifest"`` — the same
        numbers ``table_stats``/``lake_manifest_stats`` hash-prove
        equal to a DuckDB recomputation), which at 100 TB is the
        difference between metadata-cost planning and a full scan per
        side. A FILTERED side — a plain Filter/Project DataFrame over
        one such table — is sized from the manifest's EQUI-DEPTH
        HISTOGRAM when one covers a pushed range constraint
        (``source: "histogram"``): estimated rows = manifest rows x
        histogram selectivity, no counting scan (the exact blind spot
        of Spark's size-only stats, where Filter passes sizeInBytes
        through). Only the bounded key-overlap sample still touches
        data. Cost: at most one aggregate pass per non-manifest side +
        two bounded (<= n-struct) sketch rows; nothing data-sized
        reaches the driver."""
        from quack_reduce_spark.operators.sketches import (
            join_rows_estimate,
            key_count_sample,
        )

        lf = self.spark.table(left) if isinstance(left, str) else left
        rf = self.spark.table(right) if isinstance(right, str) else right

        def manifest_side(name: Any) -> tuple[int, int | None] | None:
            """(exact rows, total file bytes) from a fresh manifest, or
            None when the side isn't a registered zone-mapped table /
            the manifest is stale vs the live file listing."""
            if not isinstance(name, str):
                return None
            meta = self._table_meta.get(name)
            if not meta or not meta.get("zonemap_cols"):
                return None
            from quack_reduce_spark.operators import zonemaps as _zm

            path = meta.get("resolved", self.tables[name])
            try:
                st = _zm.manifest_stats(self.spark, path)
                if st["n_files"] != len(_zm._data_files(path)):
                    return None  # un-maintained append: don't trust it
            except Exception:
                return None
            return int(st["n_rows"]), st["total_bytes"]

        def hist_side(df: DataFrame) -> tuple[int, int] | None:
            """(estimated rows, row width) for a FILTERED side: a pure
            Filter/Project over exactly one registered fresh-manifest
            table whose doc carries an equi-depth histogram covering a
            range constraint the filter pushes down. Per alternative
            the MINIMUM selectivity across constrained histogrammed
            columns is used — a true upper bound under ANY predicate
            correlation (multiplying under independence UNDER-estimates
            correlated predicates, which could size a big side under
            the broadcast threshold and OOM executors); alternatives
            sum across ORs (capped at 1). Unconstrained or
            un-histogrammed columns contribute nothing, so the
            estimate only ever widens. A histogram whose
            n_rows_at_build has drifted >1.5x from the manifest's live
            row count is refused (appends degrade estimates, never
            correctness)."""
            from quack_reduce_spark.operators import zonemaps as _zm

            zm_tables = {
                nm: meta.get("resolved", self.tables[nm])
                for nm, meta in self._table_meta.items()
                if meta.get("zonemap_cols")
            }
            if not zm_tables:
                return None
            try:
                opt = df._jdf.queryExecution().optimizedPlan()
                allowed = {"Filter", "Project", "LogicalRelation"}
                for node in zonemap_pushdown._iter_nodes(opt):
                    if node.getClass().getSimpleName() not in allowed:
                        return None  # joins/aggs: not a plain slice
                cons = zonemap_pushdown.scan_constraints(df, zm_tables)
            except Exception:
                return None
            if len(cons) != 1:
                return None
            nm, scans = next(iter(cons.items()))
            if len(scans) != 1:
                return None
            path = zm_tables[nm]
            try:
                st = _zm.manifest_stats(self.spark, path)
                if st["n_files"] != len(_zm._data_files(path)):
                    return None  # un-maintained append: don't trust it
                hist = _zm.manifest_hist(path)
            except Exception:
                return None
            if not hist or st["total_bytes"] is None:
                return None
            n_rows = int(st["n_rows"])
            built = min(
                (int(h.get("n_rows_at_build", 0)) for h in hist.values()),
                default=0,
            )
            if built <= 0 or n_rows > _zm.HIST_DRIFT * built:
                # drifted histogram: fall back to ANALYZE (append_zonemap
                # rebuilds at the same threshold, so a MAINTAINED table
                # never actually reaches this branch)
                return None
            alt_sels = []
            for alt in scans[0]["alts"]:
                sel = None
                for col, constraint in alt.items():
                    lo, hi, vals = constraint[0], constraint[1], constraint[2]
                    if col not in hist or vals is not None:
                        continue
                    got = _zm.hist_selectivity(hist[col], lo, hi)
                    if got is not None:
                        sel = got if sel is None else min(sel, got)
                if sel is None:
                    return None  # nothing estimable: ANALYZE instead
                alt_sels.append(sel)
            sel = min(1.0, sum(alt_sels)) if alt_sels else None
            if sel is None:
                return None
            rows_est = max(1, int(round(n_rows * sel)))
            width = max(1, int(st["total_bytes"]) // max(n_rows, 1))
            return rows_est, width

        def side(df: DataFrame, name: Any) -> tuple[int, int, DataFrame, str]:
            got = manifest_side(name)
            if got is not None:
                rows, total_bytes = got
                if total_bytes is not None:
                    width = max(1, total_bytes // max(rows, 1))
                    return rows, width, key_count_sample(df, on, n), "manifest"
            est = hist_side(df) if not isinstance(name, str) else None
            if est is not None:
                rows, width = est
                return rows, width, key_count_sample(df, on, n), "histogram"
            # one aggregate pass: the row count AND the observed mean
            # byte width of every variable-width column — a schema-only
            # 20-bytes-per-string guess can undersize a wide-text
            # relation by orders of magnitude and broadcast a side that
            # OOMs the executors; measuring costs nothing extra (same
            # scan that counts)
            ANALYZE_COUNTS["side_scans"] += 1
            width_aggs = _observed_width_aggs(df.schema)
            agg_row = df.agg(F.count(F.lit(1)).alias("__n"), *width_aggs).first()
            rows = int(agg_row["__n"])
            observed = {
                k[len("__w_"):]: float(v)
                for k, v in agg_row.asDict().items()
                if k.startswith("__w_") and v is not None
            }
            width = _est_row_bytes(df.schema, observed)
            return rows, width, key_count_sample(df, on, n), "analyze"

        def ndv_of(name: Any) -> float | None:
            """Manifest NDV of the join key — metadata cost, None when
            the side isn't a registered table carrying registers."""
            if not isinstance(name, str):
                return None
            meta = self._table_meta.get(name)
            if not meta or not meta.get("zonemap_cols"):
                return None
            from quack_reduce_spark.operators import zonemaps as _zm

            path = meta.get("resolved", self.tables[name])
            try:
                if on not in _zm.ndv_config(path):
                    return None
                got = _zm.manifest_ndv(self.spark, path, on)
            except Exception:
                return None
            return got["est"] if got else None

        rows_l, width_l, sl, src_l = side(lf, left)
        rows_r, width_r, sr, src_r = side(rf, right)
        ndv_l = ndv_of(left) if src_l == "manifest" else None
        ndv_r = ndv_of(right) if src_r == "manifest" else None
        if ndv_l and ndv_r:
            # both sides carry manifest NDV registers on the join key:
            # the System-R containment estimate |L|*|R|/max(ndv) needs
            # ZERO data passes — the sample frames are never executed
            est_join_rows = rows_l * rows_r / max(ndv_l, ndv_r, 1.0)
            n_common: int | None = None
            est_source = "ndv"
        else:
            est = join_rows_estimate(sl, sr, n).first()
            est_join_rows = float(est["est_join_rows"])
            n_common = int(est["n_common_sampled"])
            est_source = "sample"
        bytes_l, bytes_r = rows_l * width_l, rows_r * width_r
        if min(bytes_l, bytes_r) <= broadcast_threshold_bytes:
            strategy = "broadcast_left" if bytes_l <= bytes_r else "broadcast_right"
        else:
            strategy = "shuffle_sort_merge"
        report = {
            "on": on,
            "n": n,
            "left": {
                "rows": rows_l, "row_bytes": width_l,
                "est_bytes": bytes_l, "source": src_l,
                **({"ndv": ndv_l} if ndv_l else {}),
            },
            "right": {
                "rows": rows_r, "row_bytes": width_r,
                "est_bytes": bytes_r, "source": src_r,
                **({"ndv": ndv_r} if ndv_r else {}),
            },
            "est_join_rows": float(est_join_rows),
            "n_common_sampled": n_common,
            "join_est_source": est_source,
            "strategy": strategy,
            "broadcast_threshold_bytes": broadcast_threshold_bytes,
        }
        self._last.join_plan = report
        return report

    # Runtime-filter gates: inject a Bloom pre-filter only when the
    # estimate says the join keeps under this fraction of the probe
    # side (otherwise the filter mostly passes rows and just costs a
    # digest per row), and only when the build side is small enough
    # that its sized bitset (~n/6 longs) is a driver-bounded artifact.
    RUNTIME_FILTER_SELECTIVITY = 0.5
    RUNTIME_FILTER_MAX_BUILD_ROWS = 2_000_000

    def plan_join(
        self,
        left: DataFrame | str,
        right: DataFrame | str,
        on: str,
        how: str = "inner",
        n: int = 128,
        broadcast_threshold_bytes: int = BROADCAST_THRESHOLD,
        runtime_filter: bool = True,
    ) -> DataFrame:
        """``left.join(right, on)`` with the join strategy chosen by
        :meth:`explain_join`'s estimate instead of static file-size
        stats: the side whose ESTIMATED bytes fit under the threshold
        gets an explicit broadcast hint (exactly what a CBO does with
        ANALYZE stats); otherwise the join is left to the default
        planner — but first, when the estimate says the shuffle join
        is SELECTIVE (est_join_rows well under the probe side's rows),
        the smaller side's keys fold into a sized Bloom bitset and
        pre-filter the bigger side BEFORE its shuffle (Spark's AQE
        runtime bloom join, engine-portable): rows whose keys cannot
        match never enter the exchange, which at 100 TB is most of the
        shuffle. Inner joins only — filtering the preserved side of an
        outer join would invent NULL rows; false positives are
        harmless because the join re-checks equality, and no true
        match is ever dropped (no false negatives by construction).
        The report lands in ``self.last_join_plan``; when the filter
        fired it carries ``runtime_filter: {side, m_bits,
        n_build_rows}``."""
        report = self.explain_join(
            left, right, on, n=n,
            broadcast_threshold_bytes=broadcast_threshold_bytes,
        )
        lf = self.spark.table(left) if isinstance(left, str) else left
        rf = self.spark.table(right) if isinstance(right, str) else right
        if report["strategy"] == "broadcast_left":
            return F.broadcast(lf).join(rf, on, how)
        if report["strategy"] == "broadcast_right":
            return lf.join(F.broadcast(rf), on, how)
        if runtime_filter and how == "inner":
            big_is_left = report["left"]["est_bytes"] >= report["right"]["est_bytes"]
            probe_rows = report["left" if big_is_left else "right"]["rows"]
            build_rows = report["right" if big_is_left else "left"]["rows"]
            if (
                probe_rows > 0
                and build_rows <= self.RUNTIME_FILTER_MAX_BUILD_ROWS
                and report["est_join_rows"]
                <= self.RUNTIME_FILTER_SELECTIVITY * probe_rows
            ):
                from quack_reduce_spark.operators.sketches import (
                    BLOOM_SIZED_K,
                    bloom_filter_frame,
                    bloom_size,
                    bloom_words,
                )

                build = rf if big_is_left else lf
                probe = lf if big_is_left else rf
                words_n, m = bloom_size(build_rows)  # rows >= distinct
                # NULL build keys never match an inner join, and
                # md5(NULL) would poison the word aggregation with a
                # (NULL, NULL) group row — drop them before folding
                by_idx = {
                    int(r["word_idx"]): int(r["word"])
                    for r in bloom_words(
                        build.select(on).where(F.col(on).isNotNull()),
                        on, m=m, k=BLOOM_SIZED_K,
                    ).collect()
                    if r["word_idx"] is not None
                }
                words = [by_idx.get(i, 0) for i in range(words_n)]
                probe = (
                    bloom_filter_frame(
                        probe, words, F.col(on).cast("string"), k=BLOOM_SIZED_K
                    )
                    .filter(F.col("bp"))
                    .drop("bp")
                )
                report["runtime_filter"] = {
                    "side": "left" if big_is_left else "right",
                    "m_bits": m,
                    "n_build_rows": build_rows,
                }
                lf, rf = (probe, rf) if big_is_left else (lf, probe)
        return lf.join(rf, on, how)

    def sql(self, query: str, limit: int | None = DEFAULT_LIMIT) -> QueryResult:
        """Run SQL, cap rows, return the JSON-safe metadata envelope.
        Zone-mapped tables get automatic manifest file skipping; when
        that fired, ``metadata["zonemap"]`` reports files read/total
        per table."""
        import copy as _copy

        start = time.time()
        self._refresh_versioned_views()
        # result cache (the reference's benchmark "cached" mode,
        # benchmark.py:254-265, with real invalidation): identical
        # (query, limit) over unchanged tables returns the stored
        # records without executing. Freshness reuses the MV
        # discipline — one stat of the zone-map _list.json per
        # manifested table, a capped file listing otherwise. The token
        # is SCOPED to the tables the stored plan actually read (r15):
        # a dashboard hit re-walks only its own tables, not all 32
        # registered ones, and an unrelated table without a cheap
        # token no longer disables caching for everyone.
        snap_cache: dict[str, Any] = {}  # one walk per table per CALL
        cache_key = pre_tokens = None
        if self.result_cache:
            cache_key = self._result_cache_probe(query, limit)
        if cache_key is not None:
            with self._results_lock:
                hit = self._results.get(cache_key)
            if hit is not None:
                live = self._snap_token(hit[0], snap_cache)
                if live is not None and live == hit[1]:
                    with self._results_lock:
                        if self._results.get(cache_key) is hit:
                            # LRU touch
                            self._results.pop(cache_key, None)
                            self._results[cache_key] = hit
                        # counted under the lock: sql_many workers
                        # would otherwise lose increments
                        self.cache_counts["hits"] += 1
                    self._last.result_cache = {"hit": True}
                    self._was_warm = True
                    return QueryResult(
                        records=_copy.deepcopy(hit[2]),
                        metadata={
                            "timeMs": (time.time() - start) * 1000.0,
                            "eventId": str(uuid.uuid4()),
                            "query": query,
                            "warm": True,
                            "result_cache": {"hit": True},
                        },
                    )
            # miss: capture PRE-EXECUTION per-table tokens — a commit
            # racing execution then stamps the OLDER token, so the
            # next probe mismatches (never a stale hit). Tables with
            # no cheap token get None; the store below declines only
            # if the executed plan actually READ one of them.
            pre_tokens = {
                name: self._snap_token((name,), snap_cache)
                for name in self.tables
            }
        # the report comes back WITH the frame (not via the shared
        # attribute) so a concurrent sql_many burst can't cross-wire
        # one query's pruning telemetry into another's envelope
        df, zm_report, rules = self._sql_planned_report(query, snap_cache)
        self._last.zonemap_report = zm_report
        if _is_command(df):
            # a DDL/DML command (CREATE VIEW / DROP / ...) through the
            # SQL surface changes what later query text resolves to:
            # orphan every cached result by bumping the key epoch
            self._view_epoch += 1
        if limit is not None:
            df = df.limit(limit)
        records = _records_json_safe(df)
        stored = False
        nbytes = 0
        names: tuple | None = None
        if cache_key is not None and len(records) <= RESULT_CACHE_MAX_ROWS:
            names = self._scope_names(df)
            if names is not None and all(
                pre_tokens.get(n) is not None for n in names
            ):
                import json as _json

                nbytes = len(_json.dumps(records, default=str))
        if nbytes and nbytes <= RESULT_CACHE_MAX_BYTES:
            # token = the PRE-execution snapshots of exactly the tables
            # the plan read (single triples concatenate in sorted-name
            # order, the same order _snap_token re-derives on probe)
            token = tuple(pre_tokens[n][0] for n in names)
            stored = True
            with self._results_lock:
                self.cache_counts["misses"] += 1
                prev = self._results.pop(cache_key, None)
                if prev is not None:
                    self._results_bytes -= prev[3]
                self._results[cache_key] = (
                    names, token, _copy.deepcopy(records), nbytes,
                )
                self._results_bytes += nbytes
                # LRU eviction by ENTRY COUNT and BYTE BUDGET: 128
                # entries x 10k wide rows could otherwise pin GBs of
                # driver heap
                while self._results and (
                    len(self._results) > RESULT_CACHE_MAX
                    or self._results_bytes > RESULT_CACHE_MAX_BYTES
                ):
                    oldest = next(iter(self._results))
                    self._results_bytes -= self._results.pop(oldest)[3]
                self.cache_counts["bytes"] = self._results_bytes
        self._last.result_cache = {
            "hit": False, "stored": stored, "bytes": nbytes,
            "cache_bytes": self._results_bytes,
        }
        took_ms = (time.time() - start) * 1000.0
        metadata = {
            "timeMs": took_ms,
            "eventId": str(uuid.uuid4()),
            "query": query,
            "warm": self._was_warm,
        }
        if zm_report:
            metadata["zonemap"] = zm_report
        if rules:
            metadata["rules"] = rules
        if self.result_cache:
            metadata["result_cache"] = {"hit": False, "stored": stored}
        self._was_warm = True
        return QueryResult(records=records, metadata=metadata)

    def _result_cache_probe(self, query: str, limit: int | None) -> tuple | None:
        """Cache KEY for one envelope query, or None when caching is
        size-disabled. The view epoch keys, not tokens: create_view /
        any DDL bumps it, so pre-DDL entries are orphaned
        (uncollectable until LRU eviction, but never served). The
        freshness token now lives per-ENTRY, scoped to the tables the
        stored plan read — see :meth:`_snap_token`."""
        if len(self.tables) > 32:
            return None  # token cost would outgrow the benefit
        return (query, limit, self._view_epoch)

    def _snap_token(
        self, names, snap_cache: dict[str, Any]
    ) -> tuple | None:
        """Freshness token over the given table NAMES: one (name,
        register-epoch, snapshot-json) triple per name in sorted
        order, or None when any name is unregistered / has no cheap
        snapshot (the caller treats that as a miss / a non-storable
        result). The register epoch ties the token to the VIEW
        BINDING, not just the directory: a query executed against a
        stale binding (plain-dir views keep their listing until
        re-registered) stores under the old epoch, and re-registering
        misses — the disk snapshot alone could mark those records
        fresh."""
        import json as _json

        out = []
        for name in sorted(names):
            if name not in self.tables:
                return None
            meta = self._table_meta.get(name, {})
            path = meta.get("resolved", self.tables[name])
            s = mv_rewrite.source_snapshot(path, snap_cache)
            if s is None:
                return None
            out.append((name, meta.get("epoch"), _json.dumps(s)))
        return tuple(out)

    def _scope_names(self, df: DataFrame) -> tuple | None:
        """The registered-table names whose state the executed plan's
        records depend on (sorted), or None when the plan is not
        cacheable. Leaf scans map to table names by resolved path; a
        scan of an MV's materialization maps to the MV's SOURCE table
        (a rewrite only fires fresh-or-compensated relative to the
        source snapshot, and every MV state transition preserves query
        semantics, so tokening the source is exactly sufficient)."""
        allowed: dict[str, Any] = {}
        for mname, m in self._mvs.items():
            allowed[_norm_fs_path(m["path"])] = ("mv", m.get("table"))
        for n, p in self._all_paths().items():
            allowed[_norm_fs_path(p)] = n  # a registered MV stays a table
        touched = _plan_cache_scope(df, list(allowed))
        if touched is None:
            return None
        names: set[str] = set()
        for ap in touched:
            v = allowed[ap]
            if isinstance(v, tuple):
                if v[1] not in self.tables:
                    return None  # MV source no longer registered
                names.add(v[1])
            else:
                names.add(v)
        return tuple(sorted(names))

    def sql_many(
        self,
        queries: list[str],
        limit: int | None = DEFAULT_LIMIT,
        max_threads: int = 8,
    ) -> list[QueryResult]:
        """Run N independent SQL queries CONCURRENTLY and return their
        envelopes in input order — the engine analog of the reference's
        client-side fan-out of 20 parallel Lambda invocations
        (benchmark.py:207-211: ThreadPool(processes=20) over
        run_lambda).

        Each worker thread runs in its own FAIR scheduler pool
        (session.py sets spark.scheduler.mode=FAIR), so a dashboard
        firing a burst of queries gets round-robin task scheduling
        instead of FIFO convoying behind the largest query. Spark local
        properties are thread-local ONLY under PySpark's pinned-thread
        mode (the default since 3.2): if the user disabled it via
        PYSPARK_PIN_THREAD=false, setLocalProperty would race across
        worker threads, so pool assignment is skipped and the burst
        runs in the default pool (correct, just FIFO-scheduled). The
        warm flag is resolved once at burst start — with concurrent
        workers "first query of the burst" is not well-defined, so
        every envelope reports the session's warmth when the burst was
        submitted.
        """
        import os
        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext
        pinned = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() != "false"
        burst_warm = self._was_warm
        self._was_warm = True  # set once, before workers run: no racy mutation

        def run_one(item: tuple[int, str]) -> QueryResult:
            i, q = item
            if pinned:
                sc.setLocalProperty("spark.scheduler.pool", f"qrs_pool_{i % max_threads}")
            try:
                res = self.sql(q, limit=limit)
                res.metadata["warm"] = burst_warm
                return res
            finally:
                if pinned:
                    sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=max_threads) as pool:
            return list(pool.map(run_one, enumerate(queries)))

    # -- sinks (reference run_me_first.py:83-100 / dbt external) --------

    def write_partitioned(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite") -> None:
        """Hive-partitioned parquet sink (reference run_me_first.py:94-98)."""
        df.write.partitionBy(*partition_by).mode(mode).parquet(path)

    def materialize(self, df: DataFrame, path: str, mode: str = "overwrite") -> None:
        """Single-artifact materialized view (reference dbt
        ``materialized='external'``, top_pickup_locations.sql:1).

        ``coalesce(1)`` so the artifact is one file — only for small
        aggregate results; large outputs should use write_partitioned.
        """
        df.coalesce(1).write.mode(mode).parquet(path)

    def write_sharded(
        self,
        df: DataFrame,
        path: str,
        shard_by: str,
        n_shards: int = 64,
        mode: str = "overwrite",
    ) -> dict[str, Any]:
        """Training-data delivery sink: hash-shard ``df`` on
        ``shard_by`` into exactly ``n_shards`` parquet files plus a
        ``_manifest.json`` recording per-shard row counts and the
        total — the layout dataloaders consume (deterministic shard
        membership, uniform sizes, a manifest to plan epochs without
        listing the bucket).

        ``repartition(n, col)`` is one hash shuffle; each task writes
        its own shard file, so the write parallelism IS the shard
        count. Returns the manifest dict. The manifest counts come
        from a post-write scan of the written files (counting what was
        actually persisted, not what was intended).
        """
        import json
        import os

        sharded = df.repartition(n_shards, F.col(shard_by))
        sharded.write.mode(mode).parquet(path)
        per_file = (
            self.spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .groupBy("f")
            .count()
            .collect()
        )
        manifest = {
            "shard_by": shard_by,
            "n_shards": n_shards,
            "n_files": len(per_file),
            "total_rows": int(sum(r["count"] for r in per_file)),
            "files": {os.path.basename(r["f"]): int(r["count"]) for r in per_file},
        }
        with open(os.path.join(path, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        return manifest

    def write_clustered(
        self,
        df: DataFrame,
        path: str,
        cluster_by: list[str],
        n_files: int | None = None,
        stats_cols: list[str] | None = None,
        mode: str = "overwrite",
        bloom_cols: list[str] | None = None,
        hist_cols: list[str] | None = None,
        ndv_cols: list[str] | None = None,
    ) -> int:
        """The one-call "make this table prunable" sink: range-cluster
        ``df`` on ``cluster_by`` (repartitionByRange + sortWithin-
        Partitions — each output file gets a tight bounding box on the
        clustering columns), write parquet, and build the zone-map
        manifest over ``stats_cols`` (default: the clustering columns).
        Returns the number of files covered. Afterwards plain SQL
        range / IN / LIKE-prefix / IS NULL queries on the stats
        columns through :meth:`sql`/:meth:`df` plan from the manifest
        automatically, and :meth:`table_stats` answers ANALYZE from
        metadata. Pruning power is a LAYOUT property — this sink IS
        the layout half; two-dimensional clustering wants
        operators/zorder.zorder_write instead. ``n_files`` defaults to
        ``spark.sql.shuffle.partitions`` (one range per shuffle
        partition).

        ``bloom_cols``: integer/string stats columns that ALSO get
        per-file Bloom fingerprints — point/IN lookups on them skip
        files even though the layout clusters a different column (the
        lookup-table shape: cluster by time, fingerprint the id).
        ``hist_cols`` / ``ndv_cols``: equi-depth histograms (range
        selectivity for explain_join's filtered sides) and per-file
        HLL register sketches (table/slice NDV, metadata-only join
        cardinality) — see write_zonemap."""
        from quack_reduce_spark.operators import zonemaps

        if not cluster_by:
            raise ValueError("cluster_by must name at least one column")
        n = n_files or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        cols = [F.col(c) for c in cluster_by]
        (
            df.repartitionByRange(n, *cols)
            .sortWithinPartitions(*cols)
            .write.mode(mode)
            .parquet(path)
        )
        stats = list(stats_cols or cluster_by)
        for extra in (bloom_cols, hist_cols, ndv_cols):
            stats += [c for c in (extra or []) if c not in stats]
        return zonemaps.write_zonemap(
            self.spark, path, stats,
            bloom_cols=bloom_cols, hist_cols=hist_cols, ndv_cols=ndv_cols,
        )

    def merge_upsert(
        self,
        target_path: str,
        updates: DataFrame,
        key: str,
        partition_by: list[str] | None = None,
        evolve_schema: bool = False,
    ) -> dict[str, int]:
        """MERGE-style upsert into a parquet lake table: rows in
        ``updates`` replace target rows with the same ``key``; new keys
        append. Plain-parquet lakes have no transactional MERGE, so
        this is the standard copy-on-write rewrite: anti-join the
        target against the update keys, union the updates, commit the
        rewrite without ever partially overwriting live data (see
        ``_commit_rewrite`` for the two commit protocols).

        Schema evolution: by default, updates carrying columns the
        target lacks are REJECTED (a typo'd column silently widening a
        100 TB table is worse than an error). Pass
        ``evolve_schema=True`` to accept them — new columns are added
        to the table, surviving target rows get NULL for them, and
        update rows missing any target column get NULL there (the
        Delta Lake ``mergeSchema`` contract). Because the rewrite is
        copy-on-write, every live file carries the evolved schema —
        readers never need mixed-schema reconciliation.

        Hive-partitioned targets are preserved: partition columns are
        discovered from the directory layout (or passed explicitly via
        ``partition_by``) and the rewrite goes through
        ``write.partitionBy``, so partition pruning keeps working after
        maintenance.

        Scale: one broadcast-able anti-join on the key (update batches
        are small next to the table) + a full rewrite of the table —
        the honest cost of copy-on-write; at 100 TB the table is
        hive-partitioned and only affected partitions are rewritten
        (filter the anti-join + write per partition). Returns counts.
        """
        from quack_reduce_spark import lake

        self._recover_plain(target_path)
        data_path = lake.resolve(target_path)
        target = self.spark.read.parquet(data_path)
        if key not in target.columns:
            raise ValueError(f"key column {key!r} not in target {target.columns}")
        parts = self._partition_cols(data_path, partition_by, target.columns)
        n_target = target.count()
        n_updates = updates.count()
        kept = target.join(updates.select(key).distinct(), key, "left_anti")
        extra = [c for c in updates.columns if c not in target.columns]
        if extra and not evolve_schema:
            raise ValueError(
                f"updates carry columns not in the target: {extra}; "
                "pass evolve_schema=True to widen the table"
            )
        if evolve_schema:
            merged = kept.unionByName(updates, allowMissingColumns=True)
        else:
            merged = kept.unionByName(updates.select(*target.columns))

        def write_to(dest: str) -> None:
            writer = merged.write.mode("overwrite")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(dest)

        n_merged = self._commit_rewrite(
            target_path, write_to, expected_rows=None, op="merge_upsert"
        )
        return {
            "target_rows_before": n_target,
            "update_rows": n_updates,
            "rows_after": n_merged,
            "rows_replaced": n_target + n_updates - n_merged,
        }

    def compact(
        self,
        path: str,
        target_rows_per_file: int = 1_000_000,
        partition_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Small-file compaction: rewrite a parquet table into few
        large files (same crash-safe commit as merge_upsert). Streaming
        sinks and incremental ingest produce file counts that degrade
        scan planning at scale; periodic compaction is standard lake
        maintenance.

        Hive-partitioned layouts are preserved (discovered from the
        directory tree or passed via ``partition_by``): rows are
        hash-repartitioned on the partition columns so each partition
        value compacts to one file, with ``maxRecordsPerFile`` splitting
        oversized partitions at ``target_rows_per_file``. Flat layouts
        compact to ceil(rows / target_rows_per_file) files. Returns
        before/after file and row counts (counted recursively, so the
        numbers are correct on nested layouts)."""
        from quack_reduce_spark import lake

        self._recover_plain(path)
        data_path = lake.resolve(path)
        df = self.spark.read.parquet(data_path)
        parts = self._partition_cols(data_path, partition_by, df.columns)
        n_rows = df.count()
        files_before = _count_parquet_files(data_path)

        def write_to(dest: str) -> None:
            if parts:
                writer = (
                    df.repartition(*[F.col(c) for c in parts])
                    .write.mode("overwrite")
                    .option("maxRecordsPerFile", target_rows_per_file)
                    .partitionBy(*parts)
                )
            else:
                n_files = max(1, -(-n_rows // target_rows_per_file))
                writer = df.repartition(n_files).write.mode("overwrite")
            writer.parquet(dest)

        self._commit_rewrite(path, write_to, expected_rows=n_rows, op="compact")
        files_after = _count_parquet_files(lake.resolve(path))
        return {
            "rows": n_rows,
            "files_before": files_before,
            "files_after": files_after,
        }

    def optimize(
        self,
        path: str,
        cluster_by: list[str],
        target_rows_per_file: int = 1_000_000,
    ) -> dict[str, int]:
        """OPTIMIZE (Delta's ``OPTIMIZE ... ZORDER BY``-style layout
        maintenance, one dimension): crash-safe rewrite of the table
        RANGE-CLUSTERED on ``cluster_by`` — repartitionByRange +
        sortWithinPartitions gives every output file a tight bounding
        box on the clustering columns — followed by a zone-map
        manifest (re)build over those columns, all through the same
        commit protocols as compact (versioned tables flip data +
        stats in one pointer write). This is the maintenance op that
        RESTORES pruning power: random appends interleave key ranges
        across files until every file's [min, max] spans everything
        and zone maps stop skipping; after optimize, range queries
        through :meth:`sql` prune again. Returns before/after file
        counts and the row count. Two-dimensional clustering wants
        operators/zorder.zorder_write."""
        from quack_reduce_spark import lake
        from quack_reduce_spark.operators import zonemaps

        if not cluster_by:
            raise ValueError("cluster_by must name at least one column")
        self._recover_plain(path)
        data_path = lake.resolve(path)
        df = self.spark.read.parquet(data_path)
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster columns {missing} not in table {df.columns}")
        n_rows = df.count()
        files_before = _count_parquet_files(data_path)
        n_files = max(1, -(-n_rows // target_rows_per_file))
        cols = [F.col(c) for c in cluster_by]

        def write_to(dest: str) -> None:
            (
                df.repartitionByRange(n_files, *cols)
                .sortWithinPartitions(*cols)
                .write.mode("overwrite")
                .parquet(dest)
            )

        self._commit_rewrite(path, write_to, expected_rows=n_rows, op="optimize")
        live = lake.resolve(path)
        # ensure the manifest covers the clustering columns even if the
        # table had none before (commit_rewrite preserves the existing
        # stats + bloom/hist/ndv configs); rebuild over the UNION so
        # wider stats columns — and the fingerprint/histogram/sketch
        # layers riding on them — are never silently narrowed away
        have = zonemaps.zonemap_cols(live)
        missing = [c for c in cluster_by if c not in have]
        if missing:
            zonemaps.write_zonemap(self.spark, live, have + missing)
        return {
            "rows": n_rows,
            "files_before": files_before,
            "files_after": _count_parquet_files(live),
        }

    def write_versioned(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        op: str = "write",
        concurrent: bool = False,
        stats_cols: list[str] | None = None,
    ) -> str:
        """Write ``df`` as a NEW VERSION of the versioned table at
        ``path`` (creating the table on first call). Data lands in a
        fresh immutable ``vNNNNNNNN/`` directory with a manifest; the
        commit is one pointer write — the object-store-safe protocol
        (see lake.py). Returns the committed version name.

        ``concurrent=True`` turns on the optimistic-concurrency
        protocol (r8): the stage directory is exclusively CLAIMED (two
        racing writers can never write into the same version dir) and
        the commit is conditional on the head still being the snapshot
        observed before staging — if another writer committed first,
        :class:`lake.ConcurrentCommitError` is raised with the staged
        data intact. The caller decides the retry: for a blind write
        (this df does not derive from the table's current contents)
        re-commit the SAME version against the new head
        (``lake.commit(path, version, expected_head=
        lake.current_version(path))``); for a derived write
        (read-modify-write), re-read, re-stage, retry the whole call —
        the Delta/Iceberg loser-retries contract.

        ``stats_cols`` additionally writes a file-level zone-map
        manifest (operators/zonemaps.py) INSIDE the version directory
        before the commit — stats are covered by the same atomic
        pointer flip and, because version dirs are immutable, can
        never go stale; ``scan_range`` plans from them.

        Every snapshot stays readable via ``read_table(version=...)``
        until ``vacuum`` — this is the time-travel write path."""
        from quack_reduce_spark import lake

        lake.mkdirs(path)
        head = lake.current_version(path) if lake.is_versioned(path) else None
        version, data_dir = lake.stage_version(path, claim=concurrent)
        # claimed dirs hold the exclusive _STAGED marker: parquet
        # "overwrite" would DELETE the dir (marker included) and reopen
        # the claim race, so the concurrent path appends into the
        # freshly-claimed (otherwise-empty) directory instead. All
        # concurrent writers of a table must pass concurrent=True —
        # mixing with unclaimed stagers reintroduces the shared-dir
        # hazard.
        writer = df.write.mode("append" if concurrent else "overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        rows = self.spark.read.parquet(data_dir).count()
        if stats_cols:
            # per-version zone maps ride inside the immutable version
            # dir, staged BEFORE the pointer flip: a version's stats
            # can never go stale and commit atomicity covers them too
            from quack_reduce_spark.operators import zonemaps

            zonemaps.write_zonemap(self.spark, data_dir, stats_cols)
        lake.write_manifest(path, version, op, rows)
        if concurrent:
            lake.commit(path, version, expected_head=head)
        else:
            lake.commit(path, version)
        return version

    def read_table(
        self,
        path: str,
        version: int | str | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Time-travel read: the live snapshot by default, a specific
        ``version``, or the snapshot live at wall-clock time ``as_of``
        (epoch seconds; Delta ``TIMESTAMP AS OF`` — resolved against
        commit times, so it is stable across later rollbacks). Plain
        directories read as-is (version/as_of must be None)."""
        from quack_reduce_spark import lake

        if version is not None and as_of is not None:
            raise ValueError("pass version OR as_of, not both")
        if as_of is not None:
            version = lake.version_as_of(path, as_of)
        if version is None:
            return self.spark.read.parquet(lake.resolve(path))
        return self.spark.read.parquet(lake.version_path(path, version))

    def scan_range(
        self,
        path: str,
        col: str,
        lo=None,
        hi=None,
        version: int | str | None = None,
    ) -> DataFrame:
        """Range read ``lo <= col <= hi`` over a table (versioned or
        plain dir), planning from the zone-map manifest when the
        resolved directory carries one — only files whose [min, max]
        can intersect the range are opened; without a manifest this
        degrades to a full-scan filter (same rows either way: zone
        maps prune, the predicate always re-applies)."""
        import pyspark.sql.functions as F

        from quack_reduce_spark import lake, sources
        from quack_reduce_spark.operators import zonemaps

        if lake.is_versioned(path):
            data_dir = (
                lake.resolve(path)
                if version is None
                else lake.version_path(path, version)
            )
        else:
            data_dir = path
        if zonemaps.has_zonemap(data_dir):
            df, _, _ = zonemaps.scan_pruned(self.spark, data_dir, col, lo, hi)
            return df
        pred = F.col(col).isNotNull()
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return sources.read_parquet_table(self.spark, data_dir).filter(pred)

    def history(self, path: str) -> list[dict]:
        """Commit history of a versioned table (ascending), with op /
        row-count / is_current per version — the time-travel index."""
        from quack_reduce_spark import lake

        return lake.history(path)

    def rollback(self, path: str, version: int | str) -> str:
        """Restore a previous snapshot: O(1) pointer flip, no data
        movement (Delta RESTORE semantics); see lake.rollback."""
        from quack_reduce_spark import lake

        return lake.rollback(path, version)

    def vacuum(
        self,
        path: str,
        keep: int = 1,
        dry_run: bool = False,
        orphan_grace: float = 3600.0,
    ) -> list[str]:
        """Expire old snapshots of a versioned table, keeping the
        newest ``keep`` plus whatever the live pointer targets.
        ``dry_run=True`` previews the reclaim list without deleting —
        after a vacuum, those versions are gone for time travel,
        ``as_of`` reads, and rollback alike. Uncommitted stages
        younger than ``orphan_grace`` seconds are spared — they may
        belong to a concurrent in-flight writer (see lake.vacuum)."""
        from quack_reduce_spark import lake

        return lake.vacuum(path, keep=keep, dry_run=dry_run, orphan_grace=orphan_grace)

    def delete_where(
        self,
        path: str,
        predicate: str,
        partition_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Copy-on-write DELETE: rewrite the table keeping rows that do
        NOT match ``predicate`` (a SQL boolean expression) — the GDPR /
        right-to-be-forgotten maintenance op every lake needs. Same
        crash-safe commit as merge_upsert/compact; hive partition
        layouts preserved. On a versioned table the pre-delete snapshot
        remains time-travel-readable until vacuum (which is what makes
        the delete auditable AND reversible until retention expires).

        Scale: predicate pushdown makes the scan cheap; the rewrite
        cost is the table — at 100 TB, partition-restrict the rewrite
        by running delete_where per affected partition (the predicate
        prunes untouched partitions' scans, and unchanged partitions
        can be skipped entirely by first aggregating match counts per
        partition)."""
        from quack_reduce_spark import lake

        self._recover_plain(path)
        data_path = lake.resolve(path)
        df = self.spark.read.parquet(data_path)
        parts = self._partition_cols(data_path, partition_by, df.columns)
        n_before = df.count()
        kept = df.filter(f"NOT ({predicate})")

        def write_to(dest: str) -> None:
            writer = kept.write.mode("overwrite")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(dest)

        n_after = self._commit_rewrite(path, write_to, expected_rows=None, op="delete")
        return {
            "rows_before": n_before,
            "rows_deleted": n_before - n_after,
            "rows_after": n_after,
        }

    def table_changes(
        self,
        path: str,
        v_from: int | str,
        v_to: int | str,
        key: str,
        payload: list[str] | None = None,
    ) -> DataFrame:
        """Change feed between two snapshots of a versioned table —
        what CDC consumers read after the fact. Keyed full-outer join
        of the two versions: absent-in-from → ``insert``, absent-in-to
        → ``delete``, present in both with any non-key column changed
        (EXACT null-safe struct comparison over all columns — not a
        hash, so no collision can ever drop a change from the feed) →
        ``update``; unchanged rows are dropped. Returns
        (key, change_type), plus — when
        ``payload`` names columns — ``old_<c>`` / ``new_<c>`` value
        pairs (NULL on the absent side), which is what downstream
        incremental consumers (aggregate maintenance, audit logs)
        need: an update contributes ``-old +new``, a delete ``-old``,
        an insert ``+new``.

        Scale: one shuffle per side on the key (co-partitioned join);
        the struct comparison is a JVM-side expression, no Python, and
        the shuffled row carries the full column struct (the same
        width the payload columns would anyway). At 100 TB both
        snapshots usually share most data files — a file-level
        manifest diff would skip identical files first; with plain
        parquet versions the honest cost is the two scans."""
        a = self.read_table(path, v_from)
        b = self.read_table(path, v_to)
        if set(a.columns) != set(b.columns):
            raise ValueError(f"schema drift between versions: {a.columns} vs {b.columns}")
        payload = payload or []
        unknown = [c for c in payload if c not in a.columns]
        if unknown:
            raise ValueError(f"payload columns {unknown} not in table {a.columns}")
        cols = sorted(a.columns)
        ah = a.select(
            F.col(key).alias("__k"),
            F.struct(*[F.col(c) for c in cols]).alias("__ra"),
            *[F.col(c).alias(f"old_{c}") for c in payload],
        )
        bh = b.select(
            F.col(key).alias("__k"),
            F.struct(*[F.col(c) for c in cols]).alias("__rb"),
            *[F.col(c).alias(f"new_{c}") for c in payload],
        )
        joined = ah.join(bh, "__k", "full_outer")
        return (
            joined.withColumn(
                "change_type",
                F.when(F.col("__ra").isNull(), F.lit("insert"))
                .when(F.col("__rb").isNull(), F.lit("delete"))
                .when(
                    ~F.col("__ra").eqNullSafe(F.col("__rb")), F.lit("update")
                ),
            )
            .filter(F.col("change_type").isNotNull())
            .select(
                F.col("__k").alias(key),
                "change_type",
                *[f"old_{c}" for c in payload],
                *[f"new_{c}" for c in payload],
            )
        )

    def _partition_cols(
        self, data_path: str, partition_by: list[str] | None, columns: list[str]
    ) -> list[str]:
        """Partition columns for a maintenance rewrite: the caller's
        explicit list, else the ``name=value`` layout discovered from
        the directory tree. Validated against the table schema."""
        parts = (
            partition_by
            if partition_by is not None
            else _discover_partition_cols(data_path)
        )
        unknown = [c for c in parts if c not in columns]
        if unknown:
            raise ValueError(f"partition columns {unknown} not in table {columns}")
        return parts

    def _recover_plain(self, path: str) -> None:
        """Self-heal a plain-directory table whose last rewrite crashed
        between the two renames (table path absent, ``__old`` holding
        the only complete copy) — called at the top of every
        maintenance op, BEFORE the target is read. No-op for versioned
        roots (their commit protocol has no such window) and URI
        paths (plain rewrites are refused there anyway)."""
        import os

        from quack_reduce_spark import lake

        if lake._URI_RE.match(path) and not path.startswith("file:"):
            return
        local = path[len("file:"):] if path.startswith("file:") else path
        if lake.is_versioned(local):
            return
        aside = local.rstrip("/") + "__old"
        if not os.path.exists(local) and os.path.exists(aside):
            os.rename(aside, local)

    def _commit_rewrite(
        self, path: str, write_to, expected_rows: int | None, op: str = "rewrite"
    ) -> int:
        """Write a full rewrite of table ``path`` and make it live
        without ever losing a complete copy of the data. Two protocols:

        - **Versioned root** (``lake.is_versioned``): the object-store-
          safe path. Data lands in a fresh ``vNNNNNNNN/`` directory that
          readers cannot see; after verification the commit is ONE
          pointer write (single PUT on S3). A crash anywhere before the
          pointer write leaves the old version live; orphaned staging
          is reclaimed by ``lake.vacuum``. NO window exists in which
          the table is unreadable.
        - **Plain directory** (local FS only — POSIX renames): staging
          write, then rename live aside (``__old``), staging into
          place, delete the aside copy. A complete copy of the table
          exists at some path at every instant, unlike a naive
          rmtree-then-rename — but there IS a crash window between the
          two renames in which the table path itself is briefly absent
          (reads fail until recovery). The next maintenance call
          self-heals: it renames the ``__old`` copy back before doing
          anything else. Versioned tables are the fix for readers that
          can't tolerate that instant.

        Verifies the staged row count before commit (if
        ``expected_rows`` is given, mismatch aborts and the live table
        is untouched). A zone-mapped table keeps its manifest: the
        stats are REBUILT on the rewritten layout (same stats columns)
        — inside the staged version dir before the pointer flip for
        versioned tables, right after the rename for plain dirs — so
        maintenance never silently downgrades range queries to full
        scans (without the rebuild, the engine's stale-manifest guard
        would disable pruning until someone reran write_zonemap).
        Returns the committed row count.
        """
        import shutil

        from quack_reduce_spark import lake
        from quack_reduce_spark.operators import zonemaps as _zm

        def stats_cols_of(data_dir: str) -> list[str]:
            try:
                if not _zm.has_zonemap(data_dir):
                    return []
                cols = _zm.zonemap_cols(data_dir)
                if cols:
                    return cols
                return [  # legacy manifest: derive from field names
                    c[len("min_"):]
                    for c in _zm.read_zonemap(self.spark, data_dir).columns
                    if c.startswith("min_")
                ]
            except Exception:
                return []  # unreadable manifest: rewrite data without it

        def verify(staged_dir: str) -> int:
            n_after = self.spark.read.parquet(staged_dir).count()
            if expected_rows is not None and n_after != expected_rows:
                shutil.rmtree(staged_dir)
                raise RuntimeError(
                    f"rewrite row-count drift ({expected_rows} -> {n_after}); "
                    f"staging discarded, live table untouched"
                )
            return n_after

        mv_pre = self._mv_pre_commit(path)
        if lake.is_versioned(path):
            pre_cols = stats_cols_of(lake.resolve(path))
            pre_bloom = _zm.bloom_config(lake.resolve(path))
            pre_hist = _zm.manifest_hist(lake.resolve(path))
            pre_ndv = _zm.ndv_config(lake.resolve(path))
            pre_gs = _zm.group_stats_config(lake.resolve(path))
            version, data_dir = lake.stage_version(path)
            write_to(data_dir)
            n_after = verify(data_dir)
            if pre_cols:
                # stats ride inside the immutable staged version, so
                # the pointer flip commits data AND manifest atomically
                # (bloom/hist/ndv/group-stats config carried
                # explicitly: the staged dir is fresh, same-dir
                # inheritance has nothing to read)
                _zm.write_zonemap(
                    self.spark, data_dir, pre_cols,
                    bloom_cols=pre_bloom or None,
                    hist_cols=pre_hist or None,
                    ndv_cols=pre_ndv or None,
                    group_stats_cols=pre_gs or None,
                )
            lake.write_manifest(path, version, op, n_after)
            lake.commit(path, version)
            # the staged version dir is immutable-by-protocol: its
            # listing IS the committed data-file set the MV hook
            # validates the live state against
            try:
                committed = sorted(_zm._data_files(data_dir))
            except Exception:
                committed = None
            self._mv_after_commit(path, op, mv_pre, committed)
            return n_after

        import os

        if lake._URI_RE.match(path) and not path.startswith("file:"):
            raise ValueError(
                f"non-versioned rewrite of {path!r} would need rename semantics "
                f"the object store does not have; create the table via "
                f"write_versioned (pointer-commit protocol) instead"
            )
        if path.startswith("file:"):
            path = path[len("file:"):]

        staging = path.rstrip("/") + "__staging"
        aside = path.rstrip("/") + "__old"
        if not os.path.exists(path) and os.path.exists(aside):
            # prior run crashed between its two renames: the aside copy
            # is the ONLY complete table — restore it before anything
            # (in particular before the debris sweep below, which would
            # otherwise delete it)
            os.rename(aside, path)
        for leftover in (staging, aside):  # debris from a prior crash
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
        pre_cols = stats_cols_of(path)
        pre_bloom = _zm.bloom_config(path)
        pre_hist = _zm.manifest_hist(path)
        pre_ndv = _zm.ndv_config(path)
        pre_gs = _zm.group_stats_config(path)
        write_to(staging)
        n_after = verify(staging)
        # the staged listing, captured while no external writer can
        # reach it, names exactly the data files this commit installs —
        # translated to their post-rename paths for the MV hook
        try:
            committed = sorted(
                path.rstrip("/") + f[len(staging):]
                for f in _zm._data_files(staging)
            )
        except Exception:
            committed = None
        os.rename(path, aside)
        os.rename(staging, path)
        shutil.rmtree(aside)
        if pre_cols:
            # rebuilt after the swap: a crash in between leaves a live
            # table without a manifest — queries fall back to full
            # scans (sound), never to a stale manifest (the guard
            # would refuse it anyway since file counts differ). The
            # bloom/hist/group-stats config was captured pre-swap: the
            # old doc left with the aside copy
            _zm.write_zonemap(
                self.spark, path, pre_cols,
                bloom_cols=pre_bloom or None,
                hist_cols=pre_hist or None,
                ndv_cols=pre_ndv or None,
                group_stats_cols=pre_gs or None,
            )
        self._mv_after_commit(path, op, mv_pre, committed)
        return n_after

    def write(self, df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options: str) -> None:
        """Format-dispatching sink (parquet/csv/json/orc) — the write
        half of the dialect's COPY TO surface (SURVEY §2 Tier B)."""
        writer = df.write.mode(mode).options(**options)
        if fmt == "csv" and "header" not in options:
            writer = writer.option("header", "true")
        writer.format(fmt).save(path)

    def create_view(self, name: str, query: str) -> DataFrame:
        """SQL view composition (reference dbt ref()/view models)."""
        df = self.spark.sql(query)
        df.createOrReplaceTempView(name)
        # (re)defining a view changes what later query text resolves
        # to: orphan every cached result (same discipline as DDL
        # through sql())
        self._view_epoch += 1
        return df

    # -- materialized views with transparent query rewrite -------------

    def _all_paths(self) -> dict[str, str]:
        """name -> resolved data path for every registered table (the
        extractors match LogicalRelation root paths against these)."""
        return {
            n: self._table_meta.get(n, {}).get("resolved", p)
            for n, p in self.tables.items()
        }

    def create_materialized_view(
        self, name: str, query: str, path: str
    ) -> dict:
        """Materialize an aggregate ``query`` at ``path`` and register
        it for TRANSPARENT REWRITE: subsequent ``sql()``/``df()`` calls
        whose optimized plan is the same grouping over the same table
        (or any scalar aggregate derivable from the partials, with
        predicates on the group column only) are answered from the MV
        instead of the base table — the warehouse answer to the
        reference dashboard re-running identical aggregates per widget
        refresh (``dashboard.py:37-39``). Rewrites cover the ROLLUP
        lattice: a query grouping by any SUBSET of the MV's keys (or
        none — a global aggregate) re-aggregates the mergeable
        partials. See plans/mv_rewrite.py for the exactness gates; a
        query outside them just runs plain.

        The query must be a plain single-table aggregate — up to 4
        GROUP BY keys (each selected), COUNT(*)/COUNT/SUM/MIN/MAX
        outputs, no WHERE, no AVG (materialize SUM + COUNT; AVG
        queries rewrite over the pair). Freshness: the source's snapshot token (one
        stat of the zone-map manifest list, else a capped file
        listing) is taken BEFORE materialization; a source commit
        afterwards makes every rewrite decline until
        :meth:`refresh_materialized_view`. Scale: the MV is one
        grouped aggregate of the source (one shuffle at build), and
        rewrites read only the MV.
        """
        with self._plan_lock:
            df = self.spark.sql(query)
            spec = mv_rewrite.mv_spec(df, self._all_paths())
            if spec is None:
                raise ValueError(
                    "query is not a rewritable aggregate shape (one "
                    "table, optional single GROUP BY key, plain "
                    "COUNT(*)/COUNT/SUM/MIN/MAX outputs, extractable "
                    "WHERE conjuncts only, no AVG/DISTINCT/expressions)"
                )
            table = spec["table"]
            source_path = self._all_paths()[table]
            # snapshot FIRST, then rebind: an external commit landing
            # between the two leaves the MV marked with the OLDER
            # token while the frame (bound at the rebind) reads the
            # newer state — freshness then sees drift and either
            # compensates over an EMPTY delta (the recorded input
            # files already cover the live set) or declines; the MV
            # can never serve rows its token post-dates (r15).
            snap = mv_rewrite.source_snapshot(source_path)
            # REBIND the source before materializing: a plain-dir temp
            # view keeps the file listing it was registered with, so a
            # frame planned against it can read PRE-append data while
            # source_snapshot() stamps the LIVE disk — an MV built from
            # that mismatch would serve stale aggregates marked fresh.
            # Re-registering binds the view (and the frame planned
            # below) to the same live state the snapshot describes.
            # (bound through the helper: this method holds the lock)
            tmeta = self._table_meta.get(table, {})
            tdf, meta = self._read_registration(
                self.tables[table], tmeta.get("fmt", "parquet"),
                tmeta.get("options") or {},
            )
            self._bind(table, self.tables[table], tdf, meta)
            df = self.spark.sql(query)
            spec = mv_rewrite.mv_spec(df, self._all_paths())
            if spec is None:  # the rebind cannot change the shape
                raise ValueError("query shape changed under rebind")
            source_path = self._all_paths()[spec["table"]]
            materialize = df.select(*spec.pop("_select"))
            # record the file listing from the PLANNED FRAME's own
            # binding (df.inputFiles), not a directory re-listing: an
            # external append landing between planning and a listing
            # would record a file the MV never aggregated, and
            # compensation would then permanently exclude it from
            # every delta (silent undercount). The frame's input set
            # provably equals what the MV aggregates; the per-file
            # stats are captured at the same moment, BEFORE the slow
            # materialization (r15, ADVICE).
            files = _mv_input_listing(materialize, source_path)
            files_stat = _mv_stat_listing(source_path, files)
        # the frame bound its views at creation: the (possibly slow)
        # materialization itself runs outside the plan lock
        materialize.write.mode("overwrite").parquet(path)
        meta = {
            **spec,
            "name": name,
            "query": query,
            "source_path": source_path,
            "snapshot": snap,
            "files": files,
            "files_stat": files_stat,
            "path": path,
        }
        mv_rewrite.save_mv(path, meta)
        self._mvs[name] = meta
        return {
            k: v
            for k, v in meta.items()
            if k not in ("snapshot", "files", "files_stat")
        }

    def register_materialized_view(self, name: str, path: str) -> dict:
        """Re-attach a persisted MV (``_mv.json`` written at creation)
        to this engine — the cross-session half: any engine over the
        same lake can adopt the materialization. The stored snapshot
        still gates freshness, so adopting a stale MV is harmless (it
        never rewrites until refreshed)."""
        meta = mv_rewrite.load_mv(path)
        if meta is None:
            raise ValueError(f"no {mv_rewrite.MV_FILE} under {path!r}")
        meta["name"] = name
        meta["path"] = path
        self._mvs[name] = meta
        return {k: v for k, v in meta.items() if k != "snapshot"}

    def refresh_materialized_view(
        self, name: str, incremental: bool = False
    ) -> dict:
        """Recompute a registered MV from its stored query and stamp
        the source's current snapshot — rewrites resume.

        ``incremental=True`` is the append-only fast path (Iceberg-
        style MV maintenance): the delta files since the last refresh
        are aggregated ALONE and merged into the existing partials —
        counts/sums add, mins/maxes fold, all exact because appends
        only add rows. Falls back to a full recompute when any
        recorded file disappeared (a rewrite/compaction can shrink
        aggregates, which no merge can express), when the build-time
        listing wasn't recorded (too large / adopted from a pre-r13
        _mv.json), or when the MV has no grouping partial layout. At
        100 TB this is the difference between re-scanning the table
        per refresh and reading only the day's appends. Returns the
        refresh telemetry: mode 'incremental' (+ delta_files),
        'noop' (source unchanged), or 'full'."""
        mv = self._mvs.get(name)
        if mv is None:
            raise KeyError(f"materialized view {name!r} is not registered")
        if not incremental:
            out = self.create_materialized_view(name, mv["query"], mv["path"])
            return {**out, "mode": "full"}
        old_files = mv.get("files")
        if not old_files:
            out = self.create_materialized_view(name, mv["query"], mv["path"])
            return {**out, "mode": "full"}
        # snapshot + listing BEFORE reading the delta (the creation
        # discipline): a racing commit can only cause later declines
        snap = mv_rewrite.source_snapshot(mv["source_path"])
        cur = _mv_file_listing(mv["source_path"])
        if cur is None or set(old_files) - set(cur):
            # listing un-capturable or files REMOVED: merge can't
            # express shrinkage — full recompute
            out = self.create_materialized_view(name, mv["query"], mv["path"])
            return {**out, "mode": "full"}
        new = sorted(set(cur) - set(old_files))
        if not new:
            mv["snapshot"] = snap  # nothing to do; re-stamp freshness
            mv["files"] = cur
            mv["files_stat"] = _mv_stat_listing(mv["source_path"], cur)
            mv.pop("_comp", None)
            mv_rewrite.save_mv(mv["path"], mv)
            return {"name": name, "mode": "noop"}
        # the SAME delta-partials builder the stale-compensation
        # rewrite uses (mv_rewrite.delta_partial_frame): both paths
        # merge identical arithmetic. None = unrecognized partial
        # layout or group kind — full recompute, never a guess.
        groups = [g["col"] for g in mv_rewrite._norm_groups(mv["groups"])]
        dagg = mv_rewrite.delta_partial_frame(self.spark, mv, new)
        merges = mv_rewrite.partial_merge_exprs(mv["partials"])
        if dagg is None or merges is None:
            out = self.create_materialized_view(name, mv["query"], mv["path"])
            return {**out, "mode": "full"}
        old = self.spark.read.parquet(mv["path"])
        merged = old.unionByName(dagg.select(*old.columns))
        merged = (
            merged.groupBy(*[F.col(g) for g in groups]).agg(*merges)
            if groups
            else merged.agg(*merges)
        )
        # pin the merged rows (MV-scale, small) so the overwrite of
        # the directory we just read from cannot fault the plan, and
        # keep the stored schema exactly (sum-of-sums re-widens
        # decimals; the cast back is exact short of a true overflow,
        # where a full recompute would widen identically)
        merged = merged.select(
            *[F.col(f.name).cast(f.dataType) for f in old.schema.fields]
        ).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(mv["path"])
        mv["snapshot"] = snap
        mv["files"] = cur
        mv["files_stat"] = _mv_stat_listing(mv["source_path"], cur)
        mv.pop("_comp", None)
        mv_rewrite.save_mv(mv["path"], mv)
        return {"name": name, "mode": "incremental", "delta_files": len(new)}

    def drop_materialized_view(self, name: str) -> None:
        self._mvs.pop(name, None)

    # -- MV lifecycle across table maintenance (r15, VERDICT r14 #4) ----

    def _mvs_on(self, table_path: str) -> list[tuple[str, dict]]:
        """Registered MVs whose SOURCE table is registered at
        ``table_path`` (the maintenance-call addressing: compact/
        optimize/merge/delete take the registration path, while the MV
        records the RESOLVED source dir)."""
        key = str(table_path).rstrip("/")
        return [
            (n, mv)
            for n, mv in self._mvs.items()
            if str(self.tables.get(mv.get("table"), "")).rstrip("/") == key
        ]

    def _mv_pre_commit(self, table_path: str) -> dict[str, bool]:
        """Per-MV freshness right BEFORE a maintenance rewrite of
        ``table_path``: True when the MV's recorded snapshot still
        matches its source exactly (its rows equal the pre-commit
        aggregate)."""
        from quack_reduce_spark import lake

        out: dict[str, bool] = {}
        try:
            live_dir = str(lake.resolve(table_path)).rstrip("/")
        except Exception:
            live_dir = None
        for name, mv in self._mvs_on(table_path):
            try:
                # fresh = bound to the LIVE resolution (a versioned
                # MV recorded on an older immutable version dir always
                # matches its own snapshot — that is not freshness)
                # AND the snapshot still matches
                out[name] = (
                    live_dir is not None
                    and str(mv.get("source_path", "")).rstrip("/")
                    == live_dir
                    and mv.get("snapshot") is not None
                    and mv_rewrite.source_snapshot(mv["source_path"])
                    == mv["snapshot"]
                )
            except Exception:
                out[name] = False
        return out

    def _mv_after_commit(
        self,
        table_path: str,
        op: str,
        pre_fresh: dict[str, bool],
        committed_files: list[str] | None = None,
    ) -> None:
        """Keep MVs ALIVE across maintenance rewrites of their source
        instead of silently dead until a manual refresh (VERDICT r14
        what's-wrong #2): a row-preserving rewrite (compact/optimize —
        same rows, new layout) of a table whose MV was FRESH only
        needs a RE-STAMP — new source dir + snapshot + file listing,
        zero data read, the MV rows are already exactly the new
        table's aggregate. Anything else (rows changed, or the MV had
        drifted pre-commit) marks the MV for a LAZY SELF-REFRESH: the
        next sql()/df() call refreshes it before attempting rewrites,
        so the dashboard keeps its acceleration with no manual call.
        Failures leave the MV declining (sound), never stale.

        ``committed_files``: the data files the rewrite itself
        installed, captured from the staged output where no external
        writer can reach (r15 review). The re-stamp fires only when
        the post-commit LIVE listing equals this set exactly — a
        concurrent external append would otherwise be absorbed into
        the fresh stamp (snapshot includes a file the MV never
        aggregated) or recorded into ``files`` (permanently excluded
        from every compensation delta). Snapshot is taken BEFORE the
        listing, so a foreign file landing after the snapshot but
        inside an equal listing window is impossible, and one landing
        after the listing shows up as an ordinary compensation delta."""
        from quack_reduce_spark import lake

        def mark(mv: dict) -> None:
            # PERSISTED (non-underscore) in _mv.json so an engine that
            # ADOPTS this MV later (register_materialized_view after a
            # restart) self-refreshes on its first query instead of
            # silently declining until a manual refresh
            mv["needs_refresh"] = True
            try:
                mv_rewrite.save_mv(mv["path"], mv)
            except Exception:
                pass  # the in-memory mark still drives this session

        rows_preserved = op in ("compact", "optimize")
        for name, mv in self._mvs_on(table_path):
            try:
                if not rows_preserved or not pre_fresh.get(name):
                    mark(mv)
                    continue
                # resolve the LIVE pointer directly — the registered
                # view's cached resolution is stale until the next
                # _refresh_versioned_views pass
                new_resolved = lake.resolve(table_path)
                snap = mv_rewrite.source_snapshot(new_resolved)  # BEFORE listing
                files = _mv_file_listing(new_resolved)
                if (
                    snap is None
                    or files is None
                    or committed_files is None
                    or sorted(files) != list(committed_files)
                ):
                    # live state != what this commit installed (racing
                    # external append, or un-capturable): never stamp
                    mark(mv)
                    continue
                mv["source_path"] = new_resolved
                mv["snapshot"] = snap
                mv["files"] = files
                mv["files_stat"] = _mv_stat_listing(new_resolved, files)
                mv.pop("_comp", None)
                mv.pop("needs_refresh", None)
                mv_rewrite.save_mv(mv["path"], mv)
            except Exception:
                mark(mv)

    def _mv_self_refresh(self) -> None:
        """Run the pending lazy refreshes marked by
        :meth:`_mv_after_commit` — called from the SQL surface OUTSIDE
        the plan lock (refresh re-enters create_materialized_view,
        which takes it). One attempt per mark; a failed refresh leaves
        the MV declining (the cleared mark is re-persisted so other
        adopters don't retry-loop either) rather than retrying every
        query."""
        for name, mv in list(self._mvs.items()):
            if not mv.pop("needs_refresh", False):
                continue
            try:
                # a re-resolved source (versioned pointer flip) has no
                # incremental contract against the recorded listing —
                # go straight to the full recompute
                cur = self._all_paths().get(mv.get("table"))
                self.refresh_materialized_view(
                    name, incremental=(cur == mv.get("source_path"))
                )
                # refresh re-stamped and re-saved the doc (markless)
            except Exception:
                try:
                    mv_rewrite.save_mv(mv["path"], mv)  # clear the persisted mark
                except Exception:
                    pass


_FIXED_WIDTHS = None


# Observability for the join-planning ANALYZE passes: incremented only
# when a side's stats had to come from a data scan (tests assert that
# manifest-backed sides run ZERO of these).
ANALYZE_COUNTS = {"side_scans": 0}

# Result-cache bounds + observability (tests assert hit/miss behavior).
# MAX_ROWS guards the uncapped (limit=None) surface: the envelope
# already materialized the records once, but the cache would pin up to
# RESULT_CACHE_MAX copies of them
RESULT_CACHE_MAX = 128
RESULT_CACHE_MAX_ROWS = 10_000
# byte budget over the whole cache (approximate: JSON-rendered record
# bytes at store time) — 128 entries x 10k wide rows could otherwise
# pin GBs of driver heap; a single result above the budget is never
# stored
RESULT_CACHE_MAX_BYTES = 64 * 1024 * 1024

# Incremental MV refresh records the build-time file listing up to
# this many files; beyond it (or when listing fails) refreshes fall
# back to full recompute — at that table size the listing should come
# from a manifest-backed source anyway
MV_INCR_MAX_FILES = 4096


def _fired(report: dict[str, dict], rule: str) -> dict | None:
    """``rule``'s telemetry in a planned query's report, None when
    another rule (or none) answered the query."""
    return next((rep[rule] for rep in report.values() if rule in rep), None)


def _mv_input_listing(df: DataFrame, source_path: str) -> list[str] | None:
    """The planned frame's ACTUAL file binding (``df.inputFiles``),
    normalized to the fs-walk form ``_mv_file_listing`` returns — the
    set compensation / incremental refresh diff later listings
    against. None when the binding is unavailable, exceeds the cap, or
    reads outside the source table (the MV then declines incremental
    paths, falling back to full refresh — sound)."""
    from quack_reduce_spark.operators.zonemaps import _bare, _unq

    try:
        files = sorted({_unq(_bare(p)) for p in df.inputFiles()})
    except Exception:
        return None
    base = source_path.rstrip("/")
    if not files or len(files) > MV_INCR_MAX_FILES:
        return None
    if any(
        not (f == base or f.startswith(base + "/")) for f in files
    ):
        return None  # not a plain scan of the source: no file contract
    return files


def _mv_file_listing(path: str) -> list[str] | None:
    """Sorted data-file listing for MV delta detection, or None when
    it cannot be captured cheaply (too many files / listing error)."""
    from quack_reduce_spark.lake import _fs_for
    from quack_reduce_spark.operators.zonemaps import _data_files

    base = path.rstrip("/")
    fs = _fs_for(base)
    if not fs.is_dir(base):
        return [base]
    try:
        files = sorted(_data_files(base))
    except Exception:
        return None
    if not files or len(files) > MV_INCR_MAX_FILES:
        return None
    return files


def _mv_stat_listing(
    path: str, files: list[str] | None
) -> dict[str, list] | None:
    """Per-file (mtime, size) stats for the MV's recorded listing —
    the stale-compensation rewrite re-stats these to PROVE the drift
    was append-only (an unchanged stat on every recorded file). None
    when the listing itself was uncapturable."""
    from quack_reduce_spark.lake import _fs_for

    if files is None:
        return None
    fs = _fs_for(path)
    out: dict[str, list] = {}
    for f in files:
        k = fs.stat_key(f)
        if k is None:
            return None
        out[f] = list(k)
    return out


def _is_command(df: DataFrame) -> bool:
    """True when the frame is an eagerly-executed DDL/DML command
    (CommandResult / *Command analyzed root). Introspection failure
    says True — callers treat commands conservatively."""
    try:
        return (
            "Command"
            in df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        )
    except Exception:
        return True


# leaf plan nodes a cacheable query may read from: literal rows and
# number ranges (deterministic, no external state), plus
# LogicalRelation — whose scan paths are checked against the engine's
# registered tables below. Anything else (LogicalRDD from an arbitrary
# createDataFrame, streaming sources, unrecognized future leaves) is
# state the freshness token cannot see: decline.
# (scala case OBJECTS report getSimpleName with a trailing '$')
_CACHEABLE_LEAVES = {
    "LocalRelation", "OneRowRelation", "OneRowRelation$", "Range",
}

def _norm_fs_path(p: str) -> str:
    """Normalize a scan/registered path for prefix comparison: drop a
    local-file scheme, URI-decode, strip trailing slashes."""
    from urllib.parse import unquote

    s = str(p)
    if s.startswith("file:"):
        s = s[len("file:"):]
        while s.startswith("//"):  # file:///x and file:/x both -> /x
            s = s[1:]
    return unquote(s).rstrip("/")


def _plan_cache_scope(df: DataFrame, allowed_paths=()) -> set[str] | None:
    """The subset of ``allowed_paths`` (normalized) the plan actually
    READS — the cache-token scope — or None when the result is not
    cacheable at all. A result is cacheable only when the plan is a
    pure deterministic query over state the freshness token covers:

    - no call-time clock expressions on the ANALYZED plan
      (current_timestamp()/now()/current_date() fold to deterministic
      literals before optimization — a cache hit would replay the
      first call's clock). Catalyst tags them CURRENT_LIKE, and also
      current_database()/current_user(), which read session state and
      decline too;
    - no Command nodes (DDL/DML execute eagerly, must not replay);
    - no nondeterministic expressions (rand() must re-draw);
    - every leaf relation is literal rows / a range, or a file scan
      whose every root path lies under a REGISTERED table path — a
      direct ``parquet.`/path``` scan or a view over an unregistered
      source has no snapshot in the freshness token and could change
      without invalidating.

    Every check also covers the subquery plans (ScalarSubquery /
    Exists / IN's ListQuery / lateral subqueries hold their plan
    out-of-band: a clock or rand() inside one must not evade them).
    The checks are JVM-side tree queries — a few py4j round trips per
    plan, not one per expression node. Any introspection failure
    declines caching — sound. An empty set is a valid scope (a
    pure-literal query reads nothing; its records can never go
    stale)."""
    try:
        allowed = sorted(
            (_norm_fs_path(p) for p in allowed_paths),
            key=len, reverse=True,  # longest prefix wins on nesting
        )
        current_like, command = _tree_patterns(df)
        qe = df._jdf.queryExecution()
        if any(
            p.containsPattern(current_like)
            for p in _with_subqueries(qe.analyzed())
        ):
            return None
        touched: set[str] = set()
        for plan in _with_subqueries(qe.optimizedPlan()):
            if plan.containsPattern(command) or not plan.deterministic():
                return None
            leaves = plan.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                cls = leaf.getClass().getSimpleName()
                if cls == "LogicalRelation":
                    roots = leaf.relation().location().rootPaths()
                    for j in range(roots.size()):
                        rp = _norm_fs_path(roots.apply(j).toString())
                        ap = next(
                            (
                                a for a in allowed
                                if rp == a or rp.startswith(a + "/")
                            ),
                            None,
                        )
                        if ap is None:
                            return None
                        touched.add(ap)
                elif cls not in _CACHEABLE_LEAVES:
                    return None
        return touched
    except Exception:
        return None


def _with_subqueries(plan: Any) -> list:
    """``plan`` followed by every subquery plan under it, nested ones
    included (Catalyst's ``subqueriesAll``)."""
    subs = plan.subqueriesAll()
    return [plan] + [subs.apply(i) for i in range(subs.size())]


# gateway client -> Catalyst's (CURRENT_LIKE, COMMAND) tree patterns
_TREE_PATTERNS: dict = {}


def _tree_patterns(df: DataFrame) -> tuple:
    client = df._sc._gateway._gateway_client
    got = _TREE_PATTERNS.get(client)
    if got is None:
        tp = df._sc._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        got = _TREE_PATTERNS[client] = (tp.CURRENT_LIKE(), tp.COMMAND())
    return got


def _fixed_widths() -> dict:
    global _FIXED_WIDTHS
    if _FIXED_WIDTHS is None:
        from pyspark.sql import types as T

        _FIXED_WIDTHS = {
            T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2,
            T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
            T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
            T.TimestampNTZType: 8,
        }
    return _FIXED_WIDTHS


def _observed_width_aggs(schema) -> list:
    """Aggregate expressions measuring each variable-width column's
    mean in-row bytes — avg octet length for strings/binary, avg
    element count x element width for fixed-element arrays — meant to
    ride in the SAME aggregate that counts rows (no extra scan)."""
    from pyspark.sql import types as T

    fixed = _fixed_widths()
    aggs = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, (T.StringType, T.BinaryType)):
            aggs.append(
                F.avg(F.octet_length(F.col(f.name))).alias(f"__w_{f.name}")
            )
        elif isinstance(dt, T.ArrayType) and type(dt.elementType) in fixed:
            aggs.append(
                (F.avg(F.size(F.col(f.name))) * fixed[type(dt.elementType)])
                .alias(f"__w_{f.name}")
            )
    return aggs


def _est_row_bytes(schema, observed: dict[str, float] | None = None) -> int:
    """Planner-style per-row width: fixed widths for fixed-width
    types; variable-width columns take their OBSERVED mean bytes when
    the caller measured them (``observed``: column -> mean bytes, from
    :func:`_observed_width_aggs`), else the schema-only defaults
    Spark's own statistics fall back to (20 bytes per string, 16 per
    nested/unknown). The observed path is what keeps explain_join from
    force-broadcasting a wide-text relation it undersized 50x."""
    import math

    from pyspark.sql import types as T

    fixed = _fixed_widths()
    observed = observed or {}
    total = 0
    for f in schema.fields:
        if f.name in observed:
            total += max(1, int(math.ceil(observed[f.name])))
        elif type(f.dataType) in fixed:
            total += fixed[type(f.dataType)]
        elif isinstance(f.dataType, T.StringType):
            total += 20
        else:
            total += 16
    return total


def _discover_partition_cols(path: str) -> list[str]:
    """Hive partition columns implied by a directory layout: the
    ``name=value`` segments on the path from ``path`` down to the first
    parquet leaf (the same convention Spark's partition discovery
    reads). Empty for flat layouts and single files. ``file:`` URIs
    are walked locally; other URI schemes (s3a/...) return [] — pass
    ``partition_by`` explicitly for object-store maintenance (listing
    a remote tree per rewrite is a cost the caller should opt into)."""
    import os

    if path.startswith("file:"):
        path = path[len("file:"):]
    if not os.path.isdir(path):
        return []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        if any(f.endswith(".parquet") for f in filenames):
            rel = os.path.relpath(dirpath, path)
            if rel == ".":
                return []
            return [seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]
    return []


def _count_parquet_files(path: str) -> int:
    """Recursive DATA parquet file count (correct on hive-partitioned
    trees, where a flat glob would see zero files), honoring Spark's
    hidden-name rule (``sources._hidden``) — the ``_zonemap`` manifest
    tree and ``_SUCCESS`` are metadata, not table files. Local /
    ``file:`` paths only (maintenance stats)."""
    import os

    from quack_reduce_spark.sources import _hidden

    if path.startswith("file:"):
        path = path[len("file:"):]
    if os.path.isfile(path):
        return 1 if path.endswith(".parquet") else 0
    n = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        n += sum(1 for f in files if f.endswith(".parquet") and not _hidden(f))
    return n


def _records_json_safe(df: DataFrame) -> list[dict[str, Any]]:
    """Rows as JSON-safe dicts; timestamps/dates → str (app.py:61-67)."""
    import datetime
    import decimal

    def conv(v: Any) -> Any:
        if isinstance(v, (datetime.datetime, datetime.date)):
            return str(v)
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, bytearray):
            return bytes(v).hex()
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, dict):  # nested structs/maps from asDict(recursive=True)
            return {k: conv(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):  # array columns may hold ts/Decimal too
            return [conv(x) for x in v]
        return v

    return [{k: conv(v) for k, v in row.asDict(recursive=True).items()} for row in df.collect()]
