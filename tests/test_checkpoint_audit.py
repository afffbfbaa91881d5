"""Ratchets on the package source.

``localCheckpoint`` truncates lineage, so a frame pinned by one cannot
be recomputed after an executor loss. Each remaining call site is to
be swapped for a lineage-keeping reuse or kept with a measured reason;
this count may only go down. Lower ``MAX_SITES`` when a site goes.

``except Exception`` in the engine and the metadata rules is where a
planner bug can hide as a silent fallback; that count may only go
down too. And no rule reads or binds a view by name: rules run outside
the engine's plan lock, where the session's views may be swapped.
"""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "quack_reduce_spark"
MAX_SITES = 23
MAX_BROAD_EXCEPTS = 40


def test_local_checkpoint_sites_only_go_down():
    sites = {
        str(p.relative_to(PKG)): n
        for p in sorted(PKG.rglob("*.py"))
        if (n := p.read_text().count(".localCheckpoint("))
    }
    assert sum(sites.values()) <= MAX_SITES, sites


def test_broad_excepts_in_engine_and_rules_only_go_down():
    files = [PKG / "engine.py", *sorted((PKG / "plans").glob("*.py"))]
    sites = {
        p.name: n for p in files if (n := p.read_text().count("except Exception"))
    }
    assert sum(sites.values()) <= MAX_BROAD_EXCEPTS, sites


def test_rules_never_touch_views_by_name():
    banned = ("spark.table(", "spark.sql(", "createOrReplaceTempView")
    hits = [
        (p.name, b)
        for p in sorted((PKG / "plans").glob("*.py"))
        for b in banned
        if b in p.read_text()
    ]
    assert not hits, hits
