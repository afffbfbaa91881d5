"""Ratchet for the ``localCheckpoint`` audit (ROADMAP item 5).

``localCheckpoint`` truncates lineage, so a frame pinned by one cannot
be recomputed after an executor loss. Each remaining call site is to
be swapped for a lineage-keeping reuse or kept with a measured reason;
this count may only go down. Lower ``MAX_SITES`` when a site goes.
"""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "quack_reduce_spark"
MAX_SITES = 23


def test_local_checkpoint_sites_only_go_down():
    sites = {
        str(p.relative_to(PKG)): n
        for p in sorted(PKG.rglob("*.py"))
        if (n := p.read_text().count(".localCheckpoint("))
    }
    assert sum(sites.values()) <= MAX_SITES, sites
