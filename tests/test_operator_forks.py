"""Source guard: each operator family keeps one implementation — the
rect × polygon predicate dispatch lives in ``ZoneIndex.refine``, the
polygon zone-pixel selection in one zonal generator, and the bucketed
kNN ring escalation in ``knn_features_bucketed``."""

from pathlib import Path

OPS = Path(__file__).resolve().parents[1] / "rsgislib_spark" / "operators"


def test_rect_within_polygon_called_once_in_operators():
    sites = {
        p.name: n
        for p in sorted(OPS.rglob("*.py"))
        if (n := p.read_text().count("rect_within_polygon("))
    }
    assert sum(sites.values()) <= 1, sites


def test_one_zone_pixel_selection():
    assert (OPS / "zonal.py").read_text().count("points_in_polygon(") <= 1


def test_one_knn_ring_escalation():
    assert (OPS / "knn.py").read_text().count("ring *= 4") <= 1
