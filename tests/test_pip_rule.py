"""One point-in-polygon rule on every path (the `kernels.predicates`
module docstring): `points_in_geom`, LocalIndex's edge tables, the
Arrow refine kernel and the tile joins on refine="jvm" and "arrow"
indexes give the same answer on invalid and nearly closed geometries,
at their vertices, points on their edges and overlap points."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mundipy_spark.feature import LocalIndex
from mundipy_spark.functions import st
from mundipy_spark.kernels import predicates, wkb
from mundipy_spark.operators import joins
from tools import fuzz_campaign


def _sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


FIXTURES = {
    "holed": ("Polygon", [_sq(0, 0, 4, 4), _sq(1, 1, 3, 3)[::-1]]),
    "bowtie": ("Polygon", [np.array([[0, 0], [2, 2], [2, 0], [0, 2], [0, 0]], float)]),
    "multi_overlap": ("MultiPolygon", [[_sq(0, 0, 2, 2)], [_sq(1, 1, 3, 3)]]),
    "gc_overlap": (
        "GeometryCollection",
        [("Polygon", [_sq(0, 0, 2, 2)]), ("Polygon", [_sq(1, 1, 3, 3)])],
    ),
    # not closed: its last vertex is 1e-3 deg from the first, so the
    # closing edge is real and (99.99, 50.0002) lies clearly outside
    "near_closed": (
        "Polygon", [np.array([[100, 50], [101, 50.5], [100, 51], [100.0009, 50.0004]])]
    ),
}
NAMES = list(FIXTURES)
# a GeometryCollection ORs its members, which the JVM refine cannot
# express: an explicit jvm index of it refuses to be probed
JVM_NAMES = [n for n in NAMES if n != "gc_overlap"]
RES = 9


def _probes() -> np.ndarray:
    geoms = list(FIXTURES.values())
    segs = np.concatenate([predicates.geom_segments(g) for g in geoms])
    return np.vstack(
        [
            np.concatenate([predicates.geom_vertices(g) for g in geoms]),
            (segs[:, :2] + segs[:, 2:]) / 2.0,
            # k/7 of the way along: off the binary grid of the ends
            *(segs[:, :2] + (segs[:, 2:] - segs[:, :2]) * k / 7.0 for k in range(1, 7)),
            # overlap / bow-tie knot and lobes / hole / ring / outside
            [[1.5, 1.5], [1.0, 1.0], [0.5, 1.0], [1.0, 0.5], [2.5, 2.5],
             [2.0, 2.0], [0.5, 0.5], [3.5, 3.5], [5.0, 5.0],
             [99.99, 50.0002], [100.5, 50.5], [100.0004, 50.0002]],
        ]
    )


def _join_hits(spark, pts, names, refine) -> np.ndarray:
    layer = spark.createDataFrame(
        pd.DataFrame({"region": names, "geometry": [wkb.dumps(FIXTURES[n]) for n in names]})
    )
    index = joins.tile_index(layer, res=RES, refine=refine)
    rows = joins.tile_join_points(pts, layer, res=RES, index=index).select(
        "pid", "region"
    ).collect()
    hit = np.zeros((pts.count(), len(NAMES)), dtype=bool)
    for r in rows:
        hit[r["pid"], NAMES.index(r["region"])] = True
    return hit


@pytest.fixture(scope="module")
def answers(spark):
    probes = _probes()
    xs, ys = probes[:, 0], probes[:, 1]
    blobs = [wkb.dumps(g) for g in FIXTURES.values()]
    ix = LocalIndex([(b, {"i": i}) for i, b in enumerate(blobs)])
    local = np.zeros((len(probes), len(NAMES)), dtype=bool)
    for k, (x, y) in enumerate(probes):
        for f in ix.intersects(("Point", np.array([x, y]))):
            local[k, f["i"]] = True
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(probes)), "lon": xs, "lat": ys})
    )
    return probes, {
        "points_in_geom": np.stack(
            [predicates.points_in_geom(xs, ys, g) for g in FIXTURES.values()], axis=1
        ),
        "LocalIndex.intersects": local,
        "st._pip_flat": np.stack(
            [st._pip_flat(xs, ys, [b] * len(xs))[0] for b in blobs], axis=1
        ),
        "tile join, arrow index": _join_hits(spark, pts, NAMES, "arrow"),
        "tile join, jvm index": _join_hits(spark, pts, JVM_NAMES, "jvm"),
    }


@pytest.mark.parametrize("name", NAMES)
def test_every_pip_path_agrees(answers, name):
    probes, paths = answers
    j = NAMES.index(name)
    want = paths["points_in_geom"][:, j]
    for path, hit in paths.items():
        if path == "tile join, jvm index" and name not in JVM_NAMES:
            continue
        bad = np.nonzero(hit[:, j] != want)[0]
        assert not len(bad), f"{path} on {name}: {probes[bad].tolist()} want {want[bad]}"


def test_pip_rule_values():
    """The rule itself: overlapping parts of one geometry cancel, the
    members of a collection OR, and a nearly closed ring keeps its
    closing edge."""
    pig = predicates.points_in_geom
    one = lambda g, x, y: bool(pig(np.array([x]), np.array([y]), g)[0])  # noqa: E731
    assert not one(FIXTURES["multi_overlap"], 1.5, 1.5)
    assert one(FIXTURES["gc_overlap"], 1.5, 1.5)
    assert not one(FIXTURES["bowtie"], 1.0, 0.5) and one(FIXTURES["bowtie"], 0.5, 1.0)
    assert not one(FIXTURES["holed"], 2.0, 2.0) and one(FIXTURES["holed"], 0.5, 0.5)
    assert not one(FIXTURES["near_closed"], 99.99, 50.0002)
    assert one(FIXTURES["near_closed"], 100.5, 50.5)


def test_fuzz_pip_branch():
    """The fuzz campaign's PIP branch, bounded: no path disagrees."""
    assert fuzz_campaign.check_pip(200, 2026) == 0
