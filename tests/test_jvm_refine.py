"""JVM-expression PIP refinement (tile_index(refine="jvm")) equivalence
and plan shape.

The JVM path must be indistinguishable from the Arrow-kernel path on
every layer shape the engine supports — rectangles, triangles, concave
stars, polygons with holes, lines (edge-only semantics) — including
probe points that sit exactly ON polygon edges/vertices (covers
semantics via the 1e-9 on-edge test). Reference parity target:
mundipy/dataset.py:100,109 (coarse filter + shapely exact refine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mundipy_spark.kernels import wkb
from mundipy_spark.operators import joins
from mundipy_spark.sources import pages as pages_src


def _star(rng, cx, cy, n=12, r0=2.0, r1=9.0):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return ("Polygon", [np.vstack([ring, ring[:1]])])


def _layers(spark):
    rng = np.random.default_rng(7)
    layers = {
        "rect": pages_src.synth_regions(spark, step_deg=10.0),
        "tri": pages_src.synth_regions(spark, step_deg=10.0, triangles=True),
    }
    rows = [
        {
            "region": f"S{i}",
            "geometry": wkb.dumps(
                _star(rng, rng.uniform(-150, 150), rng.uniform(-70, 70))
            ),
            "pop": 1.0,
        }
        for i in range(8)
    ]
    outer = np.array([[0, 0], [20, 0], [20, 20], [0, 20], [0, 0]], float)
    hole = np.array([[5, 5], [15, 5], [15, 15], [5, 15], [5, 5]], float)
    rows.append(
        {"region": "HOLE", "geometry": wkb.dumps(("Polygon", [outer, hole])), "pop": 1.0}
    )
    layers["star_hole"] = spark.createDataFrame(pd.DataFrame(rows))
    lrows = [
        {
            "region": f"L{i}",
            "geometry": wkb.dumps(
                ("LineString", np.array([[i * 10 - 100, -50], [i * 10 - 95, 60]], float))
            ),
            "pop": 1.0,
        }
        for i in range(5)
    ]
    layers["line"] = spark.createDataFrame(pd.DataFrame(lrows))
    return layers


def _points(spark):
    rng = np.random.default_rng(11)
    n = 4000
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(-179.9, 179.9, n).round(4),
            "lat": rng.uniform(-89.9, 89.9, n).round(4),
        }
    )
    # exactly on rect-grid edges, vertices, and a line vertex: the
    # covers-semantics knife edges
    extra = pd.DataFrame(
        {
            "pid": np.arange(n, n + 6),
            "lon": [-180.0, -170.0, -165.0, -100.0, -97.5, 0.0],
            "lat": [-90.0, -80.0, -85.0, -50.0, 5.0, 0.0],
        }
    )
    return spark.createDataFrame(pd.concat([pts, extra], ignore_index=True))


@pytest.mark.parametrize("how", ["inner", "left"])
def test_jvm_refine_matches_arrow(spark, how):  # noqa: F811
    pdf = _points(spark)
    for name, layer in _layers(spark).items():
        ia = joins.tile_index(layer, res=6, refine="arrow")
        ij = joins.tile_index(layer, res=6, refine="jvm")
        a = (
            joins.tile_join_points(pdf, layer, res=6, how=how, index=ia)
            .select("pid", "region")
            .orderBy("pid", "region")
            .toPandas()
        )
        j = (
            joins.tile_join_points(pdf, layer, res=6, how=how, index=ij)
            .select("pid", "region")
            .orderBy("pid", "region")
            .toPandas()
        )
        assert a.equals(j), f"layer={name} how={how}: jvm != arrow"


def test_jvm_refine_probe_plan_has_no_python(spark):  # noqa: F811
    """The whole point of refine="jvm": once the (build-side) index is
    materialized, the probe plan contains ZERO Python nodes — the PIP
    refinement is a flat codegen expression in the join stage."""
    layer = pages_src.synth_regions(spark, step_deg=10.0)
    idx = joins.tile_index(layer, res=6, refine="jvm").persist()
    idx.count()
    pdf = _points(spark)
    out = joins.tile_join_points(pdf, layer, res=6, how="inner", index=idx).groupBy(
        "region"
    ).count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only allowed Python nodes are inside the cached index build
    # (InMemoryTableScan replays no Python); the probe side must be free
    probe = plan.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" not in probe
    assert "pythonUDF" not in probe
    # geometry/WKB never ships: the jvm index dropped the column
    assert "geometry" not in idx.columns
    idx.unpersist()


def test_jvm_index_schema_and_maxk(spark):  # noqa: F811
    layer = pages_src.synth_regions(spark, step_deg=10.0)
    idx = joins.tile_index(layer, res=6, refine="jvm")
    for c in ("nring", "bpar", "segs", "cell", "cell_full", "minx"):
        assert c in idx.columns
    k = joins._index_maxk(idx)
    assert 1 <= k <= 8  # rect grid keeps 1-3 segments per boundary cell


def test_dense_prebuilt_jvm_index_uses_hof_fallback(spark):
    """A prebuilt refine="jvm" index denser than UNROLL_CAP must still
    answer exactly (HOF-aggregate fallback), and the DEFAULT build for
    such a layer must auto-select the Arrow index instead (the
    los-angeles fixture at res 10 keeps ~hundreds of segments per
    boundary cell: real-polygon density, reference tests/fixtures)."""
    import os

    fix = "/root/reference/tests/fixtures/los-angeles.geojson"
    if not os.path.exists(fix):
        pytest.skip("reference fixtures unavailable")
    from mundipy_spark.sources.geojson import read_geojson

    hoods = read_geojson(spark, fix).withColumnRenamed("name", "region")
    pts = _points(spark).filter(
        (F.col("lon") > -119) & (F.col("lon") < -117)
        & (F.col("lat") > 33) & (F.col("lat") < 35)
    )
    ij = joins.tile_index(hoods, res=10, refine="jvm").persist()
    assert joins._index_maxk(ij) > joins.UNROLL_CAP
    ia = joins.tile_index(hoods, res=10, refine="arrow").persist()
    a = (
        joins.tile_join_points(pts, hoods, res=10, how="inner", index=ia)
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    j = (
        joins.tile_join_points(pts, hoods, res=10, how="inner", index=ij)
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    assert a.equals(j)
    # default build on the dense layer silently picks the Arrow index
    d = (
        joins.tile_join_points(pts, hoods, res=10, how="inner")
        .select("pid", "region").orderBy("pid", "region").toPandas()
    )
    assert a.equals(d)
    ij.unpersist(); ia.unpersist()


def test_invalid_multipolygon_falls_back_to_arrow(spark):
    """An INVALID multipolygon with overlapping member interiors follows
    the one PIP rule (global even-odd parity over all ring edges) on
    every path: the double-covered point is outside on the default, jvm
    and arrow paths, and its jvm index probes without raising. Only a
    GeometryCollection with two or more areal members, whose members OR,
    still makes the default path fall back to the Arrow index (and an
    explicit jvm index of it refuse to be probed)."""
    sq = lambda x0, y0, x1, y1: np.array(  # noqa: E731
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [0, 1, 2, 3],
                "lon": [15.0, 5.0, 25.0, 40.0],  # overlap, A-only, B-only, out
                "lat": [15.0, 5.0, 25.0, 40.0],
            }
        )
    )

    def layer(geom):
        return spark.createDataFrame(
            pd.DataFrame([{"region": "R", "geometry": wkb.dumps(geom), "pop": 1.0}])
        )

    def pids(polys, **kw):
        return sorted(
            joins.tile_join_points(pts, polys, res=4, poly_cols=["region"], **kw)
            .select("pid")
            .toPandas()["pid"]
            .tolist()
        )

    # members [0,20]^2 and [10,10]-[30,30]: overlap region [10,20]^2
    bad = layer(("MultiPolygon", [[sq(0, 0, 20, 20)], [sq(10, 10, 30, 30)]]))
    idx_j = joins.tile_index(bad, res=4, keep=["region"], refine="jvm")
    idx_a = joins.tile_index(bad, res=4, keep=["region"], refine="arrow")
    # global parity: the double-covered point 0 is outside on every path
    assert pids(bad) == pids(bad, index=idx_j) == pids(bad, index=idx_a) == [1, 2]
    maxk, unsafe = joins._index_probe(idx_j)
    assert not unsafe and joins._index_maxk(idx_j) == maxk > 0

    # a collection's members OR: the overlap point matches, via Arrow
    gc = layer(
        ("GeometryCollection", [("Polygon", [sq(0, 0, 20, 20)]),
                                ("Polygon", [sq(10, 10, 30, 30)])])
    )
    assert pids(gc) == [0, 1, 2]
    gidx = joins.tile_index(gc, res=4, keep=["region"], refine="jvm")
    with pytest.raises(ValueError, match="two or more areal members"):
        joins._index_maxk(gidx)

    # a VALID multipolygon (touching members) keeps the jvm fast path
    ok = ("MultiPolygon", [[sq(0, 0, 10, 10)], [sq(10, 0, 20, 10)]])
    vidx = joins.tile_index(layer(ok), res=4, keep=["region"], refine="jvm")
    maxk, unsafe = joins._index_probe(vidx)
    assert not unsafe and maxk > 0
