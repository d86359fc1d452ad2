"""The benchmark's workloads.

Each workload generates its inputs from the seed (`generate`), builds
its prebuilt state (`prepare`), runs one timed pass (`run_pass`) whose
output `check` compares against an independent answer (perfbench/
oracles.py), and in the traced run times a ladder of its layers
(`layers`). Inputs reach the engine only as generated DataFrames or
files; the engine is called through its public functions only.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
import zlib
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from mundipy_spark.kernels import wkb
from mundipy_spark.operators import dissolve, geoparse, joins
from mundipy_spark.plans import pipeline
from mundipy_spark.sources import checkpoint as ckpt
from mundipy_spark.sources import pages as pages_src

from perfbench import harness, oracles

RES = pipeline.CELL_RES_FINE


def _consume(df, expr, **counts) -> dict:
    """Run `df` to completion, consumed by its row count and a sum over
    `expr`; `counts` name extra boolean columns to count."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(expr.cast("double")).alias("_sum"),
        *[F.count_if(c).alias(k) for k, c in counts.items()],
    ).collect()[0]
    return {k: int(r[k]) for k in ("rows", *counts)}


def _observed_counts(stages) -> list[int]:
    """Row counts at each stage of one pipeline, from Observation.

    stages: functions df -> df applied in order from None; each stage's
    output is observed. Run once, outside the timed rungs: an observed
    node ends a whole-stage-codegen pipeline, so it would distort the
    time of the layer it sits on."""
    obs, df = [], None
    for stage in stages:
        o = Observation()
        df = stage(df).observe(o, F.count(F.lit(1)).alias("n"))
        obs.append(o)
    df.agg(F.count(F.lit(1))).collect()
    return [o.get["n"] for o in obs]


def _index_build_s(tracer, reps: int, build, payload) -> list[float]:
    """Times of building a tile index `reps` times, each consumed by a
    checksum over its refine payload (so no cover or refine UDF is
    pruned) without caching another copy of it."""
    times = []
    with tracer.span("operators.joins.index_build"):
        for _ in range(reps):
            t0 = time.perf_counter()
            _consume(build(), F.coalesce(payload, F.lit(0)) + F.col("minx"))
            times.append(time.perf_counter() - t0)
    return times


def _bbox_ok(lon: str = "lon", lat: str = "lat"):
    return (
        (F.col(lon) >= F.col("minx")) & (F.col(lon) <= F.col("maxx"))
        & (F.col(lat) >= F.col("miny")) & (F.col(lat) <= F.col("maxy"))
    )


def _row_checksum(rows) -> int:
    """All-column checksum of collected rows (forces every value)."""
    h = 0
    for r in rows:
        for v in r:
            b = bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else repr(v).encode()
            h = zlib.crc32(b, h)
    return h


# ---------------------------------------------------------------------------
# generated inputs
# ---------------------------------------------------------------------------


def base_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Seeded documents: lower-case word text (it can never contain a
    `geo:` mention), a source and a language."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(3000)]
    vocab = np.array(vocab)
    texts = [" ".join(rng.choice(vocab, rng.integers(8, 40))) for _ in range(n)]
    return pd.DataFrame(
        {
            "text": texts,
            "source": rng.choice(["news", "blog", "wiki", "forum"], n),
            "lang": rng.choice(["en", "de", "fr", "es"], n),
        }
    )


def write_documents(base: pd.DataFrame, doc_ids: np.ndarray, path: str, files: int) -> None:
    """documents.parquet (doc_id, source, text, lang) as `files` parquet
    files, written with pyarrow: page i takes base document
    i % len(base), the replicated shape of a crawl."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pos = np.arange(len(doc_ids))
    for i, part in enumerate(np.array_split(pos, files)):
        b = base.iloc[part % len(base)]
        pq.write_table(
            pa.table(
                {
                    "doc_id": doc_ids[part],
                    "source": b["source"].to_numpy(),
                    "text": b["text"].to_numpy(),
                    "lang": b["lang"].to_numpy(),
                }
            ),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def star_polygons(rng, lon0, lat0, nx, ny, step, nv):
    """A grid of simple, disjoint, irregular star-shaped polygons: one
    per step-degree grid cell, `nv` vertices at random angles and radii."""
    out = []
    for i in range(nx):
        for j in range(ny):
            cx, cy = lon0 + (i + 0.5) * step, lat0 + (j + 0.5) * step
            th = np.sort(rng.uniform(0.0, 2 * np.pi, nv))
            r = step * 0.45 * (0.55 + 0.45 * rng.random(nv))
            ring = np.c_[cx + r * np.cos(th), cy + r * np.sin(th)]
            out.append((i, j, np.vstack([ring, ring[:1]])))
    return out


def rect(x0, y0, x1, y1) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    rows = 0  # input rows of one pass, the unit of rows_per_s
    warmup_passes = 3
    counts = None  # Observation row counts of the traced run's ladder
    ladder_failures: list[str] = []
    # workloads whose layers this one's traced run also measures: they
    # cost more per run than the benchmark's time budget allows
    companions: tuple = ()

    def __init__(self, spark, seed: int, work: str, cpus: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.rng = np.random.default_rng(seed)

    def generate(self) -> None:
        """Make the seeded inputs (timed as part of set-up)."""

    def prepare(self) -> None:
        """Build the prebuilt state a pass uses (timed as set-up)."""

    def release(self) -> None:
        """Drop what prepare() built."""

    def run_pass(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Failures of one pass's output (empty when correct)."""
        raise NotImplementedError

    def after_pass(self) -> None:
        """Untimed clean-up after a pass has been checked."""

    def expected(self) -> None:
        """Compute the independent answers (untimed)."""

    def layers(self, tracer, reps: int) -> dict:
        """Per-layer metrics of the traced run."""
        raise NotImplementedError


class GeocodeScan(Workload):
    """Pages -> geoparse (matched only) -> inner tile join against the
    648 ten-degree rectangles -> pages per region. Index prebuilt."""

    name = "geocode_scan"
    # its generated JVM code keeps speeding up for ~10 passes
    warmup_passes = 6
    # enough pages that per-row work, not the per-query index broadcast,
    # dominates a pass
    rows = 400_000
    N_BASE = 1000

    def generate(self):
        self.base = base_documents(self.rng, self.N_BASE)
        # synth_pages stamps warc_ts = doc_id hours, so doc_ids stay < 2.7e8
        offset = 1 + int(self.rng.integers(0, 1000)) * 100_000
        self.doc_ids = offset + np.arange(self.rows, dtype=np.int64)
        self.in_dir = os.path.join(self.work, "scan_in")
        write_documents(
            self.base, self.doc_ids, os.path.join(self.in_dir, "documents.parquet"), 2 * self.cpus
        )

    def expected(self):
        self.want = oracles.region_counts(self.doc_ids, pages_src.LAT_MUL, pages_src.LON_MUL)

    def prepare(self):
        self.pages = pages_src.synth_pages(self.spark, self.in_dir)
        self.regions = pages_src.synth_regions(self.spark, step_deg=10.0)
        self.index = joins.tile_index(self.regions, res=RES, refine="jvm").persist()
        self.index_rows = self.index.count()

    def release(self):
        self.index.unpersist()

    def _tagged(self, pages):
        geo = geoparse.parse_geo_tokens(pages, matched_only=True)
        return joins.tile_join_points(
            geo, self.regions, res=RES, how="inner", index=self.index
        )

    def run_pass(self):
        rows = self._tagged(self.pages).groupBy("region").agg(F.count("*").alias("n")).collect()
        return {r["region"]: r["n"] for r in rows}

    def check(self, result):
        if Counter(result) != self.want:
            diff = set(result.items()) ^ set(self.want.items())
            return [f"{len(diff)} region counts differ from the closed form"]
        return []

    def layers(self, tracer, reps):
        build = _index_build_s(
            tracer, reps, lambda: joins.tile_index(self.regions, res=RES, refine="jvm"),
            F.size("segs"),
        )
        n_idx = self.index_rows
        n_bnd = self.index.filter(~F.col("cell_full")).count()

        def parsed_df():
            return geoparse.parse_geo_tokens(self.pages, matched_only=True)

        def probe_df():
            return joins.add_point_cell(parsed_df(), res=RES).join(F.broadcast(self.index), "cell")

        def full_pass():
            got = self.run_pass()
            self.ladder_failures = self.check(got)
            return {"regions": len(got)}

        lad = harness.run_ladder(
            tracer,
            [
                ("sources.pages.scan", lambda: _consume(self.pages, F.octet_length("text"))),
                ("operators.geoparse.parse", lambda: _consume(parsed_df(), F.col("lat") + F.col("lon"))),
                ("functions.st.cell", lambda: _consume(joins.add_point_cell(parsed_df(), res=RES), F.col("cell"))),
                ("operators.joins.probe", lambda: _consume(probe_df(), F.col("cell"))),
                ("operators.joins.bbox", lambda: _consume(
                    probe_df().filter(F.col("cell_full") | _bbox_ok()), F.col("cell"),
                    full=F.col("cell_full"), boundary=~F.col("cell_full"),
                )),
                ("operators.joins.refine", lambda: _consume(self._tagged(self.pages), F.xxhash64("region"))),
                ("pass", full_pass),
            ],
            reps,
        )
        with tracer.span("observations"):
            pages, parsed, hits = _observed_counts([
                lambda _: self.pages,
                lambda df: geoparse.parse_geo_tokens(df, matched_only=True),
                lambda df: joins.tile_join_points(df, self.regions, res=RES, how="inner", index=self.index),
            ])
        candidates = lad["operators.joins.probe"]["counts"]["rows"]
        bbox = lad["operators.joins.bbox"]["counts"]
        self.counts = {
            "pages": pages, "parsed": parsed, "candidates": candidates,
            "bbox_candidates": bbox["rows"], "hits": hits,
        }
        m = {
            "sources.pages.scan_s": lad["sources.pages.scan"]["marginal_s"],
            "operators.geoparse.parse_s": lad["operators.geoparse.parse"]["marginal_s"],
            "operators.geoparse.rows_out": parsed,
            "operators.geoparse.hit_ratio": parsed / pages,
            "functions.st.cell_s": lad["functions.st.cell"]["marginal_s"],
            "operators.joins.index_build_s": float(np.median(build)),
            "operators.joins.index_rows": n_idx,
            "operators.joins.boundary_share": n_bnd / n_idx,
            "operators.joins.probe_s": lad["operators.joins.probe"]["marginal_s"],
            "operators.joins.candidates": candidates,
            "operators.joins.bbox_s": lad["operators.joins.bbox"]["marginal_s"],
            "operators.joins.bbox_candidates": bbox["rows"],
            "operators.joins.refine_s": lad["operators.joins.refine"]["marginal_s"],
            "operators.joins.hits": hits,
            "operators.joins.refine_ratio": (hits - bbox["full"]) / max(bbox["boundary"], 1),
        }
        return m, lad


class GeocodeSink(Workload):
    """run_pipeline over documents.parquet into an empty directory
    (left semantics, per-run index build, partitioned parquet plus the
    checkpoint), then run_pipeline again, which must find every key
    complete. Pages mention places inside one 45 x 22.5 degree box: a
    regional crawl of 8 coarse work keys plus the un-geocoded key."""

    name = "geocode_sink"
    rows = 30_000
    n_pass = 0  # passes so far; each writes to its own output directory
    N_BASE = 1000
    BOX = (0.0, 22.5, 45.0, 45.0)  # lon0, lat0, lon1, lat1: 4 x 2 res-4 cells

    def generate(self):
        self.base = base_documents(self.rng, self.N_BASE)
        # doc_id mod 36000 fixes both coordinates (the multipliers are
        # coprime to it), so a regional crawl is a set of residues
        r = np.arange(36000, dtype=np.int64)
        lat = ((r * pages_src.LAT_MUL) % 18000 - 9000) / 100.0
        lon = ((r * pages_src.LON_MUL) % 36000 - 18000) / 100.0
        x0, y0, x1, y1 = self.BOX
        geo = r[(lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1) & (r % 8 != 0)]
        # un-geocoded pages keep the generator's one-in-eight share
        keep = np.sort(np.concatenate([geo, r[r % 8 == 0][: len(geo) // 7]]))
        block0 = int(self.rng.integers(1, 1000))
        k = np.arange(self.rows, dtype=np.int64)
        self.doc_ids = (block0 + k // len(keep)) * 36000 + keep[k % len(keep)]
        self.in_dir = os.path.join(self.work, "sink_in")
        self.in_path = os.path.join(self.in_dir, "documents.parquet")
        write_documents(self.base, self.doc_ids, self.in_path, self.cpus)

    def expected(self):
        self.want_text = {}
        for pos in self.rng.choice(self.rows, 200, replace=False).tolist():
            d = int(self.doc_ids[pos])
            text = self.base["text"].iloc[pos % self.N_BASE]
            if d % 8:
                latc = (d * pages_src.LAT_MUL) % 18000 - 9000
                lonc = (d * pages_src.LON_MUL) % 36000 - 18000
                text = f"{text} geo:{latc},{lonc}"
            src = self.base["source"].iloc[pos % self.N_BASE]
            self.want_text[f"https://example.org/{src}/{d}"] = text

    def _out_dir(self):
        self.n_pass += 1
        return os.path.join(self.work, f"sink_out_{self.n_pass}")

    def run_pass(self):
        out = self._out_dir()
        t0 = time.perf_counter()
        first = pipeline.run_pipeline(self.spark, self.in_dir, out)
        t1 = time.perf_counter()
        second = pipeline.run_pipeline(self.spark, self.in_dir, out)
        return {"out": out, "first": first, "second": second,
                "first_s": t1 - t0, "resume_s": time.perf_counter() - t1}

    def check(self, result):
        """The first run processed every key; the resume run processed
        nothing; every page was written once, with its text
        byte-identical on the sample."""
        first, resume = result["first"], result["second"]
        fails = [] if first["keys_processed"] == first["keys_total"] else ["first run left keys unprocessed"]
        if resume["keys_processed"] != 0:
            fails.append(f"resume run processed {resume['keys_processed']} keys")
        data = self.spark.read.parquet(f"{result['out']}/geocoded")
        n = data.count()
        if n != self.rows:
            fails.append(f"{n} rows written for {self.rows} pages")
        got = {
            r["url"]: r["text"]
            for r in data.filter(F.col("url").isin(list(self.want_text))).select("url", "text").collect()
        }
        if got != self.want_text:
            fails.append("page text differs from the input on the sample")
        self.last_out = result["out"]
        return fails

    def after_pass(self):
        """Measure the pass's output, then delete it."""
        files, size = harness.dir_bytes(self.last_out)
        self.last_write = (files, size, size / harness.dir_bytes(self.in_path)[1])
        shutil.rmtree(self.last_out, ignore_errors=True)

    def layers(self, tracer, reps):
        """A ladder of run_pipeline's prefixes, built from its public
        parts: the tagged pages, then the lineage agg over them. Then
        run_pipeline itself, twice, as a pass runs it: the first call
        does the lineage rung's work, the data write (which recomputes
        the tagged pages) and the checkpoint append, so the write's
        marginal is that call minus both rungs; the second call must
        find every key complete (the resume run). The completed-keys
        read and the written files are measured on that real output."""
        regions = pages_src.synth_regions(self.spark, step_deg=10.0)

        def tagged():
            pages = pages_src.synth_pages(self.spark, self.in_dir)
            return pipeline.geocode_pages(pages, regions).withColumn(
                "part_key", F.coalesce(F.col(f"cell_r{pipeline.CELL_RES_COARSE}"), F.lit(-1))
            )

        def refine():
            return _consume(tagged(), F.coalesce(F.xxhash64("region"), F.lit(0)))

        def lineage():
            rows = ckpt.lineage_metrics(
                tagged(), "part_key", ["url", "text"], in_key_cols=["url"]
            ).collect()
            return {"keys": len(rows)}

        with tracer.span("warm-up"):
            refine()
        lad = harness.run_ladder(
            tracer, [("operators.joins.refine", refine), ("sources.checkpoint.lineage", lineage)], reps
        )
        with tracer.span("plans.pipeline.run_pipeline"):
            result = self.run_pass()
        self.ladder_failures = self.check(result)
        with tracer.span("sources.checkpoint.completed_keys"):
            t0 = time.perf_counter()
            ckpt.completed_keys(self.spark, result["first"]["checkpoint"]).collect()
            completed_s = time.perf_counter() - t0
        self.after_pass()
        files, size, amp = self.last_write
        m = {
            "sources.checkpoint.lineage_s": lad["sources.checkpoint.lineage"]["marginal_s"],
            "sources.checkpoint.write_s": result["first_s"]
            - lad["sources.checkpoint.lineage"]["rung_s"] - lad["operators.joins.refine"]["rung_s"],
            "sources.checkpoint.files_written": files,
            "sources.checkpoint.bytes_written": size,
            "sources.checkpoint.completed_keys_s": completed_s,
            "plans.pipeline.resume_s": result["resume_s"],
            "plans.pipeline.write_amp": amp,
        }
        return m, lad


class PolygonOps(Workload):
    """Points -> tile join against dense irregular polygons (the join
    picks the Arrow refine itself), then overlap_weighted_join against
    zones covering the whole extent, then dissolve into blocks."""

    name = "polygon_ops"
    rows = 50_000
    NX, NY, STEP, NV = 4, 4, 1.0, 64

    def generate(self):
        rng = self.rng
        self.lon0 = float(rng.uniform(-170.0, 150.0))
        # low latitudes: the nearest() lower bound prunes by cos(lat),
        # so a far-north layer would cost more per probe than another seed's
        self.lat0 = float(rng.uniform(-30.0, 24.0))
        w, h = self.NX * self.STEP, self.NY * self.STEP
        self.polys = star_polygons(rng, self.lon0, self.lat0, self.NX, self.NY, self.STEP, self.NV)
        self.poly_pdf = pd.DataFrame(
            {
                "pid": np.arange(len(self.polys), dtype=np.int64),
                "block": np.array([(i // 2) * 100 + j // 2 for i, j, _ in self.polys], dtype=np.int64),
                "pop": rng.integers(1, 1000, len(self.polys)).astype(np.float64),
                "geometry": [wkb.dumps(("Polygon", [ring])) for _, _, ring in self.polys],
            }
        )
        self.xs = self.lon0 + rng.uniform(0.0, w, self.rows)
        self.ys = self.lat0 + rng.uniform(0.0, h, self.rows)
        # zone edges run through the centres of one polygon column and
        # one polygon row, so every seed cuts the same number of polygons
        sx = self.lon0 + (int(rng.integers(1, self.NX - 1)) + 0.5) * self.STEP
        sy = self.lat0 + (int(rng.integers(1, self.NY - 1)) + 0.5) * self.STEP
        x0, y0, x1, y1 = self.lon0, self.lat0, self.lon0 + w, self.lat0 + h
        zones = [rect(x0, y0, sx, sy), rect(sx, y0, x1, sy), rect(x0, sy, sx, y1), rect(sx, sy, x1, y1)]
        self.zone_pdf = pd.DataFrame(
            {"zone": [f"Z{i}" for i in range(4)],
             "geometry": [wkb.dumps(("Polygon", [z])) for z in zones]}
        )

    def expected(self):
        self.want_hits = {}
        for pid, (_, _, ring) in enumerate(self.polys):
            lo, hi = ring.min(axis=0), ring.max(axis=0)
            m = (self.xs >= lo[0]) & (self.xs <= hi[0]) & (self.ys >= lo[1]) & (self.ys <= hi[1])
            n = int(oracles.ray_cast(self.xs[m], self.ys[m], ring).sum())
            if n:
                self.want_hits[pid] = n
        self.want_pop = float(self.poly_pdf["pop"].sum())
        self.want_area = {}
        for (_, _, ring), block in zip(self.polys, self.poly_pdf["block"]):
            self.want_area[int(block)] = self.want_area.get(int(block), 0.0) + oracles.shoelace(ring)

    def prepare(self):
        s = self.spark
        self.poly_df = s.createDataFrame(
            self.poly_pdf, "pid long, block long, pop double, geometry binary"
        ).cache()
        self.points = s.createDataFrame(
            pd.DataFrame({"id": np.arange(self.rows), "lon": self.xs, "lat": self.ys})
        ).repartition(2 * self.cpus).cache()
        self.zones = s.createDataFrame(self.zone_pdf, "zone string, geometry binary").cache()
        for df in (self.poly_df, self.points, self.zones):
            df.count()

    def release(self):
        for df in (self.poly_df, self.points, self.zones):
            df.unpersist()

    def _join(self, index=None):
        return joins.tile_join_points(
            self.points, self.poly_df.select("pid", "geometry"), res=RES, index=index
        )

    def _overlap(self):
        return joins.overlap_weighted_join(
            self.zones, self.poly_df.select("pop", "geometry"), "pop", zone_id="zone"
        )

    def _dissolve(self):
        return dissolve.dissolve(self.poly_df.select("block", "geometry"), "block")

    def run_pass(self):
        joined = self._join()
        hits = joined.groupBy("pid").agg(F.count("*").alias("n")).collect()
        ov = self._overlap().collect()
        dv = self._dissolve().collect()
        plan = io.StringIO()
        with contextlib.redirect_stdout(plan):
            joined.explain()
        return {
            "plan": plan.getvalue(),
            "hits": {r["pid"]: r["n"] for r in hits},
            "overlap": ov,
            "dissolve": dv,
            "checksum": _row_checksum(ov) ^ _row_checksum(dv),
        }

    def check(self, result):
        fails = []
        if "st_point_in_geom" not in result.pop("plan"):
            fails.append("tile join did not select the Arrow refine")
        if result["hits"] != self.want_hits:
            fails.append("join hits differ from the ray cast")
        pop = sum(r["weighted_pop"] for r in result["overlap"])
        if abs(pop - self.want_pop) > 1e-7 * self.want_pop:
            fails.append(f"sum weighted_pop {pop!r} != sum pop {self.want_pop!r}")
        areas = {r["block"]: oracles.wkb_area(bytes(r["geometry"])) for r in result["dissolve"]}
        if set(areas) != set(self.want_area) or any(
            abs(areas[b] - a) > 1e-9 * a for b, a in self.want_area.items()
        ):
            fails.append("dissolved areas differ from the members' shoelace sums")
        return fails

    def layers(self, tracer, reps):
        from mundipy_spark.functions import st

        with tracer.span("warm-up"):
            self.ladder_failures = self.check(self.run_pass())
        def build_index():
            return joins.tile_index(self.poly_df.select("pid", "geometry"), res=RES)

        build = _index_build_s(tracer, reps, build_index, F.length("geometry"))
        index = build_index().persist()
        n_idx = index.count()
        n_bnd = index.filter(~F.col("cell_full")).count()

        def probe_df():
            return joins.add_point_cell(self.points, res=RES).join(F.broadcast(index), "cell")

        def bbox_df():
            return probe_df().filter(F.col("cell_full") | _bbox_ok())

        def full_pass():
            result = self.run_pass()
            self.ladder_failures = self.check(result)
            return {"blocks": len(result["dissolve"])}

        lad = harness.run_ladder(
            tracer,
            [
                ("scan", lambda: _consume(self.points, F.col("lon"))),
                ("operators.joins.probe", lambda: _consume(probe_df(), F.col("cell"))),
                ("operators.joins.bbox", lambda: _consume(
                    bbox_df(), F.col("cell"), full=F.col("cell_full"), boundary=~F.col("cell_full")
                )),
                ("operators.joins.refine", lambda: _consume(self._join(index), F.col("pid"))),
                ("pass", full_pass),
            ],
            reps,
        )
        with tracer.span("observations"):
            points, hits = _observed_counts([lambda _: self.points, lambda df: joins.tile_join_points(
                df, self.poly_df.select("pid", "geometry"), res=RES, index=index
            )])
        # the refine kernel in-process on the same boundary candidates
        cand = bbox_df().filter(~F.col("cell_full")).select("lon", "lat", "geometry").toPandas()
        batch = 20000
        with tracer.span("functions.st.kernel_in_process", rows=len(cand)):
            t0 = time.perf_counter()
            for i in range(0, len(cand), batch):
                part = cand.iloc[i:i + batch]
                st.st_point_in_geom.func(part["lon"], part["lat"], part["geometry"])
            kernel_s = time.perf_counter() - t0
        spans = {}
        for name, fn in (("operators.joins.overlap", lambda: self._overlap().collect()),
                         ("operators.dissolve.dissolve", lambda: self._dissolve().collect())):
            ts = []
            for _ in range(reps):
                with tracer.span(name):
                    t0 = time.perf_counter()
                    _row_checksum(fn())
                    ts.append(time.perf_counter() - t0)
            spans[name] = float(np.median(ts))
        index.unpersist()
        candidates = lad["operators.joins.probe"]["counts"]["rows"]
        bbox = lad["operators.joins.bbox"]["counts"]
        refine = lad["operators.joins.refine"]
        refine_s = refine["marginal_s"]
        # the refine layer's measured parallelism: its marginal CPU
        # seconds (JVM and Python workers) over its marginal wall seconds
        par = min(max(refine["marginal_cpu_s"] / max(refine_s, 1e-9), 1.0), float(self.cpus))
        print(f"polygon_ops refine: marginal_s={refine_s:.4f} "
              f"marginal_cpu_s={refine['marginal_cpu_s']:.4f} parallelism={par:.2f} "
              f"kernel_in_process_s={kernel_s:.4f} on {len(cand)} boundary candidates")
        self.counts = {
            "pages": points, "parsed": points, "candidates": candidates,
            "bbox_candidates": bbox["rows"], "hits": hits,
        }
        m = {
            "operators.joins.index_build_s": float(np.median(build)),
            "operators.joins.index_rows": n_idx,
            "operators.joins.boundary_share": n_bnd / n_idx,
            "operators.joins.probe_s": lad["operators.joins.probe"]["marginal_s"],
            "operators.joins.candidates": candidates,
            "operators.joins.bbox_s": lad["operators.joins.bbox"]["marginal_s"],
            "operators.joins.bbox_candidates": bbox["rows"],
            "operators.joins.refine_s": refine_s,
            "operators.joins.hits": hits,
            "operators.joins.refine_ratio": (hits - bbox["full"]) / max(bbox["boundary"], 1),
            # the kernel's share of the refine marginal, at the parallelism
            # the refine layer was measured to run at
            "functions.st.arrow_boundary_s": refine_s - kernel_s / par,
            "operators.joins.overlap_s": spans["operators.joins.overlap"],
            "operators.dissolve.dissolve_s": spans["operators.dissolve.dissolve"],
        }
        return m, lad


def _assign_fn():
    """The per-feature user function of mundi_q (built in a closure so
    it ships to the Python workers by value)."""
    from mundipy_spark.feature import Feature

    def assign(pt, zones):
        hits = zones.intersects(pt)
        near = zones.nearest(pt)
        return Feature(
            pt.geom,
            {"pid": pt["pid"], "zone": hits[0]["name"] if hits else "", "nearest": near["name"]},
        )

    return assign


class MundiQ(Workload):
    """Mundi.q over a point main layer ingested from EPSG:3857 with a
    polygon side layer; the user function calls intersects and nearest
    per feature and q returns a GeoJSON FeatureCollection."""

    name = "mundi_q"
    rows = 1500
    NX, NY, STEP, NV = 8, 4, 1.5, 32
    SAMPLE = 400

    def generate(self):
        rng = self.rng
        self.lon0 = float(rng.uniform(-170.0, 150.0))
        # low latitudes: the nearest() lower bound prunes by cos(lat),
        # so a far-north layer would cost more per probe than another seed's
        self.lat0 = float(rng.uniform(-30.0, 24.0))
        self.polys = star_polygons(rng, self.lon0, self.lat0, self.NX, self.NY, self.STEP, self.NV)
        self.side_pdf = pd.DataFrame(
            {
                "name": [f"P{i}_{j}" for i, j, _ in self.polys],
                "geometry": [wkb.dumps(("Polygon", [ring])) for _, _, ring in self.polys],
            }
        )
        lon = self.lon0 + rng.uniform(0.0, self.NX * self.STEP, self.rows)
        lat = self.lat0 + rng.uniform(0.0, self.NY * self.STEP, self.rows)
        self.mx, self.my = oracles.lonlat_to_mercator(lon, lat)
        self.main_pdf = pd.DataFrame(
            {
                "pid": np.arange(self.rows, dtype=np.int64),
                "geometry": [
                    wkb.dumps(("Point", np.array([x, y]))) for x, y in zip(self.mx, self.my)
                ],
            }
        )
        self.fn = _assign_fn()

    def expected(self):
        idx = self.rng.choice(self.rows, self.SAMPLE, replace=False)
        lon, lat = oracles.mercator_to_lonlat(self.mx[idx], self.my[idx])
        zone = np.full(len(idx), "", dtype=object)
        for i, j, ring in self.polys:
            zone[oracles.ray_cast(lon, lat, ring)] = f"P{i}_{j}"
        self.want_zone = dict(zip(idx.tolist(), zone.tolist()))

    def prepare(self):
        from mundipy_spark.dataset import Dataset, Map
        from mundipy_spark.mundi import Mundi

        s = self.spark
        self.main = s.createDataFrame(self.main_pdf, "pid long, geometry binary").cache()
        self.side = s.createDataFrame(self.side_pdf, "name string, geometry binary").cache()
        self.main.count()
        self.side.count()
        self.map = Map({"points": Dataset(self.main, crs="EPSG:3857"), "zones": Dataset(self.side)})
        self.mundi = Mundi(self.map, "points")

    def release(self):
        self.main.unpersist()
        self.side.unpersist()

    def run_pass(self):
        return self.mundi.q(self.fn)

    def check(self, result):
        feats = result["features"]
        fails = []
        if len(feats) != self.rows:
            fails.append(f"{len(feats)} features for {self.rows} inputs")
        got = {
            f["properties"]["pid"]: f["properties"]["zone"]
            for f in feats if f["properties"]["pid"] in self.want_zone
        }
        if got != self.want_zone:
            bad = sum(got.get(k) != v for k, v in self.want_zone.items())
            fails.append(f"{bad} sampled features assigned a polygon the ray cast disagrees with")
        return fails

    def layers(self, tracer, reps):
        from mundipy_spark.dataset import Dataset
        from mundipy_spark.feature import Feature

        def ingest():
            return _consume(Dataset(self.main, crs="EPSG:3857").df, F.col("minx"))

        def q_df():
            out = _consume(self.mundi.q_df(self.fn), F.xxhash64("zone"))
            self.mundi.release()
            return out

        def q():
            got = self.run_pass()
            self.ladder_failures = self.check(got)
            return {"features": len(got["features"])}

        lad = harness.run_ladder(
            tracer, [("dataset.ingest", ingest), ("mundi.q_df", q_df), ("pass", q)], reps
        )
        zones = self.map["zones"].local_index()
        lon, lat = oracles.mercator_to_lonlat(self.mx[:500], self.my[:500])
        probes = [Feature(("Point", np.array([x, y]))) for x, y in zip(lon, lat)]
        rates = {}
        for name, call in (("feature.intersects", zones.intersects), ("feature.nearest", zones.nearest)):
            with tracer.span(name, probes=len(probes)):
                t0 = time.perf_counter()
                for p in probes:
                    call(p)
                rates[name] = len(probes) / (time.perf_counter() - t0)
        m = {
            "dataset.ingest_s": lad["dataset.ingest"]["marginal_s"],
            "mundi.q_df_s": lad["mundi.q_df"]["marginal_s"],
            "mundi.collect_s": lad["pass"]["marginal_s"],
            "feature.intersects_per_s": rates["feature.intersects"],
            "feature.nearest_per_s": rates["feature.nearest"],
        }
        return m, lad


GeocodeScan.companions = (GeocodeSink,)
MundiQ.companions = (PolygonOps,)
WORKLOADS = {w.name: w for w in (GeocodeScan, GeocodeSink, PolygonOps, MundiQ)}
