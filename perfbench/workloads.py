"""The three benchmark workloads.

Each workload stores its seeded inputs during set-up, then runs one batch
job per iteration, timing only calls into the engine's public functions:
``SnapshotTable.read``, ``extract_meta``/``valid_meta``, ``pip_join``,
``xyz_tiles``, ``knn_join`` and ``run_with_lineage``. Every iteration's
output is checked against the brute-force oracle outside the timed
region. A traced run adds ``busy_runs`` (each layer alone over its
stored input, noop sink) and derives the per-layer metrics in ``layers``
from the spans and the Spark event log.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import Observation
from pyspark.sql import functions as F

from extractors_geo_spark import datagen
from extractors_geo_spark.operators import extract_meta, knn, pip_join, tiles
from extractors_geo_spark.sources.snapshot_table import SnapshotTable
from extractors_geo_spark.streaming.lineage import LineageManifest, run_with_lineage

from . import inputs, oracle

ZOOMS = (6, 8, 10)
HALF = 0.008  # half-width (degrees) of the footprint box that gets tiled
LINEAGE_BUCKETS = 16
# stored tables are bucketed 8 ways, so a MoR delete writes at most 8
# delete files and stays under SnapshotTable's auto-fold threshold (16)
TABLE_BUCKETS = 8
JOINS = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spans, name: str, fn) -> float:
    with spans.span(name):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0


@dataclass(frozen=True)
class Sizes:
    images: int = 0
    px: int = 16
    points: int = 0
    fine: int = 0  # the hot cell is split into fine x fine quads
    queries: int = 0
    query_hot_frac: float = 0.0
    # At res 13 the tract layer explodes to ~2.2M polygon-cell rows, above
    # planner.BROADCAST_ROW_LIMIT, so pip_join's default planner shuffles
    # both sides on `cell` (the partitioned path) instead of broadcasting.
    pip_res: int = 13
    knn_res: int = 12
    k: int = 10
    pip_sample: int = 0
    knn_sample: int = 0


class Workload:
    """generate() stores the inputs; iterate(i) runs and times one job;
    check(i) compares its output with the oracle; busy_runs() and
    layers() serve the traced run."""

    name = ""
    check_each = True  # check every iteration's output, not just the last
    # Iterations before timing starts. With fewer, the first timed
    # iterations ran 10-20% slower than the rest while the JVM and the
    # Python workers warmed.
    warmup_iters = 3

    def __init__(self, spark, spans, seed: int, work: str, sizes: Sizes):
        self.spark, self.spans, self.seed, self.work, self.sz = spark, spans, seed, work, sizes
        self.input_rows = 0

    def rebind(self, spark, spans) -> None:
        """Attach the stored inputs to a new session."""
        self.spark, self.spans = spark, spans
        self.open()

    def _scan(self, ev, iters: list[str]) -> dict:
        def scan(metric):
            return ev.sql_metric(iters[-1], "Scan parquet", metric, self.table_dir)

        return {
            "snapshot_table.read_call_s": _med(self.spans, iters, "snapshot_table.read"),
            "snapshot_table.scan_bytes": scan("size of files read"),
            "snapshot_table.scan_rows": scan("number of output rows"),
            "snapshot_table.delete_files": len(self.table.snapshot()["deletes"]),
        }


# ------------------------------------------------------------------ images
class _ImageWorkload(Workload):
    resume = False

    def generate(self) -> None:
        sz = self.sz
        cores = self.spark.sparkContext.defaultParallelism
        gen = inputs.image_frame(self.spark, self.seed, sz.images, sz.px, cores * 2).persist()
        self.open()
        self.table.append(gen.drop(*inputs.TRUTH_COLS))
        truth = gen.select("image_id", "caption", *inputs.TRUTH_COLS).toPandas()
        gen.unpersist()
        self.removed: set[str] = set()
        if self.resume:
            self.removed = set(inputs.removed_ids(self.seed, truth["image_id"].tolist()))
            keys = self.spark.createDataFrame(pd.DataFrame({"image_id": sorted(self.removed)}))
            self.table.delete_keys(keys, "image_id", mode="mor")
        self.input_rows = len(truth)
        self._expect(truth)
        if self.resume:
            # the committed half: a full run, then half its buckets are
            # un-marked before every timed resume
            self.out = os.path.join(self.work, "out")
            run_with_lineage(self.table.read(), "image_id", self.out,
                             n_buckets=LINEAGE_BUCKETS, transform=self.transform)
            rng = np.random.default_rng([self.seed, 5])
            self.todo = sorted(int(b) for b in rng.permutation(LINEAGE_BUCKETS)[:LINEAGE_BUCKETS // 2])

    def open(self) -> None:
        self.table_dir = os.path.join(self.work, "images")
        self.table = SnapshotTable(self.spark, self.table_dir, bucket_key="image_id",
                                   n_buckets=TABLE_BUCKETS)
        self.polys = datagen.polygons_df(self.spark)

    def _expect(self, truth: pd.DataFrame) -> None:
        """Expected output rows from the generator's truth: the containing
        quad of the 50-quad layer, and the footprint's slippy tiles."""
        keep = truth[truth["valid"] & ~truth["image_id"].isin(self.removed)].reset_index(drop=True)
        quads = datagen.make_polygons()
        lon, lat = keep["true_lon"].to_numpy(), keep["true_lat"].to_numpy()
        hits, near = oracle.containing(lon, lat, quads)
        tile_sets, t_amb = oracle.footprint_tiles(lon, lat, HALF, ZOOMS)
        rows, amb = [], set()
        for i, (iid, cap) in enumerate(zip(keep["image_id"], keep["caption"])):
            if near[i] or t_amb[i] or len(hits[i]) != 1:
                amb.add(iid)
                continue
            pid = quads["poly_id"].iat[hits[i][0]]
            rows += [(iid, pid, cap, z, x, y) for z, x, y in tile_sets[i]]
        self.expected = (pd.DataFrame(rows, columns=["image_id", "poly_id", "caption", "z", "x", "y"])
                         .sort_values(["image_id", "z", "x", "y"]).reset_index(drop=True))
        self.ambiguous = amb
        self.forbidden = set(truth["image_id"][~truth["valid"]]) | self.removed

    def _join(self, meta):
        return pip_join.pip_join(meta, self.polys, point_cols=("image_id", "caption", "phash"),
                                 poly_cols=("poly_id", "name"))

    @staticmethod
    def _flat(joined):
        return joined.select(
            "image_id", "poly_id", "caption",
            (F.col("lon") - HALF).alias("minx"), (F.col("lat") - HALF).alias("miny"),
            (F.col("lon") + HALF).alias("maxx"), (F.col("lat") + HALF).alias("maxy"))

    @staticmethod
    def _tiles(flat):
        return tiles.xyz_tiles(flat, zooms=ZOOMS, passthrough=("image_id", "poly_id", "caption"))

    def transform(self, part):
        meta = extract_meta.valid_meta(extract_meta.extract_meta(part, with_stats=True))
        with self.spans.span("pip_join"):
            joined = self._join(meta)
        return self._tiles(self._flat(joined))

    def _out_dir(self, i: int) -> str:
        return self.out if self.resume else os.path.join(self.work, f"out{i}")

    def _bucket_files(self, b: int) -> set[str]:
        d = os.path.join(self.out, f"bucket={b}")
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    def iterate(self, i: int) -> float:
        out = self._out_dir(i)
        if self.resume:
            manifest = LineageManifest(os.path.join(out, "_lineage"))
            for b in self.todo:
                manifest.unmark(b)
            # the committed files of the open buckets: a resume that
            # leaves any of them in place did not rewrite that bucket
            self.stale = {b: self._bucket_files(b) for b in self.todo}
        t0 = time.perf_counter()
        with self.spans.span("snapshot_table.read"):
            df = self.table.read()
        with self.spans.span("lineage"):
            self.last = run_with_lineage(df, "image_id", out, n_buckets=LINEAGE_BUCKETS,
                                         transform=self.transform)
        return time.perf_counter() - t0

    def check(self, i: int) -> list[str]:
        out = self._out_dir(i)
        problems = []
        want = self.todo if self.resume else list(range(LINEAGE_BUCKETS))
        if sorted(self.last["buckets_run"]) != want:
            problems.append(f"buckets_run {self.last['buckets_run']} != {want}")
        if self.resume:
            kept = sorted(b for b in self.todo if self.stale[b] & self._bucket_files(b))
            if kept:
                problems.append(f"open buckets {kept} still hold files from before the resume")
        got = pads.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["image_id", "poly_id", "caption", "z", "x", "y"]).to_pandas()
        bad = set(got["image_id"]) & self.forbidden
        if bad:
            problems.append(f"{len(bad)} rejected or removed ids in the output, e.g. {sorted(bad)[:3]}")
        got = (got[~got["image_id"].isin(self.ambiguous)]
               .astype({"z": "int64", "x": "int64", "y": "int64"})
               .sort_values(["image_id", "z", "x", "y"]).reset_index(drop=True))
        if not got.equals(self.expected):
            m = got.merge(self.expected, how="outer", indicator=True)
            problems.append(f"{int((m['_merge'] != 'both').sum())} rows differ from the oracle "
                            f"({len(got)} written, {len(self.expected)} expected)")
        if not self.resume:
            shutil.rmtree(out, ignore_errors=True)
        return problems

    # ------------------------------------------------------------ traced
    def _part(self):
        df = self.table.read()
        if not self.resume:
            return df
        # rows of the uncommitted buckets, by run_with_lineage's bucket rule
        return df.filter(F.pmod(F.xxhash64("image_id"), F.lit(LINEAGE_BUCKETS)).isin(self.todo))

    def busy_runs(self) -> dict:
        spark, sp = self.spark, self.spans
        meta_dir = os.path.join(self.work, "busy_meta")
        flat_dir = os.path.join(self.work, "busy_flat")
        for d in (meta_dir, flat_dir):
            shutil.rmtree(d, ignore_errors=True)
        f = {"extract_meta": timed(sp, "busy.extract_meta",
                                   lambda: noop(extract_meta.extract_meta(self._part(), with_stats=True)))}
        extract_meta.extract_meta(self._part(), with_stats=True).write.parquet(meta_dir)
        meta = spark.read.parquet(meta_dir)
        f["errors"] = {r["error"]: r["n"] for r in
                       meta.groupBy("error").agg(F.count(F.lit(1)).alias("n")).collect()}
        joined = lambda: self._join(extract_meta.valid_meta(spark.read.parquet(meta_dir)))  # noqa: E731
        f.update(_busy_pip(sp, joined))
        self._flat(joined()).write.parquet(flat_dir)
        f["tiles"] = timed(sp, "busy.tiles", lambda: noop(self._tiles(spark.read.parquet(flat_dir))))
        f["rows_deleted"] = sum(x["rows"] for x in self.table.snapshot()["files"]) - self.table.read().count()
        f["todo_rows"] = self._part().count()
        return f

    def layers(self, ev, iters: list[str], f: dict) -> dict:
        last = iters[-1]
        lin = f"{last}/lineage"
        errs = f["errors"]
        rows_in = ev.sql_metric("busy.extract_meta", "MapInPandas", "number of output rows")
        known = (None, "not tiff", "UNKNOWN projection")
        return {
            **self._scan(ev, iters),
            "snapshot_table.rows_deleted": f["rows_deleted"],
            "extract_meta.busy_s": f["extract_meta"],
            "extract_meta.rows_in": rows_in,
            "extract_meta.rows_valid": errs.get(None, 0),
            "extract_meta.valid_ratio": errs.get(None, 0) / rows_in,
            "extract_meta.error_rows.not_tiff": errs.get("not tiff", 0),
            "extract_meta.error_rows.unknown_projection": errs.get("UNKNOWN projection", 0),
            "extract_meta.error_rows.other": sum(v for k, v in errs.items() if k not in known),
            "extract_meta.python_bytes":
                ev.sql_metric("busy.extract_meta", "MapInPandas", "data sent to Python workers")
                + ev.sql_metric("busy.extract_meta", "MapInPandas", "data returned from Python workers"),
            "pip_join.call_s": _med(self.spans, iters, "lineage/pip_join"),
            "pip_join.probe_jobs": ev.totals(f"{lin}/pip_join")["jobs"],
            **_pip_layer(ev, f),
            "tiles.busy_s": f["tiles"],
            "tiles.rows_out": ev.sql_metric("busy.tiles", "Generate", "number of output rows"),
            "lineage.write_stage_s": ev.write_stage_s(lin),
            "lineage.shuffle_bytes": ev.totals(lin)["shuffle_write"],
            "lineage.files_written": ev.sql_metric(lin, "Execute InsertIntoHadoopFsRelationCommand",
                                                   "number of written files"),
            "lineage.buckets_run": len(self.last["buckets_run"]),
            "lineage.buckets_skipped": len(self.last["buckets_skipped"]),
            "lineage.commit_s": self.spans.seconds(lin)[-1] - ev.jobs_wall(lin),
            "lineage.scan_ratio": ev.sql_metric(lin, "Scan parquet", "number of output rows",
                                                self.table_dir) / f["todo_rows"],
            "busy_sum_s": f["extract_meta"] + f["pip_join"] + f["tiles"],
        }


class IngestTiles(_ImageWorkload):
    name = "ingest_tiles"


class ResumeMor(_ImageWorkload):
    name = "resume_mor"
    resume = True
    # after three warm-ups its timed iterations still got ~10% faster
    # through a run; after five they held within ~5%
    warmup_iters = 5


# ----------------------------------------------------------------- spatial
class SpatialSkew(Workload):
    name = "spatial_skew"
    # the check re-runs both joins on a sample (as long as an iteration),
    # so it runs once per invocation, on the plan every iteration shares
    check_each = False

    def generate(self) -> None:
        sz = self.sz
        self.layer, hot = inputs.tract_polygons(self.seed, sz.fine)
        self.pts = inputs.points(self.seed, sz.points, hot)
        self.qs = inputs.queries(self.seed, sz.queries, hot, sz.query_hot_frac)
        self.open()
        self.table.append(self.spark.createDataFrame(self.pts))
        self.spark.createDataFrame(self.layer).write.parquet(os.path.join(self.work, "polys"))
        self.spark.createDataFrame(self.qs).write.parquet(os.path.join(self.work, "queries"))
        self.input_rows = len(self.pts)

    def open(self) -> None:
        self.table_dir = os.path.join(self.work, "points")
        self.table = SnapshotTable(self.spark, self.table_dir, bucket_key="point_id",
                                   n_buckets=TABLE_BUCKETS)

    def _pip(self, pts):
        polys = self.spark.read.parquet(os.path.join(self.work, "polys"))
        return pip_join.pip_join(pts, polys, res=self.sz.pip_res,
                                 point_cols=("point_id",), poly_cols=("poly_id",))

    def _knn(self, pts, query_ids=None):
        q = self.spark.read.parquet(os.path.join(self.work, "queries"))
        if query_ids is not None:
            q = q.filter(F.col("query_id").isin(query_ids))
        return knn.knn_join(q, pts, k=self.sz.k, res=self.sz.knn_res, ring=1, t_id="point_id")

    def iterate(self, i: int) -> float:
        sp = self.spans
        t0 = time.perf_counter()
        with sp.span("snapshot_table.read"):
            pts = self.table.read()
        with sp.span("pip_join"):
            j = self._pip(pts)
        with sp.span("pip_join.run"):
            noop(j)
        with sp.span("knn"):
            kn = self._knn(pts)
        with sp.span("knn.run"):
            noop(kn)
        return time.perf_counter() - t0

    def check(self, i: int) -> list[str]:
        """Re-run both joins for a seeded sample of points and queries
        and compare with brute force."""
        sz, problems = self.sz, []
        rng = np.random.default_rng([self.seed, 6, i + 8])  # warm-ups are i < 0
        pts = self.table.read()
        sample = self.pts.iloc[np.sort(rng.choice(len(self.pts), sz.pip_sample, replace=False))]
        ids = [int(v) for v in sample["point_id"]]
        got: dict[int, list[int]] = {}
        for r in self._pip(pts.filter(F.col("point_id").isin(ids))).collect():
            got.setdefault(r["point_id"], []).append(r["poly_id"])
        hits, near = oracle.containing(sample["lon"].to_numpy(), sample["lat"].to_numpy(), self.layer)
        poly_ids = self.layer["poly_id"].to_numpy()
        bad = sum(1 for p, h, nr in zip(ids, hits, near)
                  if not nr and sorted(got.get(p, [])) != sorted(int(poly_ids[x]) for x in h))
        if bad:
            problems.append(f"pip_join differs from brute force on {bad} of {len(ids)} points")

        qsub = self.qs.iloc[np.sort(rng.choice(len(self.qs), sz.knn_sample, replace=False))]
        qids = [int(v) for v in qsub["query_id"]]
        res: dict[int, list] = {}
        for r in self._knn(pts, qids).collect():
            res.setdefault(r["query_id"], []).append((r["rank"], r["point_id"], r["dist_sq"]))
        ref = oracle.knn(qsub["lon"].to_numpy(), qsub["lat"].to_numpy(), self.pts["point_id"].to_numpy(),
                         self.pts["lon"].to_numpy(), self.pts["lat"].to_numpy(), sz.k, sz.knn_res, 1)
        bad = 0
        for q, (blk_ids, blk_d, _, covered, glob_ids) in zip(qids, ref):
            rows = sorted(res.get(q, []))
            got_ids = [r[1] for r in rows]
            ok = (got_ids == blk_ids and [r[0] for r in rows] == list(range(1, len(rows) + 1))
                  and np.allclose([r[2] for r in rows], blk_d, rtol=1e-12, atol=0.0)
                  and (not covered or got_ids == glob_ids))
            bad += not ok
        if bad:
            problems.append(f"knn_join differs from brute force on {bad} of {len(qids)} queries")
        return problems

    def busy_runs(self) -> dict:
        f = _busy_pip(self.spans, lambda: self._pip(self.table.read()))
        f["knn"] = timed(self.spans, "busy.knn", lambda: noop(self._knn(self.table.read())))
        return f

    def layers(self, ev, iters: list[str], f: dict) -> dict:
        sz, last = self.sz, iters[-1]
        cand = sum(ev.sql_metric("busy.knn", j, "number of output rows") for j in JOINS)
        per_query = oracle.knn(self.qs["lon"].to_numpy(), self.qs["lat"].to_numpy(),
                               self.pts["point_id"].to_numpy(), self.pts["lon"].to_numpy(),
                               self.pts["lat"].to_numpy(), sz.k, sz.knn_res, 1)
        return {
            **self._scan(ev, iters),
            "pip_join.call_s": _med(self.spans, iters, "pip_join"),
            "pip_join.probe_jobs": ev.totals(f"{last}/pip_join")["jobs"],
            **_pip_layer(ev, f),
            "knn.call_s": _med(self.spans, iters, "knn"),
            "knn.busy_s": f["knn"],
            "knn.candidate_rows": cand,
            "knn.candidates_per_query_max": max(r[2] for r in per_query),
            "knn.useful_ratio": sz.k * len(self.qs) / cand,
            "knn.task_skew": ev.task_skew("busy.knn"),
            "busy_sum_s": f["pip_join"] + f["knn"],
        }


def _busy_pip(spans, make) -> dict:
    """pip_join alone, noop sink; an Observation counts its matches."""
    obs = Observation("pip_matches")
    secs = timed(spans, "busy.pip_join",
                 lambda: noop(make().observe(obs, F.count(F.lit(1)).alias("n"))))
    return {"pip_join": secs, "pip_matches": obs.get["n"]}


def _pip_layer(ev, f: dict) -> dict:
    cand = sum(ev.sql_metric("busy.pip_join", j, "number of output rows") for j in JOINS)
    return {
        "pip_join.busy_s": f["pip_join"],
        "pip_join.candidate_pairs": cand,
        "pip_join.matches": f["pip_matches"],
        "pip_join.refine_ratio": f["pip_matches"] / cand,
        "pip_join.shuffle_bytes": ev.totals("busy.pip_join")["shuffle_write"]
        + ev.sql_metric("busy.pip_join", "BroadcastExchange", "data size"),
        "pip_join.task_skew": ev.task_skew("busy.pip_join"),
    }


def _med(spans, iters: list[str], name: str) -> float:
    vals = [s for it in iters for s in spans.seconds(f"{it}/{name}")]
    return statistics.median(vals)


WORKLOADS = {w.name: w for w in (IngestTiles, ResumeMor, SpatialSkew)}
