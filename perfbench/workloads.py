"""The benchmark's workloads. Each one builds its inputs from the seed
in ``setup`` and then issues its calls in sequence, one caller waiting
for every result (a closed loop), in ``iteration``.

``iteration`` returns the items it completed and, per call, a thunk
giving ``(rows, digest)`` of the call's output. Every call ends by
writing its output as parquet, as the checkpointed pipeline stages do,
and the runner evaluates the thunks, which read those files back,
after the timed window, so the output checks cost no measured time and
no operator runs twice. Set-up ends with a warm-up pass over the same
calls and inputs, whose outputs are not checked, so the JIT and
code-generation caches are filled before anything is timed.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from contextlib import nullcontext
from unittest import mock

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEED = 42


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, order-independent digest): the exact sum of
    ``xxhash64`` over the rows. Floats are rounded to 4 decimals and
    maps rendered as JSON first, so the digest pins the rows, not the
    last bits of a float."""
    cols = []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype in ("double", "float"):
            c = F.round(c, 4)
        elif dtype.startswith("map"):
            c = F.to_json(c)
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).first()
    return int(row[0]), str(row[1] or 0)


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


def pip_candidates(points: DataFrame, zones: DataFrame) -> int:
    """(point, zone) candidate pairs of the PIP filter, counted from
    outside the operator: the points' cells joined to the zones'
    cover cells."""
    from asag_spark.functions import hex_cell
    from asag_spark.operators.pip import PIP_RES, zone_covers

    cells = points.select(
        hex_cell(F.col("lon"), F.col("lat"), PIP_RES).alias("cell"))
    return cells.join(zone_covers(zones, PIP_RES), "cell").count()


class Workload:
    """Base class: the inputs of one seed and the calls of one pass."""

    name = ""
    calls: tuple[str, ...] = ()
    # calls whose pinned (rows, digest) hold for every seed, not only
    # for DEFAULT_SEED
    seed_free: frozenset[str] = frozenset()

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = None

    def traced(self, layer: str, function: str, **attrs):
        """Span of one call; yields the span's attributes, to which the
        call may add what it observed."""
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(layer, function, **attrs)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self, index: int) -> tuple[int, dict]:
        raise NotImplementedError

    def invariants(self, results: dict) -> list[str]:
        """Calls whose outputs break a rule that holds for any seed."""
        return []

    def ratios(self, results: dict) -> dict[str, float]:
        """Per-layer ratios of the traced run, from the last pass."""
        return {}


def _parquet_digest(spark, path: str):
    return lambda: digest(spark.read.parquet(path))


def write(df: DataFrame, path: str) -> str:
    """Run a call's plan by writing its output; returns ``path``."""
    df.write.mode("overwrite").parquet(path)
    return path


# --------------------------------------------------------------------------
# geo_pipeline: the plans/job.py stage graph, then nearest-feature
# searches over the same docs' stop places
# --------------------------------------------------------------------------

GEO_DOCS = 20_000
SNAP_EVERY = 5     # 1-in-5 stop places snap (xxhash64 subsample)
KNN_EVERY = 20     # 1-in-20 stop places probe kNN

# (stage, layer, public function) in plans/job.py order
GEO_STAGES = (
    ("extract_features", "operators.enrich", "build_features"),
    ("tile_assign", "functions", "assign_tiles"),
    ("pip", "operators.pip", "pip_join"),
    ("tiles", "geo.tiles", "tile_feature_collections"),
    ("pyramid", "geo.xyz", "tile_pyramid"),
)
SNAPS = ("snap_dense", "snap_pruned")


def stop_places(docs: DataFrame) -> DataFrame:
    """(feature_id, lon, lat) of a deterministic 1-in-SNAP_EVERY
    ``xxhash64`` sample of the docs' stop places."""
    from asag_spark.operators.enrich import point_lat, point_lon

    wkt = F.filter("spans", lambda s: s["kind"] == "geom")[0]["text"]
    return (
        docs.filter(F.col("doc_id").startswith("GEN:StopPlace:"))
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(SNAP_EVERY)) == 0)
        .select(F.col("doc_id").alias("feature_id"),
                point_lon(wkt).alias("lon"), point_lat(wkt).alias("lat"))
    )


class GeoPipeline(Workload):
    """docs -> features -> tiles -> PIP -> tile collections -> pyramid,
    every stage checkpointed into a fresh workdir; then the snap to
    municipality boundaries on each side of the dense/pruned gate and
    point kNN over the skewed stop-place cloud."""

    name = "geo_pipeline"
    calls = tuple(s for s, _, _ in GEO_STAGES) + SNAPS + ("knn_join",)

    def setup(self) -> None:
        from asag_spark.datagen import generate_docs, generate_zones

        self.docs = generate_docs(self.spark, GEO_DOCS, seed=self.seed).cache()
        self.docs.count()
        self.snap_pts = stop_places(self.docs).cache()
        self.n_snap = self.snap_pts.count()
        # the kNN sample is a subset of the snap sample
        self.knn_pts = self.snap_pts.filter(
            F.pmod(F.xxhash64("feature_id"), F.lit(KNN_EVERY)) == 0).cache()
        self.knn_pts.count()
        zones = generate_zones(self.spark, seed=self.seed).cache()
        # 40 zones have 240 ring edges and 50 have 300: one set on each
        # side of pip.SNAP_DENSE_MAX_EDGES
        self.zones = {"pip": zones, "snap_pruned": zones,
                      "snap_dense": zones.orderBy("zone_id").limit(40).cache()}
        for z in self.zones.values():
            z.count()
        self.input_fp = hashlib.md5(
            f"geo|{GEO_DOCS}|{self.seed}".encode()).hexdigest()

    def _stage(self, pipe, stage: str, build, params: str = ""):
        _, layer, function = next(s for s in GEO_STAGES if s[0] == stage)
        with self.traced(layer, function, checkpoint_stage=stage):
            return pipe.run_stage(stage, build, params=params)

    def _snap(self, points: DataFrame, call: str, path: str) -> str:
        """Write one snap to ``path``; returns the strategy the operator
        ran, seen from which of its private index builders it called."""
        from asag_spark.operators import pip

        with mock.patch.object(pip, "_edge_buckets",
                               wraps=pip._edge_buckets) as pruned, \
                mock.patch.object(pip, "_snap_distributed",
                                  wraps=pip._snap_distributed) as dist, \
                self.traced("operators.pip", "snap_to_boundary") as attrs:
            write(pip.snap_to_boundary(points, self.zones[call],
                                       mode="auto"), path)
            attrs["strategy"] = ("distributed" if dist.called else
                                 "pruned" if pruned.called else "dense")
        return attrs["strategy"]

    def _knn(self, points: DataFrame, path: str) -> None:
        from asag_spark.operators.knn import knn_join

        with self.traced("operators.knn", "knn_join", k=3):
            write(knn_join(points, k=3), path)

    def _knn_bad_probes(self, path: str) -> tuple[int, str]:
        """(probes of the written kNN output with more than 3
        neighbours or ranks other than 1..n, "0")."""
        per_probe = self.spark.read.parquet(path).groupBy("feature_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("rank").alias("lo"),
            F.max("rank").alias("hi"))
        bad = per_probe.filter(
            (F.col("n") > 3) | (F.col("lo") != 1)
            | (F.col("hi") != F.col("n"))).count()
        return bad, "0"

    def iteration(self, index: int) -> tuple[int, dict]:
        from asag_spark.datagen import AS_OF
        from asag_spark.functions import assign_tiles
        from asag_spark.geo.tiles import tile_feature_collections
        from asag_spark.geo.xyz import tile_pyramid
        from asag_spark.operators.enrich import build_features
        from asag_spark.operators.pip import pip_join, pip_join_partitioned
        from asag_spark.plans.checkpoint import CheckpointedPipeline

        wd = self.fresh_dir(f"geo-{index}")
        calls_dir = self.fresh_dir(f"geo-{index}-calls")  # not checkpoints
        pipe = CheckpointedPipeline(self.spark, wd, self.input_fp)
        docs, zones = self.docs, self.zones["pip"]
        feats = self._stage(pipe, "extract_features",
                            lambda: build_features(docs, as_of=AS_OF),
                            params=AS_OF)
        tiled = self._stage(pipe, "tile_assign", lambda: assign_tiles(feats))
        located = tiled.filter(F.col("lat").isNotNull())
        self._stage(pipe, "pip", lambda: pip_join(located, zones),
                    params="zones")
        self._stage(pipe, "tiles",
                    lambda: tile_feature_collections(tiled, "h3_r7"))
        self._stage(pipe, "pyramid",
                    lambda: tile_pyramid(located, base_zoom=12, min_zoom=5))
        out = {s: os.path.join(wd, s, "data") for s, _, _ in GEO_STAGES}
        out.update({c: os.path.join(calls_dir, c)
                    for c in SNAPS + ("knn_join",)})
        strategy = {c: self._snap(self.snap_pts, c, out[c]) for c in SNAPS}
        self._knn(self.knn_pts, out["knn_join"])
        self.last_dir = wd
        checks = {c: _parquet_digest(self.spark, path)
                  for c, path in out.items()}
        checks.update({f"{c}.strategy": (lambda v=v: (0, v))
                       for c, v in strategy.items()})
        checks["knn_bad"] = lambda: self._knn_bad_probes(out["knn_join"])
        if self.tracer is not None:
            # the broadcast-free plan must return the pip stage's rows.
            # It runs with the checks, outside the timed window, and
            # only for traced passes: on 4 cores it adds ~5 s to a run
            checks["pip_join_partitioned"] = lambda: digest(
                pip_join_partitioned(self._located(wd), zones))
        return GEO_DOCS, checks

    def _located(self, wd: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(wd, "tile_assign", "data")
        ).filter(F.col("lat").isNotNull())

    def invariants(self, results: dict) -> list[str]:
        bad = [s for s, _, _ in GEO_STAGES if results[s][0] == 0]
        # assign_tiles only adds columns
        if results["tile_assign"][0] != results["extract_features"][0]:
            bad.append("tile_assign")
        if results.get("pip_join_partitioned", results["pip"]) \
                != results["pip"]:
            bad.append("pip")
        # one snap per point; the operator ran the strategy the call is
        # named after
        bad += [c for c in SNAPS
                if results[c][0] != self.n_snap
                or results[f"{c}.strategy"][1] != c.split("_")[1]]
        if results["knn_bad"][0] != 0:
            bad.append("knn_join")
        return bad

    def ratios(self, results: dict) -> dict[str, float]:
        candidates = pip_candidates(self._located(self.last_dir),
                                    self.zones["pip"])
        return {
            "operators.pip.hit_ratio": results["pip"][0] / max(candidates, 1),
            "plans.checkpoint.mb_written": dir_mb(self.last_dir),
        }


# --------------------------------------------------------------------------
# curate: plans.curate.run on a seeded permutation of a fixed corpus,
# then top-k search over an embedding corpus, scored inline and from
# stored codes
# --------------------------------------------------------------------------

CURATE_DOCS = 2_000
ANN_VECS = 20_000
ANN_QUERIES = 4
ANN_K = 10
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

# stage -> (layer, public function) of the curate stage graph
CURATE_STAGES = {
    "quality_gate": ("operators.text", "quality_topq"),
    "pii_scrub": ("operators.text", "pii_scrub"),
    "ngram_scrub": ("operators.dedup", "ngram_span_scrub"),
    "exact_dedup": ("operators.dedup", "exact_dedup"),
    "near_dedup": ("operators.dedup", "minhash_dedup"),
    "split_shard": ("operators.text", "split_assign"),
}
FUNNEL = ("input", "quality_gate", "exact_dedup", "near_dedup", "output")


def curate_corpus(n: int) -> pd.DataFrame:
    """A fixed corpus in the shape of the documents table: random
    30-word-vocabulary texts of 10-100 tokens, with exact copies and
    one-token edits of earlier documents so both dedup stages have
    candidates. Content does not depend on the run seed."""
    rng = np.random.default_rng(20240601)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_VOCAB, size=k)) for k in lens]
    for i in range(n // 10, n):
        u = rng.random()
        if u < 0.04:
            texts[i] = texts[rng.integers(0, i)]
        elif u < 0.08:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = "dup"
            texts[i] = " ".join(toks)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


class Curate(Workload):
    """The text curation driver: quality gate, PII and n-gram scrubs,
    exact and near dedup, split/shard, each stage checkpointed; then
    PQ top-k scored inline and from stored codes, which must return the
    same neighbours, and an IVF probe."""

    name = "curate"
    calls = ("funnel", "output", "pq_topk", "pq_topk_encoded",
             "ivf_topk_indexed")
    # the corpus is fixed and only permuted by the seed
    seed_free = frozenset(("funnel", "output"))

    def setup(self) -> None:
        from asag_spark.datagen import generate_embeddings
        from asag_spark.operators import similarity as S

        corpus = curate_corpus(CURATE_DOCS)
        order = np.random.default_rng(self.seed).permutation(len(corpus))
        self.input_path = self.fresh_dir("curate-input")
        os.makedirs(self.input_path)
        corpus.iloc[order].to_parquet(
            os.path.join(self.input_path, "part-0.parquet"), index=False)

        self.emb = generate_embeddings(self.spark, ANN_VECS,
                                       seed=self.seed).cache()
        self.emb.count()
        self.queries = self.emb.filter(F.col("vec_id") < ANN_QUERIES).cache()
        self.queries.count()
        _, self.codebook = S.pq_codebook(self.emb)
        self.pq_path = self.fresh_dir("pq")
        S.pq_encode(self.emb, self.pq_path, codebook=self.codebook)
        self.ivf_path = self.fresh_dir("ivf")
        S.ivf_index_write(self.emb, self.ivf_path)

    def _patches(self):
        """Trace every stage call and the input contract check from
        outside the driver: spans wrap the class's ``run_stage`` and
        the module attribute ``run`` imports ``assert_checks`` from."""
        from asag_spark.operators import checks
        from asag_spark.plans.checkpoint import CheckpointedPipeline

        run_stage = CheckpointedPipeline.run_stage
        assert_checks = checks.assert_checks
        tracer = self.tracer

        def traced_stage(pipe, stage, build, params=""):
            layer, function = CURATE_STAGES[stage]
            with tracer.span(layer, function, checkpoint_stage=stage):
                return run_stage(pipe, stage, build, params)

        def traced_checks(df, rules):
            with tracer.span("operators.checks", "assert_checks",
                             rules=len(rules)):
                return assert_checks(df, rules)

        return (mock.patch.object(CheckpointedPipeline, "run_stage",
                                  traced_stage),
                mock.patch.object(checks, "assert_checks", traced_checks))

    def _curate(self, wd: str) -> dict:
        from asag_spark.plans import curate

        if self.tracer is None:
            return curate.run(self.spark, self.input_path, wd,
                              quality_gate="topq")
        stage_patch, checks_patch = self._patches()
        with stage_patch, checks_patch:
            return curate.run(self.spark, self.input_path, wd,
                              quality_gate="topq")

    def _ann(self, function: str, run, wd: str):
        """Write one scorer's top-k; returns the check of its output."""
        path = os.path.join(wd, function)
        with self.traced("operators.similarity", function, k=ANN_K):
            write(run(), path)
        # the scorers' outputs differ in their score columns; the
        # (query, neighbour, rank) triple is what inline and stored-code
        # twins must agree on
        return lambda: digest(self.spark.read.parquet(path).select(
            "query_id", "neighbor_id", "rank"))

    def iteration(self, index: int) -> tuple[int, dict]:
        from asag_spark.operators import similarity as S

        wd = self.fresh_dir(f"curate-{index}")
        calls_dir = self.fresh_dir(f"curate-{index}-calls")  # not checkpoints
        summary = self._curate(wd)
        ann = {
            "pq_topk": self._ann("pq_topk", lambda: S.pq_topk(
                self.emb, self.queries, k=ANN_K, codebook=self.codebook), calls_dir),
            "pq_topk_encoded": self._ann(
                "pq_topk_encoded", lambda: S.pq_topk_encoded(
                    self.spark, self.pq_path, self.queries, k=ANN_K), calls_dir),
            "ivf_topk_indexed": self._ann(
                "ivf_topk_indexed", lambda: S.ivf_topk_indexed(
                    self.spark, self.ivf_path, self.queries, k=ANN_K), calls_dir),
        }
        self.last_dir = wd
        funnel = tuple(summary["funnel"][k] for k in FUNNEL)
        checks = {
            "funnel": lambda: (funnel[-1], ",".join(map(str, funnel))),
            "output": _parquet_digest(
                self.spark, os.path.join(wd, "split_shard", "data")),
        }
        checks.update(ann)
        return CURATE_DOCS, checks

    def invariants(self, results: dict) -> list[str]:
        funnel = [int(x) for x in results["funnel"][1].split(",")]
        ok = (funnel[0] == CURATE_DOCS
              and funnel[1] >= math.ceil(0.8 * CURATE_DOCS)
              and all(a >= b for a, b in zip(funnel, funnel[1:]))
              and funnel[-1] == results["output"][0] > 0)
        bad = [] if ok else ["funnel"]
        if results["pq_topk"] != results["pq_topk_encoded"]:
            bad.append("pq_topk_encoded")
        return bad

    def ratios(self, results: dict) -> dict[str, float]:
        from asag_spark.operators.similarity import ivf_probe_cells

        funnel = dict(zip(FUNNEL, (int(x) for x in
                                   results["funnel"][1].split(","))))
        cells = ivf_probe_cells(self.spark, self.ivf_path, self.queries)
        scanned = self.spark.read.parquet(f"{self.ivf_path}/index").filter(
            F.col("ivf_cell").isin(cells)).count()
        return {
            "operators.dedup.drop_ratio":
                (funnel["exact_dedup"] - funnel["near_dedup"])
                / max(funnel["exact_dedup"], 1),
            "plans.checkpoint.mb_written": dir_mb(self.last_dir),
            "operators.similarity.scan_ratio": scanned / ANN_VECS,
        }


WORKLOADS = {w.name: w for w in (GeoPipeline, Curate)}
