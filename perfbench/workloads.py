"""The benchmark's workloads: seeded inputs, one job each, and output checks.

Each workload object owns one input directory.  ``generate`` materialises
the inputs, ``run`` is one job (what ``job_s`` times), and ``verify``
checks that job's committed outputs outside the timed region.  ``run``
takes a ``Tracer``: disabled, it is the plain job; enabled, every call into
a library layer sits in a span and forces its output inside that span.
``morphology_probe`` times the morphology layer beside a traced run.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from .checks import (cosine_topk_errors, gabriel_sample_errors, knn_errors,
                     ngram_pairs, simhash_pair_count)
from .trace import Tracer

DOMAIN = 5000.0
KNN_K = 5
SAMPLE_PROBES = 200
# ids stay below 2^63 / 1103515245 inside the point LCG for any seed
MAX_SEED_BLOCKS = 100_000


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))


class Workload:
    name = ""
    SIZE = 0
    input_rows = 0
    output_keys: tuple[str, ...] = ()

    def __init__(self, spark, root: str, seed: int, cpus: int,
                 size: int | None = None):
        self.spark, self.root, self.seed, self.cpus = spark, root, seed, cpus
        self.size = size or self.SIZE

    def generate(self) -> None:
        raise NotImplementedError

    def run(self, tr: Tracer, out: str) -> dict[str, float]:
        raise NotImplementedError

    def verify(self, result: dict[str, float], out: str) -> list[str]:
        raise NotImplementedError

    def output_rows(self, result: dict[str, float]) -> int:
        return int(sum(result[k] for k in self.output_keys))

    def _checkpoint(self, out: str):
        from city2graph_spark.checkpoint import SnapshotCheckpoint
        return SnapshotCheckpoint(self.spark, os.path.join(out, "ckpt"))

    def _stage(self, tr: Tracer, ck, name: str, build) -> int:
        with tr.span("checkpoint.write"):
            ck.stage(name, build)
        return int(ck.manifest(name)["rows"])

    def _resume(self, tr: Tracer, ck, names: list[str],
                result: dict[str, float]) -> None:
        """Stage hits on complete manifests: the checkpoint read path."""
        if not tr.enabled:
            return
        with tr.span("checkpoint.resume"):
            for n in names:
                ck.stage(n, lambda: None).count()
        rows = sum(ck.manifest(n)["rows"] for n in names)
        size = sum(_parquet_bytes(os.path.join(ck.root, n)) for n in names)
        result["checkpoint.bytes_per_row"] = size / max(rows, 1)


# --------------------------------------------------------------------------
# proximity graphs
# --------------------------------------------------------------------------

class SpatialUniform(Workload):
    """Documents whose geometry spans are the LCG point set of
    ``io.points`` over ids ``offset .. offset+n``: seed 0 starts at id 0,
    the ``bench.py`` point set."""

    name = "spatial_uniform"
    SIZE = 40_000
    output_keys = ("knn_edges", "gabriel_edges")

    @property
    def input_rows(self) -> int:
        return self.size

    @property
    def r_cand(self) -> float:
        return 6.0 * DOMAIN / self.size ** 0.5

    @property
    def offset(self) -> int:
        return (self.seed % MAX_SEED_BLOCKS) * self.size

    def generate(self) -> None:
        from city2graph_spark.io.documents import synth_spans
        ids = self.spark.range(self.offset, self.offset + self.size,
                               numPartitions=self.cpus)
        synth_spans(ids.select(F.col("id").alias("doc_id")),
                    text_col=None).write.mode("overwrite").parquet(
            _fresh(os.path.join(self.root, "docs")))

    def run(self, tr: Tracer, out: str) -> dict[str, float]:
        from city2graph_spark.index import with_cell
        from city2graph_spark.io.documents import extract_points
        from city2graph_spark.operators.proximity import (estimate_knn_cell,
                                                          gabriel_graph,
                                                          knn_graph)
        docs = self.spark.read.parquet(os.path.join(self.root, "docs"))
        if tr.enabled:
            with tr.span("io.extract_points"):
                path = os.path.join(out, "points")
                extract_points(docs).write.parquet(path)
            pts = self.spark.read.parquet(path)
        else:
            pts = extract_points(docs)
        cell = estimate_knn_cell(self.size, KNN_K)
        result: dict[str, float] = {}
        if tr.enabled:
            with tr.span("index.with_cell"):
                counts = np.array(
                    [r[0] for r in with_cell(pts, cell_size=cell)
                     .groupBy("cell").count().select("count").collect()])
            result["index.max_block_points"] = int(counts.max())
            result["index.p99_block_points"] = float(
                np.percentile(counts, 99))
        ck = self._checkpoint(out)
        ops = (("knn_edges", "proximity.knn",
                lambda: knn_graph(pts, KNN_K, cell_size=cell)),
               ("gabriel_edges", "proximity.gabriel",
                lambda: gabriel_graph(pts, r_cand=self.r_cand)))
        for key, span, build in ops:
            if not tr.enabled:
                result[key] = self._stage(tr, ck, key, build)
                continue
            # force the operator inside its own span; the cached edges
            # then feed the write, which gets a span of its own
            with tr.span(span):
                edges = build().persist()
                edges.count()
            result[key] = self._stage(tr, ck, key, lambda e=edges: e)
            edges.unpersist()
        self._resume(tr, ck, ["knn_edges", "gabriel_edges"], result)
        return result

    def _points_np(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.arange(self.offset, self.offset + self.size, dtype=np.int64)
        # the io.points LCG, evaluated exactly as Spark does (no overflow
        # for ids below MAX_SEED_BLOCKS · size)
        x = ((ids * 1103515245 + 12345) % 5000000).astype(np.float64) / 1000.0
        y = ((ids * 69069 + 362437) % 5000000).astype(np.float64) / 1000.0
        return ids, np.column_stack([x, y])

    def verify(self, result: dict[str, float], out: str) -> list[str]:
        """The whole kNN graph against its numpy oracle; Gabriel edges at
        seeded sample probes."""
        ids, xy = self._points_np()

        def edges(key: str, cols: list[str]) -> np.ndarray:
            t = pq.read_table(os.path.join(out, "ckpt", key, "data"),
                              columns=cols)
            return np.column_stack([t.column(c).to_numpy().astype(np.float64)
                                    for c in cols]).reshape(-1, len(cols))

        knn = edges("knn_edges", ["src", "dst", "weight"])
        gab = edges("gabriel_edges", ["u", "v"])
        errs = [f"{k}: {int(result[k])} rows committed, {len(e)} read back"
                for k, e in (("knn_edges", knn), ("gabriel_edges", gab))
                if len(e) != result[k]]
        errs += knn_errors(ids, xy, knn, KNN_K)
        rng = np.random.RandomState(self.seed)
        probes = rng.choice(ids, size=min(SAMPLE_PROBES, len(ids)),
                            replace=False)
        incident = np.isin(gab[:, 0], probes) | np.isin(gab[:, 1], probes)
        errs += gabriel_sample_errors(ids, xy, gab[incident], probes,
                                      self.r_cand)
        return errs


# --------------------------------------------------------------------------
# text and embedding side
# --------------------------------------------------------------------------

VOCAB = np.array("spark window merge table column vector stream value data "
                 "small join filter big group hash customer sort order slow "
                 "line part fast row the agg key query a scan batch".split())
CORPUS_SEED = 20_261_017
DUP_EVERY = 20
EMB_DIM = 64
EMB_CLUSTERS = 10
COSINE_K = 3


class DocumentDedup(Workload):
    """A fixed corpus shaped like the sf0.1 documents table: 5,000 texts of
    10–100 words drawn uniformly from a 30-word vocabulary, every 20th
    document a copy of an earlier one with " dup" appended, plus 2,000
    64-d embeddings around 10 centres.  Each table is one parquet file, as
    in the sf0.1 fixture, so Spark reads it as one input partition.  The
    seed relabels the document and embedding ids by a permutation, which
    must not change any output."""

    name = "document_dedup"
    SIZE = 5_000
    output_keys = ("minhash_pairs", "simhash_pairs", "ngram_pairs",
                   "cosine_rows")
    # minhash LSH pairs of the full corpus under any labelling; the other
    # outputs are checked against numpy oracles
    MINHASH_PAIRS = 2_875_935

    @property
    def n_embeddings(self) -> int:
        return self.size * 2 // 5

    @property
    def input_rows(self) -> int:
        return self.size + self.n_embeddings

    def _corpus(self) -> tuple[list[str], np.ndarray]:
        rng = np.random.RandomState(CORPUS_SEED)
        texts: list[str] = []
        for i in range(self.size):
            if i and i % DUP_EVERY == 0:
                texts.append(texts[rng.randint(0, i)] + " dup")
            else:
                texts.append(" ".join(rng.choice(VOCAB,
                                                 rng.randint(10, 101))))
        centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
        n = self.n_embeddings
        emb = (centres[rng.randint(0, EMB_CLUSTERS, n)]
               + 0.8 * rng.normal(size=(n, EMB_DIM)))
        return texts, emb.astype(np.float32)

    def _labels(self) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.RandomState(self.seed)
        return (rng.permutation(self.size).astype(np.int64),
                rng.permutation(self.n_embeddings).astype(np.int64))

    def generate(self) -> None:
        texts, emb = self._corpus()
        doc_ids, vec_ids = self._labels()
        os.makedirs(self.root, exist_ok=True)
        pq.write_table(pa.table({"doc_id": doc_ids, "text": texts}),
                       os.path.join(self.root, "documents.parquet"))
        pq.write_table(pa.table({
            "vec_id": vec_ids,
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32()))}),
            os.path.join(self.root, "embeddings.parquet"))

    def run(self, tr: Tracer, out: str) -> dict[str, float]:
        from city2graph_spark.pipeline.dedup import (minhash_lsh_pairs,
                                                     ngram_jaccard_pairs,
                                                     simhash_neardup_pairs)
        from city2graph_spark.pipeline.simsearch import cosine_topk
        docs = self.spark.read.parquet(
            os.path.join(self.root, "documents.parquet"))
        emb = self.spark.read.parquet(
            os.path.join(self.root, "embeddings.parquet"))
        ck = self._checkpoint(out)
        result: dict[str, float] = {}
        if tr.enabled:
            with tr.span("dedup.minhash"):
                pairs = minhash_lsh_pairs(docs).persist()
                pairs.count()
            result["minhash_pairs"] = self._stage(tr, ck, "minhash_pairs",
                                                  lambda: pairs)
            pairs.unpersist()
        else:
            result["minhash_pairs"] = self._stage(
                tr, ck, "minhash_pairs", lambda: minhash_lsh_pairs(docs))
        with tr.span("dedup.simhash"):
            result["simhash_pairs"] = simhash_neardup_pairs(docs).count()
        with tr.span("dedup.ngram"):
            ngram = ngram_jaccard_pairs(docs).select("doc_a", "doc_b") \
                .collect()
        self._ngram = {(r[0], r[1]) for r in ngram}
        result["ngram_pairs"] = len(ngram)
        with tr.span("simsearch.cosine_topk"):
            rows = cosine_topk(emb, COSINE_K).collect()
        self._cosine = np.array([(r["qid"], r["nid"], r["rnk"]) for r in rows],
                                dtype=np.int64).reshape(-1, 3)
        result["cosine_rows"] = len(rows)
        self._resume(tr, ck, ["minhash_pairs"], result)
        return result

    def verify(self, result: dict[str, float], out: str) -> list[str]:
        texts, emb = self._corpus()
        doc_ids, vec_ids = self._labels()
        errs = []
        if result["minhash_pairs"] != self.MINHASH_PAIRS:
            errs.append(f"dedup: {result['minhash_pairs']} minhash pairs, "
                        f"expected {self.MINHASH_PAIRS}")
        want = simhash_pair_count(texts)
        if result["simhash_pairs"] != want:
            errs.append(f"dedup: {result['simhash_pairs']} simhash pairs, "
                        f"oracle {want}")
        oracle = {(min(doc_ids[i], doc_ids[j]), max(doc_ids[i], doc_ids[j]))
                  for i, j in ngram_pairs(texts)}
        if self._ngram != oracle or result["ngram_pairs"] != len(oracle):
            errs.append(f"dedup: ngram pairs differ from the oracle: "
                        f"{len(self._ngram - oracle)} extra, "
                        f"{len(oracle - self._ngram)} missing")
        errs += cosine_topk_errors(vec_ids, emb.astype(np.float64),
                                   self._cosine, COSINE_K)
        return errs


# --------------------------------------------------------------------------
# morphology layer, timed beside a traced run
# --------------------------------------------------------------------------

MORPH_BUILDINGS = 50  # the smallest strip fixture the gate accepts


def morphology_probe(spark, tr: Tracer, root: str) -> list[str]:
    """``reachability_field`` and ``enclosed_tessellation`` on the gate's
    closed-form strip fixture (a 6x6 street grid of 1 km blocks and
    ``MORPH_BUILDINGS`` buildings; the seed does not apply), each forced
    inside its own span.  Returns the output errors: from the (0, 0)
    corner every street node's cost is its Manhattan distance, and every
    building owns a cell."""
    from city2graph_spark import gate
    from city2graph_spark.operators.morphology import reachability_field
    from city2graph_spark.operators.tessellation import enclosed_tessellation
    sf_dir = _fresh(os.path.join(root, "strip"))
    os.makedirs(sf_dir)
    pq.write_table(pa.table({"doc_id": np.arange(MORPH_BUILDINGS,
                                                 dtype=np.int64)}),
                   os.path.join(sf_dir, "documents.parquet"))
    mv = gate._grid_streets_noded(spark)
    with tr.span("morphology.reachability"):
        cost, _, _ = reachability_field(mv, (0.0, 0.0))
    with tr.span("tessellation.enclosed"):
        cells = enclosed_tessellation(
            gate._derived_buildings(spark, sf_dir), mv) \
            .select("place_id").distinct().collect()
    errs = []
    want = sorted(1000.0 * (i + j) for i in range(6) for j in range(6))
    got = sorted(cost.values())
    if len(got) != len(want) or not np.allclose(got, want):
        errs.append(f"morphology: {len(got)} reachability costs differ from "
                    f"the grid's Manhattan distances")
    owners = {r[0] for r in cells} - {-1}
    if owners != set(range(MORPH_BUILDINGS)):
        errs.append(f"tessellation: {len(owners)} of {MORPH_BUILDINGS} "
                    f"buildings own a cell")
    return errs


WORKLOADS = {w.name: w for w in (SpatialUniform, DocumentDedup)}
