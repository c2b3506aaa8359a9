"""The benchmark's workloads.

Each workload builds its seeded inputs in ``inputs`` and its references in
``setup``; ``op`` runs one operation (one pipeline call, or one increment
and a graph closure) and returns its (input rows, emitted triples).
``check`` compares that operation's outputs with the references; a
mismatch counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from spacy_llm_spark.corpus import corpus_from_documents
from spacy_llm_spark.fs import cut_lineage
from spacy_llm_spark.kb import build_code_kb
from spacy_llm_spark.operators import canonicalize as canon
from spacy_llm_spark.operators import materialize as mat
from spacy_llm_spark.operators.checkpoint import CheckpointManager
from spacy_llm_spark.operators.graph import transitive_closure
from spacy_llm_spark.pipeline import KGConfig, annotate_corpus, run_pipeline

import inputs

ANN_COLS = ("doc_id", "ents", "rels", "kb_ids")
EDGE_COLS = ("doc_id", "rel_idx", "subj", "pred", "obj", "subj_label", "obj_label")
# modulus of the hierarchy relabelling: a prime above every vertex id
HIER_P = 2_147_483_647


def fingerprint(df, cols) -> tuple:
    """Order-independent (row count, sum of row hashes) of ``df[cols]``."""
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return row["n"], str(row["s"])


def canonical_of(ann):
    """Canonical edges materialized and canonicalized from ``ann``."""
    edges = mat.edges_table(ann)
    return canon.canonical_edges(edges, canon.canonical_vertices(mat.links_table(ann)))


def hierarchy(spark, n: int, seed: int):
    """``bench_extra.py``'s closure_hierarchy shape at ``n`` vertices: the
    binary tree child v -> parent v // 2 over v in [2, n), with every
    vertex v relabelled as (v * a + b) mod P for seed-chosen a, b.
    Returns (edges(src, dst), decode) where ``decode`` maps a label column
    back to v."""
    rng = np.random.default_rng(seed)
    a, b = (int(x) for x in rng.integers(1, HIER_P, 2))
    a_inv = pow(a, -1, HIER_P)

    def label(v):
        return (v * F.lit(a) + F.lit(b)) % F.lit(HIER_P)

    def decode(c):
        return ((c - F.lit(b) + F.lit(HIER_P)) % F.lit(HIER_P)) * F.lit(a_inv) % F.lit(HIER_P)

    v = F.col("id")
    edges = spark.range(2, n).select(label(v).alias("src"), label(F.floor(v / 2)).alias("dst"))
    return edges, decode


def ancestor_pairs(n: int) -> int:
    """Size of the hierarchy's closure: v in [2, n) has floor(log2 v)
    ancestors."""
    return sum(v.bit_length() - 1 for v in range(2, n))


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores

    def prepare(self) -> None:
        """Untimed work before each operation."""

    def layer_metrics(self) -> dict:
        """Per-layer counters read after the traced phase."""
        return {}

    def corpus_at(self, docs_dir: str, replicate: int = 1):
        """The ``corpus`` layer: documents -> source-file corpus, cut."""
        corpus = cut_lineage(
            corpus_from_documents(
                self.spark, docs_dir, replicate=replicate,
                target_partitions=2 * self.cores,
            )
        )
        corpus.count()
        return corpus


class KGFull(Workload):
    """Fresh full build over sf0.1-shaped documents replicated 4x (75%
    duplicate content) with the default KGConfig (no checkpoint, no
    sharding): fused annotate, materialize, canonicalize."""

    name = "kg_full"
    # 12k rows: the fused pass's share of an operation's wall grows with
    # the rows (traced, local[4]: 0.60 at 3.2k rows, 0.70 at 8k, 0.75 at
    # 12k, 0.80 at sf0.1's 20k), and a 20k-row operation (~8 s) fits only
    # once in a 16 s measured phase
    distinct_docs = 3000
    replicate = 4

    def inputs(self) -> None:
        docs_dir = os.path.join(self.work, "docs")
        inputs.write_documents(docs_dir, self.distinct_docs, self.seed)
        self.corpus = self.corpus_at(docs_dir, self.replicate)

    def setup(self) -> None:
        self.cfg = KGConfig()
        self.kb = build_code_kb()
        self.n_docs = self.corpus.count()
        # Reference: the staged (fused=False) NER -> REL -> EL chain over the
        # distinct contents, joined back onto every row.
        distinct = self.corpus.dropDuplicates(["content_sha256"])
        staged = annotate_corpus(distinct, self.cfg, self.kb, fused=False).select(
            "content_sha256", "ents", "rels", "kb_ids"
        )
        ref = cut_lineage(self.corpus.drop("content").join(staged, "content_sha256"))
        self.ref = (fingerprint(ref, ANN_COLS), fingerprint(canonical_of(ref), EDGE_COLS))

    def op(self, tracer) -> tuple:
        with tracer.span("fused.annotate"):
            ann = cut_lineage(annotate_corpus(self.corpus, self.cfg, self.kb))
        with tracer.span("materialize.edges"):
            edges = mat.edges_table(ann)
            n_triples = edges.count()
        with tracer.span("canonicalize.vertices"):
            vertices = canon.canonical_vertices(mat.links_table(ann))
        with tracer.span("canonicalize.edges"):
            canonical = cut_lineage(canon.canonical_edges(edges, vertices))
            canonical.count()
        self._out = (ann, canonical)
        return self.n_docs, n_triples

    def check(self) -> bool:
        ann, canonical = self._out
        return (
            fingerprint(ann, ANN_COLS),
            fingerprint(canonical, EDGE_COLS),
        ) == self.ref


class KGResume(Workload):
    """Incremental ingest: a checkpoint primed in setup with 75% of the
    distinct content; each operation restores the primed copy (untimed)
    and lands the other 25% as one increment through
    ``run_pipeline(checkpoint_dir=...)`` over the grown corpus, then
    computes the transitive closure of a seeded ``hierarchy`` of
    ``hier_vertices`` vertices (the graph layer: the KG's own entity graph
    has at most the KB's 22 surfaces as vertices, too few to load it).
    Runs with ``context_length=120``, so the kernel also runs the sharding
    loop."""

    name = "kg_resume"
    distinct_docs = 400
    primed_docs = 300
    context_length = 120
    # 65,536 vertices, 917,506 closure pairs: at 16k vertices the closure's
    # ~35 per-round jobs carried little data, so job latency set its time
    # and run-to-run spread was 0.2-0.3; at 64k the rounds carry the work
    hier_vertices = 1 << 16

    def inputs(self) -> None:
        docs_dir = os.path.join(self.work, "docs")
        # write_documents draws the documents from the seed, so the first
        # 75% of doc ids are a seed-chosen 75% of the content
        self.input_bytes = inputs.write_documents(docs_dir, self.distinct_docs, self.seed)
        self.corpus = self.corpus_at(docs_dir)
        edges, self.decode = hierarchy(self.spark, self.hier_vertices, self.seed)
        self.hier = cut_lineage(edges)

    def setup(self) -> None:
        self.cfg = KGConfig(context_length=self.context_length)
        self.kb = build_code_kb()
        self.ckpt = os.path.join(self.work, "ckpt")
        self.primed_dir = os.path.join(self.work, "ckpt_primed")
        # Reference: a fresh, checkpoint-free run over the same corpus; the
        # closure is checked against its generator's closed form instead.
        ref_ann = cut_lineage(annotate_corpus(self.corpus, self.cfg, self.kb))
        ref_canonical = cut_lineage(canonical_of(ref_ann))
        self.ref = (fingerprint(ref_ann, ANN_COLS), fingerprint(ref_canonical, EDGE_COLS))
        self.ref_pairs = ancestor_pairs(self.hier_vertices)
        res = run_pipeline(
            self.spark,
            self.corpus.where(F.col("doc_id") < self.primed_docs),
            self._ckpt_cfg(self.primed_dir),
            self.kb,
        )
        res.canonical_edges.count()

    def _ckpt_cfg(self, path: str) -> KGConfig:
        return KGConfig(context_length=self.context_length, checkpoint_dir=path)

    def prepare(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.primed_dir, self.ckpt)

    def op(self, tracer) -> tuple:
        with tracer.wrap(CheckpointManager, "run_stage", "checkpoint.run_stage"), \
                tracer.wrap(canon, "canonical_vertices", "canonicalize.vertices"):
            res = run_pipeline(self.spark, self.corpus, self._ckpt_cfg(self.ckpt), self.kb)
        with tracer.span("canonicalize.edges"):
            canonical = cut_lineage(res.canonical_edges)
            canonical.count()
        with tracer.span("graph.closure"):
            reach = cut_lineage(transitive_closure(self.hier, src="src", dst="dst"))
            reach.count()
        self._out = (res, canonical, reach)
        return self.distinct_docs, res.n_triples

    def check(self) -> bool:
        res, canonical, reach = self._out
        return (
            fingerprint(res.annotated, ANN_COLS),
            fingerprint(canonical, EDGE_COLS),
        ) == self.ref and self.closure_ok(reach)

    def closure_ok(self, reach) -> bool:
        """The closure equals the hierarchy's ancestor pairs: it has their
        number of rows, all distinct, and each row (v, u) has u = v // 2^k
        for some k >= 1."""
        v, u = self.decode(F.col("src")), self.decode(F.col("dst"))
        bits = F.length(F.bin(v)) - F.length(F.bin(u))
        row = reach.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("src", "dst").alias("distinct"),
            F.sum(((bits > 0) & (F.floor(v / F.pow(2, bits)) == u)).cast("long")).alias("valid"),
        ).collect()[0]
        return row["n"] == row["distinct"] == row["valid"] == self.ref_pairs

    def layer_metrics(self) -> dict:
        """Checkpoint counters of the last increment (traced run only)."""
        res = self._out[0]
        m = res.metrics.collect()[0]
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self.ckpt) for f in fs
        ]
        return {
            "checkpoint.hit_ratio": m["cache_hits"] / max(m["rows_in"], 1),
            "checkpoint.rows_processed": float(m["rows_processed"]),
            "checkpoint.files": float(sum(f.endswith(".parquet") for f in files)),
            "checkpoint.bytes_per_input_byte": sum(os.path.getsize(f) for f in files)
            / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (KGFull, KGResume)}

