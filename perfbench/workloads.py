"""The workloads. Each one generates its inputs from the seed in
``setup``, runs one pass over the program's public functions in
``run_pass``, and checks that pass's outputs in ``check`` against values
the program did not compute.

- ``decompose``: the paper's pipeline end to end — mine minimal
  separators, measure the mined JDs, enumerate acyclic schemas (first 3),
  validate them, write the best one bucketed. A planted star relation
  shaped like customer⋈nation⋈region, small enough (rows x 2^attributes
  within ``JDMiner.eager_cells``) that mining measures from two entropy
  jobs: the singletons, then one CUBE. Bound by scheduler latency (~130
  small jobs); the only workload that writes tables.
- ``curate_embed``: a training-data curation job in two parts. The text
  part runs ``pipeline.curate_corpus`` with persisted stages, the mixture,
  the benchmark split and packing, and forces both outputs; most of its
  jobs are eager ones at construction. The embedding part finds SRP-LSH
  near-duplicate pairs with the kernel chosen by ``auto`` (the gram
  kernel at this size), removes them through connected components, then
  builds a hierarchical PQ index and probes it with a small query batch;
  it is bound by Python workers and BLAS. Never touches entropy, mining
  or decompose: the control for those layers, as ``decompose`` is for
  the operators.
"""

from __future__ import annotations

import inspect
import itertools
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as parquet
from pyspark.sql import functions as F

TOL = 1e-6


def force(df) -> tuple[int, int]:
    """(rows, checksum) of ``df`` in one job. The checksum is bit_xor over
    xxhash64 of all columns, so Catalyst cannot prune a computed column
    the way a bare count lets it."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
                 .alias("x")).first()
    return row["n"], row["x"] or 0


def _table_dir(spark, name: str) -> str:
    """Files of a managed table in the session's warehouse."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(wh, name.lower())


def _entropy(counts: np.ndarray, n: int) -> float:
    c = counts[counts > 1].astype(np.float64)
    return math.log2(n) - float(np.sum(c * np.log2(c))) / n


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.props: dict = {"seed": seed}
        # outputs of the first checked pass (the warm-up) that every later
        # pass must repeat
        self.expected: object = None

    @property
    def input_rows(self) -> int:
        return self.props["rows"]

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer):
        raise NotImplementedError

    def check(self, spark, out) -> list[str]:
        """Problems found in one pass's outputs; empty when correct."""
        raise NotImplementedError

    def cleanup(self, spark, out) -> None:
        """Drop what a pass wrote; outputs the benchmark itself owns."""

    def layer_counts(self, spark, out) -> dict[str, float]:
        """Layer-specific counts of a traced pass, ``{metric: value}``."""
        return {}


# --------------------------------------------------------------------------
# decompose
# --------------------------------------------------------------------------

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


class Decompose(Workload):
    name = "decompose"
    rows = 15_000
    candidates = 3
    join_key = "c_nationkey"

    def setup(self, spark) -> None:
        from relationaldecomposition_spark.mining.jd_miner import JDMiner

        rng = np.random.default_rng(self.seed)
        n = self.rows
        region_of = rng.permutation(np.repeat(np.arange(len(REGIONS)),
                                              NATIONS // len(REGIONS)))
        nation = rng.integers(0, NATIONS, n)
        pdf = pd.DataFrame({
            "c_custkey": np.arange(1, n + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
            "c_acctbal": rng.integers(-200, 2000, n) * 5.0,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            "c_nationkey": nation.astype(np.int32),
            "n_name": np.array([f"NATION_{i:02d}" for i in
                                range(NATIONS)])[nation],
            "n_regionkey": region_of[nation].astype(np.int32),
            "r_name": np.array(REGIONS)[region_of[nation]],
        })
        self.pdf = pdf
        self.rel = spark.createDataFrame(pdf)
        eager = inspect.signature(JDMiner).parameters["eager_cells"].default
        attrs = len(pdf.columns)
        self.props.update(rows=n, attributes=attrs,
                          cells=n * (1 << attrs), eager_cells=eager)

    def run_pass(self, spark, tracer):
        from relationaldecomposition_spark.engine.decompose import (
            DecompositionValidator, write_decomposition_bucketed)
        from relationaldecomposition_spark.engine.entropy import (
            SparkEntropyEngine)
        from relationaldecomposition_spark.engine.measures import (
            MeasureEngine)
        from relationaldecomposition_spark.mining.jd_miner import JDMiner
        from relationaldecomposition_spark.schema.acyclic import (
            AcyclicSchemaEnumerator, validate_schemas_concurrent)

        rel = self.rel
        eng = tracer.wrap_engine(SparkEntropyEngine(rel))
        out: dict = {"engine": eng, "tables": []}
        try:
            with tracer.span("mining.jd_miner"):
                miner = JDMiner(MeasureEngine(eng), epsilon=0.0)
                out["seps"] = frozenset(miner.mine_all_min_seps())
            jds = sorted(miner.mined_jds, key=str)
            with tracer.span("engine.measures"):
                miner.meng.measure_all(jds)
            out["jds"] = [(jd.lhs, jd.clusters, jd.measure.lower)
                          for jd in jds]
            with tracer.span("schema.acyclic"):
                cands = list(itertools.islice(AcyclicSchemaEnumerator(
                    tuple(rel.columns), jds), self.candidates))
            with tracer.span("engine.decompose"):
                validator = DecompositionValidator(rel)
                try:
                    with tracer.span("engine.decompose.validate"):
                        infos = validate_schemas_concurrent(validator, cands)
                finally:
                    validator.close()
                best, info = min(zip(cands, infos), key=lambda p: (
                    int(p[1].spurious_tuples), -len(p[0].clusters)))
                with tracer.span("engine.decompose.write"):
                    out["tables"] = write_decomposition_bucketed(
                        rel, best.clusters, self.join_key, "perfbench")
        finally:
            eng.unpersist()
        out["schemas"] = len(cands)
        out["projections"] = len({frozenset(c) for s in cands
                                  for c in s.clusters})
        out["clusters"] = [sorted(c) for c in best.clusters]
        out["spurious"] = int(info.spurious_tuples)
        return out

    def check(self, spark, out) -> list[str]:
        bad = []
        if self.expected is None:
            self.expected = out["seps"]
        elif out["seps"] != self.expected:
            bad.append("mined separators differ from the first pass")
        if out["spurious"] != 0:
            bad.append(f"best schema has {out['spurious']} spurious tuples")
        # mined at epsilon 0: every JD holds exactly, by entropies from pandas
        n = len(self.pdf)
        h = {}

        def entropy(cols):
            key = frozenset(cols)
            if not key:
                return 0.0
            if key not in h:
                counts = self.pdf.groupby(sorted(key)).size().to_numpy()
                h[key] = _entropy(counts, n)
            return h[key]

        h_r = entropy(self.pdf.columns)
        for lhs, clusters, measure in out["jds"]:
            want = (sum(entropy(c) for c in clusters)
                    - (len(clusters) - 1) * entropy(lhs) - h_r)
            if abs(want) > TOL or abs(measure - want) > TOL:
                bad.append(f"JD {[sorted(c) for c in clusters]}: measure "
                           f"{measure}, pandas {want}")
        # lossless by an independent join in pandas
        base = self.pdf.drop_duplicates()
        joined = None
        for cols in out["clusters"]:
            proj = base[cols].drop_duplicates()
            if joined is None:
                joined = proj
            else:
                on = sorted(set(joined.columns) & set(cols))
                joined = (joined.merge(proj, on=on) if on
                          else joined.merge(proj, how="cross"))
        if joined is None or len(joined) != len(base):
            bad.append("chosen clusters do not rejoin to the relation")
        # every written table holds exactly its distinct projection, read
        # back from its files
        for name, cols in zip(out["tables"], out["clusters"]):
            got = parquet.read_table(_table_dir(spark, name),
                                     columns=cols).to_pandas()
            want = base[cols].drop_duplicates()
            if len(got) != len(want) or set(got.itertuples(index=False)) \
                    != set(want.itertuples(index=False)):
                bad.append(f"{name}: {len(got)} rows, not the {len(want)} "
                           "of its projection")
        return bad

    def cleanup(self, spark, out) -> None:
        for name in out.get("tables", []):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")

    def layer_counts(self, spark, out) -> dict[str, float]:
        files = size = 0
        for name in out["tables"]:
            for root, _, names in os.walk(_table_dir(spark, name)):
                for f in names:
                    if not f.startswith(("_", ".")):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
        return {
            "mining.jd_miner.min_seps": len(out["seps"]),
            "mining.jd_miner.jds": len(out["jds"]),
            "schema.acyclic.schemas": out["schemas"],
            "engine.decompose.projections": out["projections"],
            "engine.decompose.spurious_tuples": out["spurious"],
            "engine.decompose.files_written": files,
            "engine.decompose.bytes_written": size,
        }


# --------------------------------------------------------------------------
# curate_embed, text part
# --------------------------------------------------------------------------

VOCAB = ("a the of data spark table query join group key value row column "
         "scan hash sort merge filter batch stream window order part line "
         "customer vector index fast slow big small agg plan cache shard "
         "token model train eval mix pack").split()


class Curate(Workload):
    name = "curate"
    docs = 2_500
    mixture = {"src0": 0.5, "src1": 0.3, "src2": 0.2}

    def setup(self, spark) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.docs
        vocab = np.array(VOCAB)
        texts = []
        for i in range(n):
            kind = rng.random()
            if i > 20 and kind < 0.08:        # exact copy of an earlier doc
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 20 and kind < 0.16:      # near copy: one word changed
                words = texts[int(rng.integers(0, i))].split()
                words[-1] = str(rng.choice(vocab))
                texts.append(" ".join(words))
            elif kind < 0.20:                 # repetitive boilerplate
                texts.append(" ".join([str(rng.choice(vocab))] * 40))
            else:
                k = int(rng.integers(12, 90))
                texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
        pdf = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "zh"])[rng.integers(0, 3, n)],
            "source": np.array(["src0", "src1", "src2"])[
                rng.choice(3, n, p=[0.5, 0.3, 0.2])],
        })
        pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
        self.pdf = pdf
        self.docs_df = spark.createDataFrame(pdf)
        self.bench_df = self.docs_df.where(F.col("doc_id") % 20 == 7)
        self.props.update(rows=n, docs=n, vocabulary=len(VOCAB))

    def run_pass(self, spark, tracer):
        from relationaldecomposition_spark.pipeline import curate_corpus

        persisted: list = []
        out: dict = {"persisted": persisted}
        try:
            with tracer.span("pipeline"):
                with tracer.span("pipeline.construct"):
                    packed, funnel = curate_corpus(
                        self.docs_df, "text", "doc_id", source_col="source",
                        mixture=self.mixture, benchmark=self.bench_df,
                        max_bucket=1000, pack_target=256, pack_shards=16,
                        persist_stages=True, persisted_out=persisted)
                with tracer.span("pipeline.force"):
                    out["packed"] = force(packed)
                    out["funnel"] = [(r["stage"], r["n_docs"])
                                     for r in funnel.collect()]
            if tracer.enabled:
                out["cached_mb"] = _cached_bytes(spark) / 1e6
        finally:
            for df in persisted:
                df.unpersist()
        return out

    def check(self, spark, out) -> list[str]:
        bad = []
        if self.expected is None:
            self.expected = out["funnel"]
        elif out["funnel"] != self.expected:
            bad.append(f"funnel {out['funnel']} != first pass "
                       f"{self.expected}")
        counts = dict(out["funnel"])
        if counts.get("input") != len(self.pdf):
            bad.append(f"input stage {counts.get('input')} docs")
        if counts.get("exact_dedup") != self.pdf["text"].nunique():
            bad.append(f"exact_dedup {counts.get('exact_dedup')} != "
                       f"{self.pdf['text'].nunique()} distinct texts")
        n = [c for _, c in out["funnel"]]
        if any(b > a for a, b in zip(n, n[1:])) or n[-1] <= 0:
            bad.append(f"funnel not a non-empty funnel: {n}")
        return bad

    def layer_counts(self, spark, out) -> dict[str, float]:
        return {"pipeline.cached_mb": out["cached_mb"]}


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# --------------------------------------------------------------------------
# curate_embed, embedding part
# --------------------------------------------------------------------------


class EmbedDedup(Workload):
    name = "embed_dedup"
    vectors = 8_192
    dim = 64
    clusters = 64
    sigma = 0.14
    tau = 0.35
    tables = 4
    query_mod = 50

    def setup(self, spark) -> None:
        from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                       LongType, StructField, StructType)

        # the geometry of sources.synthetic.clustered_embeddings (unit
        # vectors around `clusters` random centres), drawn with numpy: the
        # Spark generator's plan of a 64x64 literal takes seconds to plan
        # on every set-up
        rng = np.random.default_rng(self.seed)
        centers = rng.standard_normal((self.clusters, self.dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        label = rng.integers(0, self.clusters, self.vectors)
        x = centers[label] + self.sigma * rng.standard_normal(
            (self.vectors, self.dim))
        x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
        self.vecs = x.astype(np.float64)
        pdf = pd.DataFrame({"vec_id": np.arange(self.vectors, dtype=np.int64),
                            "embedding": list(x),
                            "label": label.astype(np.int32)})
        schema = StructType([StructField("vec_id", LongType()),
                             StructField("embedding",
                                         ArrayType(FloatType())),
                             StructField("label", IntegerType())])
        self.emb = spark.createDataFrame(pdf, schema)
        self.planes = max(8, math.ceil(math.log2(self.vectors / 200)))
        self.props.update(rows=self.vectors, vectors=self.vectors,
                          dim=self.dim, clusters=self.clusters,
                          volume=self.vectors * self.tables * self.dim,
                          queries=len(range(3, self.vectors, self.query_mod)))

    def run_pass(self, spark, tracer):
        from relationaldecomposition_spark.operators import gram, ivf, pq
        from relationaldecomposition_spark.operators.dedup import (
            apply_dedup, connected_components)
        from relationaldecomposition_spark.operators.registry import (
            HIER_COARSE_IDS, HIER_SUB_K, IVF_CENTROID_IDS,
            PQ_HIER_N_PROBES, PQ_HIER_ROUTE_PROBES, PQ_M)
        from relationaldecomposition_spark.operators.similarity import (
            srp_near_dup_pairs)

        emb = self.emb
        out: dict = {}
        owned: list = []
        resolve = gram.resolve_pair_kernel
        if tracer.enabled:
            def traced_resolve(*a, **k):
                with tracer.span("operators.gram"):
                    out["kernel"] = resolve(*a, **k)
                return out["kernel"]
            gram.resolve_pair_kernel = traced_resolve
        try:
            with tracer.span("operators.similarity"):
                pairs = srp_near_dup_pairs(
                    emb, "embedding", "vec_id", self.tau,
                    n_planes=self.planes, dim=self.dim,
                    n_tables=self.tables, max_bucket=2000,
                    kernel="auto").persist()
                owned.append(pairs)
                out["pairs"] = pairs.toPandas()
            with tracer.span("operators.dedup"):
                kept = apply_dedup(emb, connected_components(pairs),
                                   "vec_id")
                out["kept"], _ = force(kept)
            with tracer.span("operators.pq"):
                with tracer.span("operators.pq.index"):
                    with tracer.span("operators.ivf"):
                        coarse = ivf.seed_centroids(
                            emb, "embedding", "vec_id", HIER_COARSE_IDS)
                        subs = ivf.hier_codebook(
                            emb, "embedding", "vec_id", coarse,
                            HIER_SUB_K).persist()
                        owned.append(subs)
                    codebooks = pq.pq_seed_codebooks(
                        emb, "embedding", "vec_id", PQ_M, IVF_CENTROID_IDS)
                    index = pq.pq_cell_index_hier(
                        emb, "embedding", "vec_id", codebooks, coarse,
                        subs).persist()
                    owned.append(index)
                    out["indexed"], _ = force(index)
                with tracer.span("operators.pq.probe"):
                    queries = emb.where(F.col("vec_id") % self.query_mod == 3)
                    top = pq.pq_topk_index_hier(
                        index, queries, "embedding", "vec_id", 5,
                        codebooks, coarse, subs,
                        n_probes=PQ_HIER_N_PROBES,
                        route_probes=PQ_HIER_ROUTE_PROBES,
                        broadcast_queries=False, probe_kernel="np")
                    out["top"] = top.toPandas()
        finally:
            gram.resolve_pair_kernel = resolve
            for df in owned:
                df.unpersist()
        return out

    def check(self, spark, out) -> list[str]:
        bad = []
        pairs = out["pairs"]
        if len(pairs) == 0:
            bad.append("no near-duplicate pairs")
        if (pairs["id_a"] >= pairs["id_b"]).any():
            bad.append("pairs not ordered id_a < id_b")
        rng = np.random.default_rng(self.seed)
        take = rng.choice(len(pairs), min(200, len(pairs)), replace=False)
        a = self.vecs[pairs["id_a"].to_numpy()[take]]
        b = self.vecs[pairs["id_b"].to_numpy()[take]]
        cos = np.sum(a * b, 1) / (np.linalg.norm(a, axis=1)
                                  * np.linalg.norm(b, axis=1))
        if (cos < self.tau - 1e-6).any():
            bad.append(f"{int((cos < self.tau - 1e-6).sum())} sampled pairs "
                       f"below tau, min cosine {cos.min():.4f}")
        # survivors = vectors minus (component size - 1) per component
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for x, y in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        merged = sum(1 for x in parent if find(x) != x)
        if out["kept"] != self.vectors - merged:
            bad.append(f"{out['kept']} survivors, expected "
                       f"{self.vectors - merged}")
        if out["indexed"] < self.vectors:
            bad.append(f"index holds {out['indexed']} rows")
        top = out["top"]
        nq = self.props["queries"]
        if top["query_id"].nunique() != nq:
            bad.append(f"{top['query_id'].nunique()} of {nq} queries "
                       "answered")
        if (top["query_id"] == top["neighbor_id"]).any() or \
                top.groupby("query_id").size().max() > 5:
            bad.append("probe returned a query itself or more than k rows")
        return bad

    def layer_counts(self, spark, out) -> dict[str, float]:
        return {"operators.gram.kernel_chosen":
                1.0 if out.get("kernel") == "gram" else 0.0}


# --------------------------------------------------------------------------
# curate_embed
# --------------------------------------------------------------------------


class CurateEmbed(Workload):
    """The text corpus through ``curate_corpus``, then the embedding table
    through near-duplicate removal and a PQ index: one training-data
    curation job. Output keys of the two parts are disjoint."""

    name = "curate_embed"

    def __init__(self, seed: int):
        super().__init__(seed)
        self.parts = (Curate(seed), EmbedDedup(seed))

    def setup(self, spark) -> None:
        for part in self.parts:
            part.setup(spark)
            self.props.update(part.props)
        self.props["rows"] = sum(p.input_rows for p in self.parts)

    def run_pass(self, spark, tracer):
        out: dict = {}
        for part in self.parts:
            out.update(part.run_pass(spark, tracer))
        return out

    def check(self, spark, out) -> list[str]:
        return [bad for part in self.parts for bad in part.check(spark, out)]

    def cleanup(self, spark, out) -> None:
        for part in self.parts:
            part.cleanup(spark, out)

    def layer_counts(self, spark, out) -> dict[str, float]:
        return {k: v for part in self.parts
                for k, v in part.layer_counts(spark, out).items()}


WORKLOADS = {w.name: w for w in (Decompose, CurateEmbed)}
