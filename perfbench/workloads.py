"""Benchmark workloads: seeded inputs, the timed job, and output checks.

Each workload has three parts:

* ``stage(spark, seed, tmp)`` builds the workload's input from the seed
  alone and writes it as parquet under ``tmp`` (set-up, untimed as
  ``wall_s``);
* ``run(spark, inputs, tmp, tracer, it)`` is one closed-loop iteration:
  it reads the staged input, calls the layers and materializes the
  result, timed from the input read to the complete result;
* ``check(spark, inputs, out)`` runs after the timer stops and returns
  the output checks, the pairwise F1 and the pair count.

The traced variant calls exactly the same layer functions; spans are
taken around those calls from outside the program (see
:func:`instrument_pipeline`).
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMB_DIM = 64
#: ``dedup_docs`` output digests per input size and seed, recorded by
#: ``record_digests.py``
RECORDED_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "dedup_digests.json")


def digest(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-free hash over every column — each output
    column is computed, not pruned, and the pair repeats exactly only
    if every value does."""
    row = df.agg(F.count("*").alias("n"),
                 F.sum(F.pmod(F.xxhash64(*df.columns),
                              F.lit(1_000_000_007))).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# link_pages: web pages -> extraction -> records -> checkpointed pipeline
# ---------------------------------------------------------------------------

#: pipeline stage -> layer that computes it
STAGE_LAYER = {"all_names": "preprocess", "must_links": "mustlinks",
               "candidates": "blocking", "data_rows": "pairs",
               "potential_links": "model_score", "clusters": "cluster"}


@contextmanager
def instrument_pipeline(tr):
    """Span every pipeline stage, the model fit and the model artifacts.

    Wraps ``CheckpointManager.load_or_compute``, ``save_model`` and
    ``load_model`` and ``model.train_model_set`` for the duration of a
    traced iteration.  Each wrapper calls the original, so the traced
    iteration takes the program's own checkpoint path and does no work
    the untraced one does not.  A stage's span is labelled with the layer
    that computes it when the manager calls ``compute``, and with
    ``checkpoint`` when it reads the stage back instead.  A computed
    stage's parquet write stays in the stage's layer: the program
    materializes a stage by writing it, in the same Spark jobs.
    """
    from namematch_spark import checkpoint as C
    from namematch_spark.operators import model as M

    cls = C.CheckpointManager
    orig = {k: getattr(cls, k) for k in
            ("load_or_compute", "save_model", "load_model")}
    orig_fit = M.train_model_set

    def load_or_compute(self, spark, stage, compute, fingerprint=""):
        computed = []

        def traced_compute():
            computed.append(stage)
            return compute()

        with tr.span(stage, STAGE_LAYER[stage]) as span:
            out = orig["load_or_compute"](self, spark, stage,
                                          traced_compute, fingerprint)
            if not computed:
                span.update(name=f"load:{stage}", layer="checkpoint")
        return out

    def save_model(self, *a, **k):
        with tr.span("save_model", "checkpoint"):
            return orig["save_model"](self, *a, **k)

    def load_model(self, *a, **k):
        with tr.span("load_model", "checkpoint"):
            return orig["load_model"](self, *a, **k)

    def train_model_set(*a, **k):
        with tr.span("train_model_set", "model_fit"):
            return orig_fit(*a, **k)

    cls.load_or_compute = load_or_compute
    cls.save_model = save_model
    cls.load_model = load_model
    M.train_model_set = train_model_set
    try:
        yield
    finally:
        for k, v in orig.items():
            setattr(cls, k, v)
        M.train_model_set = orig_fit


class LinkPages:
    """Common-Crawl-style profile pages through the whole linkage, run
    the way the CLI's per-stage flow runs it: one invocation stops after
    ``data_rows``, a second resumes from the checkpoints to clusters."""

    name = "link_pages"
    sizes = {"full": 2500, "smoke": 600}

    def __init__(self, size: str = "full"):
        self.n = self.sizes[size]

    def stage(self, spark: SparkSession, seed: int, tmp: str) -> dict:
        from namematch_spark.sources.webpages import synth_web_pages
        src = os.path.join(tmp, "src")
        # orders-shaped rows, ten orders per customer as in the TPC-H
        # orders table; the seed decides which customer (and so which
        # names and dates) each group of orders gets, so every seed has
        # the same entity-size profile and comparable work
        (spark.range(self.n)
         .select(F.col("id").alias("o_orderkey"),
                 F.pmod(F.col("id") * 7 + F.lit(seed),
                        F.lit(self.n // 10)).alias("o_custkey"))
         .write.mode("overwrite").parquet(os.path.join(src, "orders.parquet")))
        pages = (synth_web_pages(spark, src).select("url", "html")
                 .orderBy(F.xxhash64(F.lit(seed), F.col("url"))))
        path = os.path.join(tmp, "pages.parquet")
        pages.write.mode("overwrite").parquet(path)
        return {"pages": path}

    def run(self, spark: SparkSession, inputs: dict, tmp: str, tr,
            it: int) -> dict:
        from namematch_spark.pipeline import PipelineConfig, run_pipeline
        from namematch_spark.sources.webpages import (extract_text_udf,
                                                      pages_to_records)
        cfg = PipelineConfig(
            checkpoint_dir=os.path.join(tmp, f"checkpoints-{it}"))
        t0 = time.time()
        with tr.span("read_extract_parse", "sources"):
            text = extract_text_udf(spark.read.parquet(inputs["pages"])) \
                .select("url", F.col("extracted_text").alias("text"))
            records = pages_to_records(text).localCheckpoint(eager=True)
        with tr.span("invocation:stop_after_data_rows", "pipeline"):
            run_pipeline(records, cfg, stop_after="data_rows")
        t_resume = time.time()
        with tr.span("invocation:resume", "pipeline"):
            res = run_pipeline(records, cfg)
            n_clustered = res.clusters.count()
        t1 = time.time()
        return {"wall_s": t1 - t0, "resume_s": t1 - t_resume,
                "records": records, "res": res,
                "n_clustered": n_clustered,
                "checkpoint_dir": cfg.checkpoint_dir}

    def check(self, spark: SparkSession, inputs: dict, out: dict) -> dict:
        from namematch_spark.operators.cluster import clusters_to_pairs
        from namematch_spark.operators.model import pairwise_eval
        res = out["res"]
        n_records = out["records"].count()
        stages = res.metrics["stages"]
        pairs = stages["data_rows"]["rows"]
        f1 = pairwise_eval(clusters_to_pairs(res.clusters),
                           res.data_rows)["f1"]
        checks = {
            "records_read": n_records == self.n,
            "cluster_rows_eq_records": out["n_clustered"] == n_records,
            "pairwise_f1_ge_0.99": f1 >= 0.99,
            "pairs_scored": pairs > 0,
        }
        return {"checks": checks, "pairwise_f1": f1, "pairs": pairs,
                "stage_seconds": res.metrics["stage_seconds"],
                "rows": {STAGE_LAYER[s]: e["rows"]
                         for s, e in stages.items() if s in STAGE_LAYER}
                | {"sources": n_records,
                   "model_fit": len(res.metrics["models"])}}

    def layer_extras(self, spark: SparkSession, out: dict) -> dict:
        """Ratios measured where the work happens (traced run only)."""
        from namematch_spark.operators import blocking as B
        res = out["res"]
        dr = res.data_rows
        n_dr = dr.count()
        labeled = dr.filter(F.col("label") != "")
        ml = res.must_links.filter((F.col("drop_from_nm_1") == 0)
                                   & (F.col("drop_from_nm_2") == 0))
        sizes = res.clusters.groupBy("cluster_id").count()
        return {
            "blocking.match_yield":
                dr.filter(F.col("label") == "1").count() / n_dr,
            "blocking.pair_completeness": B.pair_completeness(
                dr.select("record_id_1", "record_id_2"), ml),
            "model_fit.rows": labeled.count(),
            "model_score.edge_yield": res.potential_links.count() / n_dr,
            "cluster.max_size": sizes.agg(F.max("count")).first()[0],
            "checkpoint.write_mb": dir_mb(out["checkpoint_dir"]),
            "pipeline.resume_s": out["resume_s"],
        }


# ---------------------------------------------------------------------------
# dedup_docs: document dedup, text profile and embedding similarity
# ---------------------------------------------------------------------------

_SYLLABLES = ("ka ro mi te su na lo ve di pa gu ne shi ta mo re "
              "li zu ba ko fe ha ri so wa yu po de ni ma").split()


def _vocabulary(n: int = 3000) -> tuple[list, list]:
    """Synthetic words with Zipf weights, so documents share common
    words the way natural text does without being near-duplicates.  The
    vocabulary is the same for every seed, so seeds differ in content
    but not in word statistics, and so in the work they cause."""
    rng = random.Random(0)
    words = sorted({"".join(rng.choices(_SYLLABLES, k=rng.randint(1, 3)))
                    for _ in range(n)})
    rng.shuffle(words)
    return words, [1.0 / (r + 1) for r in range(len(words))]


def synth_documents(seed: int, n: int) -> tuple[list[tuple], set]:
    """Random word documents with planted duplicate groups.  Returns the
    rows and the planted near/exact duplicate id pairs (the truth the
    exact-Jaccard dedup must recover)."""
    rng = random.Random(seed)
    vocab, weights = _vocabulary()
    texts, groups = [], []
    for b in range(n):
        if len(texts) >= n:
            break
        base = rng.choices(vocab, weights, k=rng.randint(40, 80))
        members = [len(texts)]
        texts.append(base)
        # the same pattern for every seed, so each plants a comparable
        # number of duplicate pairs: of ten bases, two get one copy and
        # one gets two; a third of the first copies are exact
        copies = {2: 1, 5: 2, 7: 1}.get(b % 10, 0)
        for c in range(min(copies, n - len(texts))):
            exact = c == 0 and b % 3 == 0
            texts.append(list(base) if exact else
                         [rng.choice(vocab) if rng.random() < 0.02 else w
                          for w in base])
            members.append(len(texts) - 1)
        if len(members) > 1:
            groups.append(members)
    ids = list(range(n))
    rng.shuffle(ids)               # the seed also permutes the row order
    truth = {(min(ids[a], ids[b]), max(ids[a], ids[b]))
             for g in groups for i, a in enumerate(g) for b in g[i + 1:]}
    rows = [(ids[i], " ".join(t), rng.choice(["en", "fr", "de", "es"]),
             f"src{ids[i] % 7}", len(" ".join(t)))
            for i, t in enumerate(texts)]
    rows.sort()
    return rows, truth


def synth_embeddings(seed: int, n: int) -> list[tuple]:
    """Clustered unit-scale vectors with planted near-duplicates.  The
    cluster centres are the same for every seed: LSH bucket occupancy,
    and so the work, depends on where they fall."""
    import numpy as np
    centroids = np.random.default_rng(0).normal(size=(10, EMB_DIM))
    rng = np.random.default_rng(seed)
    labels = np.arange(n) % 10
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n, EMB_DIM))
    dup = rng.random(n) < 0.1
    src = rng.integers(0, n, size=n)
    vecs[dup] = vecs[src[dup]] + 0.01 * rng.normal(size=(int(dup.sum()),
                                                        EMB_DIM))
    vecs = vecs.astype("float32")
    return [(i, [float(x) for x in vecs[i]], int(labels[i]))
            for i in range(n)]


class DedupDocs:
    """The document and embedding operators, with the ER layers idle."""

    name = "dedup_docs"
    sizes = {"full": (2000, 500), "smoke": (300, 100)}

    def __init__(self, size: str = "full"):
        self.n_docs, self.n_vecs = self.sizes[size]
        with open(RECORDED_DIGESTS) as f:
            self.recorded = json.load(f).get(size, {})

    def stage(self, spark: SparkSession, seed: int, tmp: str) -> dict:
        docs, truth = synth_documents(seed, self.n_docs)
        d_path = os.path.join(tmp, "documents.parquet")
        e_path = os.path.join(tmp, "embeddings.parquet")
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, "
                  "n_chars long").write.mode("overwrite").parquet(d_path)
        spark.createDataFrame(
            synth_embeddings(seed, self.n_vecs),
            "vec_id long, embedding array<float>, label int") \
            .write.mode("overwrite").parquet(e_path)
        return {"documents": d_path, "embeddings": e_path, "truth": truth,
                "seed": seed}

    @staticmethod
    def operators(docs: DataFrame, embs: DataFrame) -> list:
        from namematch_spark.operators import dedup as D
        from namematch_spark.operators import similarity as S
        from namematch_spark.operators.textstats import text_profile
        return [
            ("minhash_rows_per_band_1", "dedup", True,
             lambda: D.minhash_lsh_dedup(docs, threshold=0.7,
                                         num_hashes=16, rows_per_band=1)),
            ("minhash_rows_per_band_4", "dedup", True,
             lambda: D.minhash_lsh_dedup(docs, threshold=0.7,
                                         num_hashes=16, rows_per_band=4)),
            ("ngram_jaccard", "dedup", True,
             lambda: D.ngram_jaccard_dedup(docs, threshold=0.5)),
            ("simhash", "dedup", True,
             lambda: D.simhash_dedup(docs, max_hamming=3)),
            ("exact", "dedup", False, lambda: D.exact_dedup(docs)),
            ("text_profile", "textstats", False,
             lambda: text_profile(docs)),
            ("lsh_knn", "similarity", True,
             lambda: S.lsh_knn(embs, embs, dim=EMB_DIM, k=5,
                               num_planes=8, num_tables=4)),
            ("cosine_near_dup", "similarity", True,
             lambda: S.cosine_near_dup(embs, threshold=0.95, num_planes=8,
                                       num_tables=4, dim=EMB_DIM)),
        ]

    def run(self, spark: SparkSession, inputs: dict, tmp: str, tr,
            it: int) -> dict:
        t0 = time.time()
        with tr.span("read_inputs", "sources"):
            docs = spark.read.parquet(inputs["documents"])
            embs = spark.read.parquet(inputs["embeddings"])
        frames, digests, pairs, rows = {}, {}, 0, {}
        for name, layer, is_pairs, fn in self.operators(docs, embs):
            with tr.span(name, layer):
                frames[name] = fn()
                digests[name] = list(digest(frames[name]))
            rows[layer] = rows.get(layer, 0) + digests[name][0]
            if is_pairs:
                pairs += digests[name][0]
        return {"wall_s": time.time() - t0, "digests": digests,
                "frames": frames, "pairs": pairs, "rows": rows}

    def check(self, spark: SparkSession, inputs: dict, out: dict) -> dict:
        """Every operator's output digest must equal the one recorded for
        the seed in ``dedup_digests.json`` and, within a run, the first
        iteration's.  The first iteration that passes is checked in full;
        a later one that reproduces its digests carries its checks over."""
        n_docs, _ = out["digests"]["text_profile"]
        checks = {"profile_rows_eq_docs": n_docs == self.n_docs}
        ref = inputs.get("reference")
        expected = self.recorded.get(str(inputs["seed"]),
                                     ref and ref["digests"])
        if expected is not None:
            checks["outputs_repeat_exactly"] = out["digests"] == expected
        if ref is None:
            f1 = self._planted_f1(out["frames"]["ngram_jaccard"],
                                  inputs["truth"])
            max_knn = (out["frames"]["lsh_knn"].groupBy("query_id").count()
                       .agg(F.max("count")).first()[0])
            checks["knn_at_most_5_per_vector"] = 0 < (max_knn or 0) <= 5
            checks["pairwise_f1_ge_0.99"] = f1 >= 0.99
            if all(checks.values()):
                inputs["reference"] = {"digests": out["digests"],
                                       "pairwise_f1": f1}
        else:
            f1 = ref["pairwise_f1"]
        return {"checks": checks, "pairwise_f1": f1, "pairs": out["pairs"],
                "rows": out["rows"], "digests": out["digests"]}

    @staticmethod
    def _planted_f1(found_df: DataFrame, truth: set) -> float:
        """F1 of the n-gram Jaccard pairs against the planted duplicates."""
        found = {(r[0], r[1]) for r in
                 found_df.select("doc_id_1", "doc_id_2").collect()}
        tp = len(found & truth)
        prec = tp / len(found) if found else 1.0
        rec = tp / len(truth) if truth else 1.0
        return 2 * prec * rec / (prec + rec) if prec + rec else 0.0

    def layer_extras(self, spark: SparkSession, out: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (LinkPages, DedupDocs)}
