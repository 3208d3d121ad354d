"""Operators step of the traced ``flagship`` run: short plans over the
seeded inputs that call the public functions of the four
``operators`` modules (near-dup, similarity, skew, multimodal), plus the
exact per-language quantile query of the catalog (``ROW_NUMBER`` /
``COUNT`` over ``PARTITION BY lang``) on ``sqlgen``'s rule battery.

Each entry is a builder (plan, no action) followed by a noop write. The
module an entry is grouped under is found at run time: wrappers on every
public function of the four modules record which ones the builder
called; an entry that calls none is grouped under ``sqlgen``.
"""

from __future__ import annotations

import inspect
import os
import sys
import time

import numpy as np

from . import harness as H

MODULES = ("dedup", "similarity", "skew", "multimodal")
# Documents of the text entries: the first DOCS captions of the corpus
# (the near-dup verify join grows with the candidate pairs).
DOCS = 1000
# Embedding table of the similarity entries: seeded vectors around a few
# centres, the first QUERIES vec_ids are the k-NN queries.
N_VEC = 4000
DIM = 64
QUERIES = 20
N_SALT = 16
QUANTILES = (0.5, 0.9, 0.99)
# At these input sizes AQE coalesces the quantile window's shuffle into a
# single task; that entry keeps one task per shuffle partition, so the
# per-language task skew shows.
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
GROUPS = (*MODULES, "sqlgen")
# The per-layer metrics of this step.
NAMES = (*(f"ops.{g}_s" for g in GROUPS), "ops.plan_s", "ops.shuffle_bytes",
         "ops.score_quantiles_by_lang.task_skew", "ops.entries")


def inputs(path: str, seed: int) -> dict:
    """Harness work, untimed: the parquet paths the entries read. The
    images are one file of the corpus; the documents are its captions
    with their generator language; the embeddings are drawn from the
    seed. All generate-once beside the corpus."""
    import pandas as pd
    import pyarrow.parquet as pq

    first = os.path.join(path, sorted(os.listdir(path))[0])
    docs_path = path + f"_docs{DOCS}.parquet"
    if not os.path.exists(docs_path):
        imgs = pq.read_table(first, columns=["image_id", "caption"]) \
            .slice(0, DOCS).to_pandas()
        meta = pq.read_table(path.rsplit("_files", 1)[0] + "_meta.parquet",
                             columns=["image_id", "true_lang"]).to_pandas()
        docs = imgs.merge(meta, on="image_id", how="left")
        pd.DataFrame({
            "doc_id": np.arange(len(docs), dtype=np.int64),
            "image_id": docs["image_id"],
            "text": docs["caption"],
            "lang": docs["true_lang"].fillna("unknown"),
        }).to_parquet(docs_path + ".tmp")
        os.replace(docs_path + ".tmp", docs_path)
    emb_path = path + f"_emb{N_VEC}x{DIM}.parquet"
    if not os.path.exists(emb_path):
        rng = np.random.default_rng(seed)
        centres = rng.normal(size=(16, DIM))
        label = rng.integers(0, len(centres), N_VEC)
        vecs = (centres[label] + 0.5 * rng.normal(size=(N_VEC, DIM))) \
            .astype(np.float32)
        pd.DataFrame({"vec_id": np.arange(N_VEC, dtype=np.int64),
                      "embedding": list(vecs),
                      "label": label.astype(np.int32)}) \
            .to_parquet(emb_path + ".tmp")
        os.replace(emb_path + ".tmp", emb_path)
    return {"images": first, "docs": docs_path, "emb": emb_path}


def quantile_sql(view: str) -> str:
    """Exact discrete quality_score quantiles per language: the rank /
    count window formulation of the catalog's ``score_quantiles_by_lang``
    over ``sqlgen.quality_core_sql`` on ``view``."""
    from bioanalyzer_backend_spark import sqlgen
    picks = ",\n       ".join(
        f"MAX(CASE WHEN rn = CAST(CEIL(n * {p}) AS BIGINT) "
        f"THEN score END) AS p{int(p * 100)}" for p in QUANTILES)
    return f"""
WITH q AS ({sqlgen.quality_core_sql(sqlgen.SPARK, table=view)}),
s AS (SELECT d.lang AS lang, q.quality_score AS score, q.row_id AS rid
      FROM q JOIN {view} d ON q.row_id = d.doc_id),
r AS (SELECT lang, score,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score, rid) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM s)
SELECT lang, {picks}
FROM r
GROUP BY lang
"""


def builders(spark, paths: dict) -> dict:
    """Entry name -> builder returning the entry's DataFrame."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.operators import (dedup, multimodal,
                                                     similarity, skew)
    images = spark.read.parquet(paths["images"])
    docs = spark.read.parquet(paths["docs"]).select("doc_id", "text", "lang")
    emb = spark.read.parquet(paths["emb"])
    docs.createOrReplaceTempView("perfbench_docs")
    q = [float(x) for x in _emb_matrix(paths["emb"])[1][0]]

    def minhash_components():
        pairs = dedup.minhash_lsh_candidates(docs, "text", "doc_id")
        verified = dedup.jaccard_verify(docs, pairs, "text", "doc_id")
        return dedup.dup_components(verified)

    return {
        "minhash_components": minhash_components,
        "simhash_pairs":
            lambda: dedup.simhash_candidates(docs, "text", "doc_id"),
        "exact_dedup": lambda: dedup.exact_dedup(images),
        "knn_join": lambda: similarity.knn_join(
            emb.where(f"vec_id >= {QUERIES}"),
            emb.where(f"vec_id < {QUERIES}"), k=3),
        "lsh_cosine_top10": lambda: similarity.lsh_cosine_topk(
            emb.where("vec_id != 0"), q, k=10),
        "ivf_cosine_top10": lambda: similarity.ivf_cosine_topk(
            emb.where("vec_id != 0"), q, k=10),
        "salted_docs_by_lang": lambda: skew.salted_sum_agg(
            docs, keys=["lang"], sums={"n_docs": F.lit(1).cast("long")},
            id_col="doc_id", n_salt=N_SALT),
        "image_stats": lambda: multimodal.image_stats(images),
        "verify_dup_groups": lambda: multimodal.verify_dup_groups(
            multimodal.with_phash(images.drop("phash"))),
        "score_quantiles_by_lang":
            lambda: spark.sql(quantile_sql("perfbench_docs")),
    }


def _emb_matrix(path: str):
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    return (np.asarray(t.column(0).to_pylist(), dtype=np.int64),
            np.asarray(t.column(1).to_pylist(), dtype=np.float64))


def _public_functions(mod) -> list[str]:
    return [n for n, f in vars(mod).items()
            if not n.startswith("_") and inspect.isfunction(f)
            and f.__module__ == mod.__name__]


def task_skew(stats: H.SparkStats, eids) -> float:
    """Max / median task duration of the slowest stage (by summed
    executor run time) of these executions."""
    jobs = [j for e in eids for j in stats.execution_jobs(e)]
    stages = stats.stages_of(jobs)
    slow = max(stages, key=lambda s: s.executorRunTime())
    gw = stats.spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    dist = stats.app.taskSummary(slow.stageId(), slow.attemptId(), qs).get()
    med, top = dist.duration().apply(0), dist.duration().apply(1)
    return top / max(med, 1.0)


def run(ctx, spark, stats: H.SparkStats, path: str, exp) -> dict:
    """One pass over every entry, traced; returns the ``ops.*`` values
    and runs the output checks (``exp``: the flagship oracle)."""
    import importlib

    tr = ctx.tracer
    paths = inputs(path, ctx.seed)
    entries = builders(spark, paths)
    for m in MODULES:
        mod = importlib.import_module(
            f"bioanalyzer_backend_spark.operators.{m}")
        for fn in _public_functions(mod):
            tr.wrap(mod, fn, f"operators.{m}.{fn}")
    group_s = {g: 0.0 for g in GROUPS}
    plan_s, shuffle, skew, outs = 0.0, 0, 0.0, {}
    coalesce = spark.conf.get(COALESCE)
    try:
        for name, build in entries.items():
            since = len(tr.spans)
            before = stats.last_execution_id()
            one_task_per_partition = name == "score_quantiles_by_lang"
            if one_task_per_partition:
                spark.conf.set(COALESCE, "false")
            with tr.span(f"ops.{name}") as sp:
                df = build()
                plan_s += time.perf_counter() - sp["start"]
                df.write.format("noop").mode("overwrite").save()
            called = [s["name"].split(".")[1] for s in tr.spans[since:]
                      if s["name"].startswith("operators.")]
            group = called[0] if called else "sqlgen"
            group_s[group] += sp["end"] - sp["start"]
            eids = stats.executions_since(before)
            shuffle += H.shuffle_bytes(stats, eids)
            if one_task_per_partition:
                spark.conf.set(COALESCE, coalesce)
                skew = task_skew(stats, eids)
            outs[name] = df
    finally:
        tr.restore()
        spark.conf.set(COALESCE, coalesce)
    check(ctx, outs, paths, exp)
    out = {f"ops.{g}_s": v for g, v in group_s.items()}
    out.update({"ops.plan_s": plan_s, "ops.shuffle_bytes": float(shuffle),
                "ops.score_quantiles_by_lang.task_skew": skew,
                "ops.entries": float(len(entries))})
    return out


def check(ctx, outs: dict, paths: dict, exp) -> None:
    """Output checks of the entries that have an independent oracle:
    numpy/pandas twins on the same inputs; the quantiles use the
    flagship oracle's quality_score."""
    import pandas as pd
    import pyarrow.parquet as pq

    docs = pd.read_parquet(paths["docs"])
    images = pq.read_table(paths["images"],
                           columns=["image_id", "phash"]).to_pandas()
    ops = ctx.ops

    def salted():
        got = outs["salted_docs_by_lang"].toPandas()
        exp = docs.groupby("lang").size()
        return dict(zip(got["lang"], got["n_docs"])) == exp.to_dict()

    def exact_dedup():
        got = set(outs["exact_dedup"].select("image_id").toPandas()
                  ["image_id"])
        keyed = images[images["phash"].notna()]
        exp = set(keyed.groupby("phash")["image_id"].min()) | \
            set(images.loc[images["phash"].isna(), "image_id"])
        return got == exp

    def knn():
        got = outs["knn_join"].toPandas()
        ids, mat = _emb_matrix(paths["emb"])
        n = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round(mat[QUERIES:] @ mat[:QUERIES].T
                       / np.outer(n[QUERIES:], n[:QUERIES]), 5)
        for qi in range(QUERIES):
            order = np.lexsort((ids[QUERIES:], -cos[:, qi]))[:3]
            want = list(ids[QUERIES:][order])
            have = list(got[got["qid"] == ids[qi]]
                        .sort_values(["cos_sim", "cid"],
                                     ascending=[False, True])["cid"])
            if have != want:
                print(f"knn check: query {qi}: {have} != {want}",
                      file=sys.stderr)
                return False
        return True

    def quantiles():
        score = exp.set_index("image_id")["quality_score"]
        s = pd.DataFrame({"lang": docs["lang"].to_numpy(),
                          "score": score.loc[docs["image_id"]].to_numpy(),
                          "rid": docs["doc_id"].to_numpy()})
        got = outs["score_quantiles_by_lang"].toPandas().set_index("lang")
        for lang, g in s.groupby("lang"):
            g = g.sort_values(["score", "rid"])
            for p in QUANTILES:
                want = g["score"].iloc[int(np.ceil(len(g) * p)) - 1]
                if got.loc[lang, f"p{int(p * 100)}"] != want:
                    print(f"quantile check: {lang} p{p}", file=sys.stderr)
                    return False
        return True

    ops.check("ops_salted_agg", salted)
    ops.check("ops_exact_dedup", exact_dedup)
    ops.check("ops_knn_join", knn)
    ops.check("ops_score_quantiles", quantiles)
