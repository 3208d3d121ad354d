"""``flagship`` workload: ``plans.pipeline.quality_filter`` over the
seeded synthetic image+caption table, with a noop sink.

Untraced: closed-loop full passes; ``images_per_s`` is input rows over
the median pass wall. Traced: the same pass split into layers by noop
prefixes (scan, + rule battery, + scrub, + gates, full), read next to
Spark's SQL metrics for the executed plans and direct single-thread
calls of the gate models; then one traced pass over the operators step
(``ops.py``).
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

from . import harness as H
from . import ops

# At 24,000 rows per-row work is just over half of a warm pass wall
# (~0.9 s of fixed job cost per pass on a 4-core box); more rows do not
# fit the hour the full protocol may take (see METRICS.md).
ROWS = 24_000
# One cold set-up (JVM launch), then warm ones: setup_s is the median of
# the warm ones, setup.cold_s the first.
SETUPS = 3
# The checked pass is the one untimed warm-up pass after the set-ups;
# walls still fall over the next passes (JIT), and the median of the
# timed ones keeps the first of them out.
MIN_ITERS = 3
# Rounds of prefix passes in the traced run: even, so the untraced and
# the traced full pass each come second in half of them.
MIN_ROUNDS = 4
# Layers this workload never calls into: their per-layer metrics read 0.
NOT_EXERCISED = (
    "resume.stage_input_s", "resume.stage_bytes", "resume.reconcile_s",
    "resume.committed_groups_s", "resume.groups_repaired",
    "resume.rows_reprocessed", "resume.recover_s",
    "catalog.append_results_s", "catalog.append_audit_s",
    "catalog.append_checkpoint_s", "catalog.commits",
    "catalog.bytes_written_per_input_byte")
# Self times of the prefix layers, in LAYERS order.
LAYER_SELF = ("scan.self_s", "sqlgen.rules_self_s", "sqlgen.scrub_self_s",
              "functions.gates_self_s", "pipeline.dedup_self_s")
LABEL_COLS = ("lang", "lang_conf", "ppl", "quality_score", "n_present",
              "keep_core", "keep", "is_dup", "scrubbed_caption")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def expected_labels(path: str):
    """The numpy oracle of every label column, sorted by image_id: rule
    battery, scrub and dedup from ``rules.reference_impl``; lang and ppl
    from the same numpy scorers the gate UDF wraps, on captions truncated
    as the pipeline truncates them. Cached beside the corpus."""
    import pandas as pd
    import pyarrow.parquet as pq

    cache = path + "_expected.parquet"
    if os.path.exists(cache):
        return pd.read_parquet(cache)

    from bioanalyzer_backend_spark import spec
    from bioanalyzer_backend_spark.functions import langid, perplexity
    from bioanalyzer_backend_spark.plans import pipeline as P
    from bioanalyzer_backend_spark.rules import reference_impl as ri

    imgs = pq.read_table(
        path, columns=["image_id", "caption", "phash"]).to_pandas()
    exp = ri.expected_labels(imgs)
    texts = [c[:spec.TRUNCATE_CHARS] for c in imgs["caption"].fillna("")]
    art = P.ensure_artifacts()
    logp, langs = langid.load_model(os.path.join(art, "langid.npz"))
    lang, conf = langid.predict_batch(texts, logp, langs)
    ppl = perplexity.ppl_batch(
        texts, perplexity.load_model(os.path.join(art, "lm.npz")))
    keep_core = exp["keep"].to_numpy(dtype=bool)
    out = pd.DataFrame({
        "image_id": exp["image_id"].to_numpy(),
        "lang": np.asarray(lang, dtype=object),
        "lang_conf": np.asarray(conf, dtype=np.float64),
        "ppl": np.asarray(ppl, dtype=np.float64),
        "quality_score": exp["quality_score"].to_numpy(dtype=np.float64),
        "n_present": exp["n_present"].to_numpy(dtype=np.int64),
        "keep_core": keep_core,
        "keep": keep_core & (np.asarray(lang) != langid.UNKNOWN)
        & (np.asarray(ppl) <= spec.PPL_MAX),
        "is_dup": exp["is_dup"].to_numpy(dtype=bool),
        "scrubbed_caption": exp["scrubbed_caption"].to_numpy(dtype=object),
    })
    out = out.sort_values("image_id").reset_index(drop=True)
    out.to_parquet(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return out


def keep_f1(got, exp) -> float:
    tp = int((got & exp).sum())
    fp = int((got & ~exp).sum())
    fn = int((~got & exp).sum())
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def labels_match(got, exp) -> bool:
    """Row-for-row equality of every label column, and keep F1 = 1.0."""
    got = got.sort_values("image_id").reset_index(drop=True)
    if len(got) != len(exp) or \
            not np.array_equal(got["image_id"].to_numpy(),
                               exp["image_id"].to_numpy()):
        print("label check: image_id sets differ", file=sys.stderr)
        return False
    bad = [c for c in LABEL_COLS
           if not np.array_equal(got[c].to_numpy(), exp[c].to_numpy())]
    if bad:
        print(f"label check: columns differ: {bad}", file=sys.stderr)
        return False
    return keep_f1(got["keep"].to_numpy(dtype=bool),
                   exp["keep"].to_numpy(dtype=bool)) == 1.0


LAYERS = ("scan", "rules", "scrub", "gates", "full")


def prefix(df, upto: str):
    """The pass cut after layer ``upto`` of ``LAYERS``, built from the
    public ``plans.pipeline`` steps that ``quality_filter`` chains."""
    from bioanalyzer_backend_spark.plans import pipeline as P
    steps = (P.apply_core_rules, P.apply_scrub,
             lambda d: P.apply_final_keep(P.apply_langid_ppl(d)),
             P.apply_dedup_flag)
    for step in steps[:LAYERS.index(upto)]:
        df = step(df)
    return df


def model_batch_ms(path: str) -> dict:
    """Single-thread wall per Arrow-batch-sized slice of truncated
    captions (median ms) of the gate models' public batch functions."""
    import pyarrow.parquet as pq

    from bioanalyzer_backend_spark import spec
    from bioanalyzer_backend_spark.functions import langid, perplexity
    from bioanalyzer_backend_spark.plans import pipeline as P

    art = P.ensure_artifacts()
    logp, langs = langid.load_model(os.path.join(art, "langid.npz"))
    lm = perplexity.load_model(os.path.join(art, "lm.npz"))
    caps = pq.read_table(path, columns=["caption"]).column(0).to_pylist()
    texts = [(c or "")[:spec.TRUNCATE_CHARS] for c in caps]
    walls = {"encode": [], "langid": [], "ppl": []}
    for i in range(0, len(texts), H.ARROW_BATCH):
        batch = texts[i:i + H.ARROW_BATCH]
        walls["encode"].append(H.timed(lambda: langid.encode_batch(batch)))
        walls["langid"].append(
            H.timed(lambda: langid.predict_batch(batch, logp, langs)))
        walls["ppl"].append(H.timed(lambda: perplexity.ppl_batch(batch, lm)))
    return {"functions.encode_batch_ms": 1e3 * H.median(walls["encode"]),
            "functions.langid_predict_ms": 1e3 * H.median(walls["langid"]),
            "functions.ppl_batch_ms": 1e3 * H.median(walls["ppl"])}


def payload_bytes_per_row(path: str) -> float:
    """Mean size of the binary image column: what must never shuffle."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    col = pq.read_table(path, columns=["bytes"]).column(0)
    return pc.sum(pc.binary_length(col)).as_py() / len(col)


def set_up(ctx, path: str):
    """One set-up: session build, ``ensure_artifacts``, reading the input
    and one warm-up pass over its first file (Python workers, models and
    generated code are then ready). Returns the session."""
    from bioanalyzer_backend_spark.plans import pipeline as P
    spark = ctx.session()
    P.ensure_artifacts()
    first = os.path.join(path, sorted(os.listdir(path))[0])
    noop(P.quality_filter(spark.read.parquet(first)))
    return spark


def set_ups(ctx, path: str):
    """``SETUPS`` set-ups (one in a traced run, which reports only the
    cold one); returns the last session and the set-up metrics."""
    with ctx.phase("setups"):
        spark, walls = H.setup_times(lambda: set_up(ctx, path),
                                     1 if ctx.trace else SETUPS)
    ctx.setup_walls = walls
    out = {"setup.cold_s": walls[0]}
    if len(walls) > 1:
        out["setup_s"] = H.median(walls[1:])
    return spark, out


def run(ctx) -> dict:
    from bioanalyzer_backend_spark.plans import pipeline as P

    path = ctx.corpus(ROWS)
    with ctx.phase("oracle"):
        exp = expected_labels(path)

    spark, out = set_ups(ctx, path)

    # The checked pass is also the warm-up pass.
    with ctx.phase("check"):
        got = P.quality_filter(spark.read.parquet(path)) \
            .select("image_id", *LABEL_COLS).toPandas()
        ctx.ops.check("flagship_labels", lambda: labels_match(got, exp))
    out["pipeline.dup_rows"] = float(got["is_dup"].sum())

    def full_pass():
        return H.timed(
            lambda: noop(P.quality_filter(spark.read.parquet(path))))

    with ctx.phase("measure"):
        if not ctx.trace:
            walls = H.closed_loop(ctx.ops, full_pass, ctx.seconds,
                                  MIN_ITERS)
            ctx.iteration_walls = walls
            out["images_per_s"] = ctx.rows / H.median(walls)
        else:
            out.update(layers(ctx, spark, path))
            with ctx.phase("ops"):
                out.update(ops.run(ctx, spark, H.SparkStats(spark), path,
                                   exp))
    return out


def layers(ctx, spark, path: str) -> dict:
    """Traced run: rounds of every prefix pass (untraced; the last one is
    the full pass) and one traced full pass, until ``seconds`` have
    passed. Each prefix wall includes building its plan, as a full pass
    does."""
    from bioanalyzer_backend_spark.functions import gates
    from bioanalyzer_backend_spark.plans import pipeline as P

    stats = H.SparkStats(spark)
    tr = ctx.tracer

    rounds = itertools.count()

    def untraced_full(r: dict, k: int) -> None:
        before = stats.last_execution_id()
        group = f"full-{k}"
        spark.sparkContext.setJobGroup(group, group)
        r["full"] = H.timed(
            lambda: noop(prefix(spark.read.parquet(path), "full")))
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        r["eids"] = stats.executions_since(before)
        r["counts"] = stats.group_counts(group)

    def traced_full(r: dict, k: int) -> None:
        for fn in ("quality_filter", "apply_core_rules", "apply_scrub",
                   "apply_langid_ppl", "apply_final_keep",
                   "apply_dedup_flag"):
            tr.wrap(P, fn, f"pipeline.{fn}")
        tr.wrap(gates, "make_pandas_udf", "functions.gates.make_pandas_udf")
        try:
            with tr.span("flagship.pass") as sp:
                with tr.span("pipeline.read"):
                    df = spark.read.parquet(path)
                out = P.quality_filter(df)
                with tr.span("action.noop_write"):
                    noop(out)
        finally:
            tr.restore()
        r["traced"] = sp["end"] - sp["start"]
        r["coverage"] = tr.coverage(sp)
        plan = [s for s in tr.spans if s["name"] == "pipeline.quality_filter"]
        r["plan"] = plan[-1]["end"] - plan[-1]["start"]

    def one_round() -> dict:
        r = {name: H.timed(
            lambda: noop(prefix(spark.read.parquet(path), name)))
            for name in LAYERS[:-1]}
        # A full pass right after an identical one runs ~10% faster, so
        # the untraced and the traced pass swap places every round.
        k = next(rounds)
        for step in ((untraced_full, traced_full) if k % 2
                     else (traced_full, untraced_full)):
            step(r, k)
        return r

    # A traced run sets up once, so one untimed round warms up first.
    rs = H.closed_loop(ctx.ops, one_round, ctx.seconds, MIN_ROUNDS,
                       warmup=1)
    m = {k: H.median([r[k] for r in rs])
         for k in (*LAYERS, "traced", "plan", "coverage")}
    full_eids = [r["eids"] for r in rs]
    counts = [r["counts"] for r in rs]
    # Self time of a layer: its prefix wall minus the previous one. The
    # differences sum to the full pass wall by construction; a negative
    # one means the layers do not add up, and is counted.
    diffs = [m[LAYERS[0]]] + [m[b] - m[a]
                              for a, b in zip(LAYERS, LAYERS[1:])]
    self_s = {k: max(0.0, d) for k, d in zip(LAYER_SELF, diffs)}
    per_pass = [H.python_layer(stats, e, ctx.rows) for e in full_eids]
    shuffle = H.median([H.shuffle_bytes(stats, e) for e in full_eids])
    out = dict(self_s)
    out.update({k: H.median([p[k] for p in per_pass]) for k in per_pass[0]})
    out.update(H.scan_layer(stats, full_eids[-1]))
    with ctx.phase("model_calls"):
        out.update(model_batch_ms(path))
    out.update({
        "scan.payload_bytes_per_row": payload_bytes_per_row(path),
        "pipeline.plan_s": m["plan"],
        "pipeline.shuffle_bytes": float(shuffle),
        "pipeline.shuffle_bytes_per_row": shuffle / ctx.rows,
        "spark.jobs": H.median([c[0] for c in counts]),
        "spark.stages": H.median([c[1] for c in counts]),
        "spark.tasks": H.median([c[2] for c in counts]),
        "trace.wall_s": m["traced"],
        "trace.untraced_wall_s": m["full"],
        "trace.overhead_ratio": m["traced"] / m["full"],
        "trace.coverage": m["coverage"],
        "trace.layers_negative": float(sum(d < 0 for d in diffs)),
    })
    return out
