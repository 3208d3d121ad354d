"""``resume`` workload: ``plans.resume.run_with_resume`` into a fresh
``LocalSnapshotTable`` warehouse (results, audit, checkpoint).

One iteration is two invocations. The first is stopped after half the
groups by the public ``fail_after`` + ``fail_between_commits`` hooks,
between a group's results commit and its audit commit; the second rolls
that group forward and completes the run. ``images_per_s`` is input rows
over the wall of both invocations.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

from . import flagship
from . import harness as H
from . import ops

ROWS = 2000
GROUPS = 2
# The set-up warms the pipeline, not the write path: an untimed
# iteration does (the first to write is ~2x slower). Iteration walls in
# one run agree within ~5%; the spread between runs is larger, so more
# timed iterations would buy little for their ~6 s each.
WARMUP = 1
MIN_ITERS = 2
# Rounds (an untraced and a traced iteration) in the traced run.
MIN_ROUNDS = 2
TABLES = ("results", "audit", "checkpoint")
# The flagship's prefix layers are measured on the flagship only; the
# group loop here runs the same plan per group.
# The operators step runs in the flagship's traced run only.
NOT_EXERCISED = (*flagship.LAYER_SELF, "trace.layers_negative",
                 *ops.NAMES)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Warehouse:
    """A fresh results/audit/checkpoint warehouse under the work dir."""

    def __init__(self, root: str):
        from bioanalyzer_backend_spark.sources.catalog import \
            LocalSnapshotTable
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.stage_dir = os.path.join(root, "stage")
        self.tables = {t: LocalSnapshotTable(os.path.join(root, t))
                       for t in TABLES}

    def invoke(self, spark, images, **hooks) -> dict:
        from bioanalyzer_backend_spark.plans import resume as R
        t = self.tables
        return R.run_with_resume(spark, images, t["results"], t["audit"],
                                 t["checkpoint"], n_groups=GROUPS,
                                 stage_dir=self.stage_dir, **hooks)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def iteration(spark, path: str, wh: Warehouse) -> dict:
    """Both invocations; returns their walls and the second one's stats."""
    images = spark.read.parquet(path)
    t0 = time.perf_counter()
    try:
        wh.invoke(spark, images, fail_after=GROUPS // 2,
                  fail_between_commits=True)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("first invocation was not stopped by the "
                           "injected failure")
    t1 = time.perf_counter()
    stats = wh.invoke(spark, images)
    t2 = time.perf_counter()
    return {"wall": t2 - t0, "recover": t2 - t1, "stats": stats}


def run(ctx) -> dict:
    path = ctx.corpus(ROWS)
    with ctx.phase("oracle"):
        exp = flagship.expected_labels(path)
    work = os.path.join(H.WORK, "work", f"resume-{os.getpid()}")
    n_wh = itertools.count()

    def fresh() -> Warehouse:
        return Warehouse(os.path.join(work, f"wh-{next(n_wh)}"))

    try:
        spark, out = flagship.set_ups(ctx, path)
        last = fresh()

        def one() -> dict:
            nonlocal last
            last.remove()
            last = fresh()
            return iteration(spark, path, last)

        with ctx.phase("measure"):
            if not ctx.trace:
                its = H.closed_loop(ctx.ops, one, ctx.seconds, MIN_ITERS,
                                    WARMUP)
                ctx.iteration_walls = [i["wall"] for i in its]
                out["images_per_s"] = \
                    ctx.rows / H.median(ctx.iteration_walls)
            else:
                last.remove()
                layer_values, last = layers(ctx, spark, path, fresh)
                out.update(layer_values)
        with ctx.phase("check"):
            out["pipeline.dup_rows"] = check(ctx, spark, last, exp)
            out["resume.rows_reprocessed"] = float(
                last.tables["results"].read(spark).count() - ctx.rows)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def check(ctx, spark, wh: Warehouse, exp) -> float:
    """Committed output checks on one completed warehouse; returns the
    number of rows flagged as duplicates."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark import spec

    res = wh.tables["results"].read(spark)
    audit = wh.tables["audit"].read(spark)
    ckpt = wh.tables["checkpoint"].read(spark)
    got = res.select("image_id", *flagship.LABEL_COLS).toPandas()
    ops = ctx.ops
    ops.check("resume_labels", lambda: flagship.labels_match(got, exp))
    ops.check("resume_unique_ids",
              lambda: int(got["image_id"].nunique()) == len(got))
    ops.check("resume_audit_n_in", lambda: audit
              .where(F.col("rule") == spec.RULE_NAMES[0])
              .agg(F.sum("n_in")).head()[0] == ctx.rows)
    per_group = {r[0]: r[1] for r in
                 ckpt.groupBy("part_id").count().collect()}
    ops.check("resume_one_checkpoint_per_group",
              lambda: per_group == {g: 1 for g in range(GROUPS)})
    return float(got["is_dup"].sum())


def layers(ctx, spark, path: str, fresh) -> tuple[dict, Warehouse]:
    """Traced run: interleaved untraced and traced iterations until
    ``seconds`` have passed. Spans come from wrappers on the public
    ``plans.resume`` functions and ``LocalSnapshotTable`` methods.
    Returns the layer values and the last traced warehouse."""
    from bioanalyzer_backend_spark.plans import pipeline as P
    from bioanalyzer_backend_spark.plans import resume as R
    from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable

    stats = H.SparkStats(spark)
    tr = ctx.tracer

    def table_name(sp, args, result):
        sp["name"] = f"catalog.append_{os.path.basename(args[0].root)}"

    def stage_size(sp, args, result):
        sp["attrs"]["bytes"] = _dir_bytes(args[2])

    rounds, kept = itertools.count(), []

    def one_round() -> dict:
        wh = fresh()
        untraced = iteration(spark, path, wh)
        wh.remove()
        for old in kept:
            old.remove()
        wh = fresh()
        kept[:] = [wh]
        since = len(tr.spans)
        before = stats.last_execution_id()
        group = f"resume-{next(rounds)}"
        spark.sparkContext.setJobGroup(group, group)
        tr.wrap(R, "stage_input", "resume.stage_input", stage_size)
        tr.wrap(R, "reconcile", "resume.reconcile")
        tr.wrap(R, "committed_groups", "resume.committed_groups")
        tr.wrap(R, "check_n_groups", "resume.check_n_groups")
        tr.wrap(LocalSnapshotTable, "append", "catalog.append", table_name)
        tr.wrap(LocalSnapshotTable, "delete_where", "catalog.delete_where")
        tr.wrap(P, "quality_filter", "pipeline.quality_filter")
        try:
            with tr.span("resume.iteration") as root:
                traced = iteration(spark, path, wh)
        finally:
            tr.restore()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        eids = stats.executions_since(before)
        mine = tr.spans[since:]
        written = sum(_dir_bytes(os.path.join(wh.root, t, "data"))
                      for t in TABLES)
        return {
            "untraced": untraced["wall"],
            "recover": untraced["recover"],
            "traced": traced["wall"],
            "coverage": tr.coverage(root),
            "repaired": len(traced["stats"]["repaired_groups"]),
            "stage_bytes": sum(s["attrs"].get("bytes", 0) for s in mine
                               if s["name"] == "resume.stage_input"),
            "commits": sum(len(t.history()) for t in wh.tables.values()),
            "written": written,
            "eids": eids,
            "counts": stats.group_counts(group),
            **{k: tr.total(k, since) for k in (
                "resume.stage_input", "resume.reconcile",
                "resume.committed_groups", "pipeline.quality_filter",
                "catalog.append_results",
                "catalog.append_audit", "catalog.append_checkpoint")},
        }

    # A traced run sets up once, so untimed rounds warm up first.
    rows = H.closed_loop(ctx.ops, one_round, ctx.seconds, MIN_ROUNDS,
                         WARMUP)

    def med(k):
        return H.median([r[k] for r in rows])

    per = [H.python_layer(stats, r["eids"], ctx.rows) for r in rows]
    shuffle = H.median([H.shuffle_bytes(stats, r["eids"]) for r in rows])
    out = {k: H.median([p[k] for p in per]) for k in per[0]}
    out.update(H.scan_layer(stats, rows[-1]["eids"]))
    out.update({
        "pipeline.plan_s": med("pipeline.quality_filter"),
        "resume.stage_input_s": med("resume.stage_input"),
        "resume.stage_bytes": med("stage_bytes"),
        "resume.reconcile_s": med("resume.reconcile"),
        "resume.committed_groups_s": med("resume.committed_groups"),
        "resume.groups_repaired": med("repaired"),
        "resume.recover_s": med("recover"),
        "catalog.append_results_s": med("catalog.append_results"),
        "catalog.append_audit_s": med("catalog.append_audit"),
        "catalog.append_checkpoint_s": med("catalog.append_checkpoint"),
        "catalog.commits": med("commits"),
        "catalog.bytes_written_per_input_byte":
            med("written") / ctx.corpus_bytes,
        "pipeline.shuffle_bytes": float(shuffle),
        "pipeline.shuffle_bytes_per_row": shuffle / ctx.rows,
        "scan.payload_bytes_per_row": flagship.payload_bytes_per_row(path),
        "spark.jobs": H.median([r["counts"][0] for r in rows]),
        "spark.stages": H.median([r["counts"][1] for r in rows]),
        "spark.tasks": H.median([r["counts"][2] for r in rows]),
        "trace.wall_s": med("traced"),
        "trace.untraced_wall_s": med("untraced"),
        "trace.overhead_ratio": med("traced") / med("untraced"),
        "trace.coverage": med("coverage"),
    })
    with ctx.phase("model_calls"):
        out.update(flagship.model_batch_ms(path))
    return out, kept[0]
