"""Workload ``ingest``: the facade write path.

The timed operation is a fresh ``GraphitiSpark`` (embeddings on, the
default) ingesting the sf0.005 corpus with one ``add_episode_bulk`` call,
followed by reading ``edges``/``entities`` back with ``toPandas()`` the
way a caller would — the first Spark work of the driver, like a service
that starts and loads its conversations.  The last 40% of the turns of
``BATCH_CONVS`` seeded conversations are held back.

Gates (outside the timed region): the complete conversations match
``golden_edges`` (P/R >= 0.95, invalidations included) and
``golden_components`` exactly.

The traced run then ingests the held-back turns as one micro-batch, so
new facts invalidate stored edges (``api.*`` per-batch counters, the
merge lineage in ``api.plan_nodes``), and checks the facade's
equivalence with a full rebuild by parts: groups the batch did not touch
are row-for-row unchanged, and the touched, now complete, conversations
match the golden tables.  It ends with the served read path over the
same tables (:mod:`perfbench.serve`).  A micro-batch costs another
20-30 s here, too much to pay in every one of the many runs a
comparison makes.
"""

from __future__ import annotations

import random
import time

from perfbench import gates, serve, sparkstats
from perfbench.trace import Tracer

SF = 0.005
BASE_SHARE = 0.6
BATCH_CONVS = 10
EMBEDDINGS = ("fact_embedding", "name_embedding")


def split_turns(transcripts, held: list):
    """(initial, batch): ``batch`` is the turns from ``BASE_SHARE`` of
    each ``held`` conversation's length on; ``initial`` is the rest."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = F.count("*").over(Window.partitionBy("conv_id"))
    marked = transcripts.withColumn(
        "_batch", F.col("conv_id").isin(held)
        & (F.col("turn_idx") >= F.floor(n * BASE_SHARE)))
    return (marked.where("NOT _batch").drop("_batch"),
            marked.where("_batch").drop("_batch"))


def _read_back(g) -> dict:
    return {"edges": g.edges.toPandas(), "entities": g.entities.toPandas()}


def carry_over_gate(before: dict, after: dict, touched: set) -> dict:
    """Rows of groups no batch touched are unchanged by the batches."""
    out = {}
    for name in ("edges", "entities"):
        b, a = before[name], after[name]
        out[f"{name}_carried_over"] = (
            gates.row_hash(b[~b["group_id"].isin(touched)], EMBEDDINGS)
            == gates.row_hash(a[~a["group_id"].isin(touched)], EMBEDDINGS))
    return out


def complete_vs_golden(tables: dict, golden: dict, groups: set,
                       prefix: str = "") -> dict:
    """The given (complete) conversations against the golden tables."""
    edges, ents = tables["edges"], tables["entities"]
    edges = edges[edges["group_id"].isin(groups)]
    ents = ents[ents["group_id"].isin(groups)]
    ge, gc = golden["golden_edges"], golden["golden_components"]
    return {
        f"{prefix}versioned_edges": gates.versioned_edges_gate(
            edges, ents, ge[ge["conv_id"].isin(groups)]),
        f"{prefix}components": gates.components_gate(
            ents, gc[gc["conv_id"].isin(groups)]),
    }


def run(ctx) -> dict:
    from graphiti_spark.api import GraphitiSpark

    spark, sc = ctx.spark, ctx.spark.sparkContext
    golden, transcripts = ctx.setup_corpus(SF)
    convs = sorted(golden["golden_components"]["conv_id"].unique())
    held = random.Random(ctx.seed).sample(convs, BATCH_CONVS)
    initial, batch = split_turns(transcripts, held)
    n_turns = initial.count()
    tracer = Tracer(sc, enabled=ctx.trace)
    first_job = max((j["job_id"] for j in sparkstats.read_status(sc)[0]),
                    default=-1) if ctx.trace else -1

    t0 = time.perf_counter()
    with tracer.span("api.initial"):
        g = GraphitiSpark(spark).add_episode_bulk(initial)
        before = _read_back(g)
    op_s = time.perf_counter() - t0
    ctx.report_metric("ingest_s", op_s, "s", 1)
    ctx.report_metric("ingest_turns_per_s", n_turns / op_s, "1/s", 1)

    complete = set(convs) - set(held)
    gate = complete_vs_golden(before, golden, complete)
    result = {"metrics": {"op_p50_ms": op_s * 1000.0,
                          "throughput_per_s": n_turns / op_s},
              "per_layer": {}, "attempted": 1, "failed": 0}
    if ctx.trace:
        result["per_layer"] = traced_batch(ctx, g, batch, before, golden,
                                           set(held), gate, tracer,
                                           first_job)
        result["per_layer"]["api.first_batch_s"] = op_s
        # the served snapshot loads from materialized tables, as from an
        # export; Spark then plans the search gate over them, not over
        # the facade's merge lineage
        snapshot = {"edges": g.edges, "nodes": g.entities,
                    "episodes": g.episodes,
                    "episodic_edges": g.episodic_edges}
        snapshot = {k: df.localCheckpoint(eager=True)
                    for k, df in snapshot.items()}
        reads = serve.served_reads(ctx, snapshot, tracer)
        result["per_layer"].update(reads["per_layer"])
        result["attempted"] += reads["attempted"]
        result["failed"] += reads["failed"]
        ctx.tracers.append(tracer)
    ok = all(v if isinstance(v, bool) else v["ok"] for v in gate.values())
    ctx.note("gates", gate)
    result["failed"] += 0 if ok else 1
    return result


def traced_batch(ctx, g, batch, before, golden, touched, gate, tracer,
                 first_job) -> dict:
    """One micro-batch of the held-back turns, its gates (added to
    ``gate``) and the ``api.*`` per-batch metrics."""
    n_turns = batch.count()
    t1 = time.perf_counter()
    with tracer.span("api"):
        g.add_episode_bulk(batch)
        t2 = time.perf_counter()
        after = _read_back(g)
    t3 = time.perf_counter()
    ctx.report_metric("ingest_batch_s", t3 - t1, "s", 1)
    ctx.note("ingest_batch", {"convs": len(touched), "turns": n_turns})
    gate.update(carry_over_gate(before, after, touched))
    gate.update(complete_vs_golden(after, golden, touched, "touched_"))

    jobs, stages = sparkstats.read_status(ctx.spark.sparkContext)
    api = sparkstats.aggregate(jobs, stages, after_job=first_job).get(
        "api", sparkstats.empty_counters())
    return {
        "api.add_episode_bulk_self_s": t2 - t1,
        "api.materialize_s": t3 - t2,
        "api.jobs_per_batch": api["jobs"],
        "api.tasks_per_batch": api["tasks"],
        "api.task_s_per_batch": api["task_s"],
        "api.shuffle_write_mb_per_batch": api["shuffle_write_mb"],
        "api.plan_nodes": len(g.edges._jdf.queryExecution().analyzed()
                              .toString().splitlines()),
        "api.last_batch_s": t3 - t1,
    }
