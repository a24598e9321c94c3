"""The served read path, measured in the traced ``ingest`` run.

The facade's tables are loaded with ``ServedGraph.from_spark``; one query
per preset builds the lazy layer indexes.  Then one closed-loop client
issues a seeded query mix for ``--seconds`` — 60%
``EDGE_HYBRID_SEARCH_RRF``, 20% ``EDGE_HYBRID_SEARCH_NODE_DISTANCE`` with
a center node, 20% ``COMBINED_HYBRID_SEARCH_RRF`` — half scoped to one
``group_id``, with query text taken from facts the tables hold.  Each query
embeds its text (``embed_text``) and searches; no Spark runs in the loop.

Gates: every query returns edges without raising, and one query's edge
uuid order from ``ServedGraph`` equals Spark ``composite_search.search``'s
over the same tables.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from perfbench import gates
from perfbench.stats import median, summarize

N_QUERIES = 4000
MIX = (("edge_rrf", "EDGE_HYBRID_SEARCH_RRF", 0.6),
       ("edge_node_distance", "EDGE_HYBRID_SEARCH_NODE_DISTANCE", 0.2),
       ("combined_rrf", "COMBINED_HYBRID_SEARCH_RRF", 0.2))
SERVING_SETUP_REPS = 3


@dataclass
class Query:
    kind: str
    preset: str
    text: str
    group_ids: list | None
    center: str | None


def make_queries(seed: int, facts, centers: dict, n: int) -> list[Query]:
    """The seeded query mix.  ``facts``: (group_id, fact text) pairs;
    ``centers``: group_id → node uuids usable as the node-distance
    center.  Every block of ten queries holds the mix's
    exact proportions and five scoped queries, in seeded order, so the
    mix is the same for every seed and only texts and order vary."""
    rng = random.Random(seed)
    presets = {k: p for k, p, _ in MIX}
    block = [k for k, _, w in MIX for _ in range(round(10 * w))]
    out = []
    while len(out) < n:
        kinds = rng.sample(block, len(block))
        scoped = rng.sample([True, False] * 5, 10)
        for kind, sc in zip(kinds, scoped):
            group, text = facts[rng.randrange(len(facts))]
            center = (rng.choice(centers[group])
                      if kind == "edge_node_distance" else None)
            out.append(Query(kind, presets[kind], text,
                             [group] if sc else None, center))
    return out[:n]


def _search(served, q: Query, qvec):
    from graphiti_spark.operators.composite_search import COMPOSITE_RECIPES
    return served.search(q.text, qvec, COMPOSITE_RECIPES[q.preset],
                         group_ids=q.group_ids, center_node_uuid=q.center)


def _rows(res) -> int:
    return sum(len(t) for t in (res.edges, res.nodes, res.episodes,
                                res.communities) if t is not None)


def gate_against_spark(served, tables: dict, queries: list[Query],
                       seed: int) -> dict:
    """ServedGraph vs Spark composite search: the same edge uuid order.

    One Spark search layer costs 8-25 s of job scheduling here, so a run
    compares the edge layer (what ``GraphitiSpark.search`` returns) of the
    first group-scoped query of one edge preset, the preset alternating
    with the seed (the combined preset's edge layer is configured exactly
    like ``EDGE_HYBRID_SEARCH_RRF``).  The node and episode layers'
    equivalence is covered by the repository's serving tests."""
    from graphiti_spark.functions.text import embed_text
    from graphiti_spark.operators import composite_search as CS

    kind = ("edge_rrf", "edge_node_distance")[seed % 2]
    q = next(q for q in queries if q.kind == kind and q.group_ids)
    t0 = time.perf_counter()
    qvec = [float(x) for x in embed_text(q.text)]
    want = CS.search(q.text, qvec, CS.COMPOSITE_RECIPES[q.preset],
                     group_ids=q.group_ids, center_node_uuid=q.center,
                     **tables).edges
    got = _search(served, q, qvec).edges
    res = gates.order_gate([r["uuid"] for r in want.select("uuid").collect()],
                           list(got["uuid"]))
    res.update(kind=kind, spark_s=time.perf_counter() - t0)
    return res


def served_reads(ctx, tables: dict, tracer) -> dict:
    """Load, warm and query a ServedGraph over ``tables``; returns the
    per-layer metrics and the attempted / failed operation counts.
    Query texts are facts the tables hold, so every group a query is
    scoped to has edges to find."""
    from graphiti_spark.functions.text import embed_text
    from graphiti_spark.serving import ServedGraph

    edges_pdf = tables["edges"].select(
        "group_id", "source_node_uuid", "target_node_uuid",
        "fact").toPandas()
    facts = sorted(set(zip(edges_pdf["group_id"], edges_pdf["fact"])))
    presets = {k: p for k, p, _ in MIX}
    from_spark_s, index_s = [], []
    for _ in range(SERVING_SETUP_REPS):
        t1 = time.perf_counter()
        served = ServedGraph.from_spark(**tables)
        t2 = time.perf_counter()
        for kind in presets:
            q = Query(kind, presets[kind], facts[0][1], None,
                      edges_pdf["source_node_uuid"].iloc[0])
            _search(served, q, [float(x) for x in embed_text(q.text)])
        from_spark_s.append(t2 - t1)
        index_s.append(time.perf_counter() - t2)

    centers: dict = {}
    for grp, s, t in zip(edges_pdf["group_id"], edges_pdf["source_node_uuid"],
                         edges_pdf["target_node_uuid"]):
        centers.setdefault(grp, set()).update((s, t))
    centers = {k: sorted(v) for k, v in centers.items()}
    queries = make_queries(ctx.seed, facts, centers, N_QUERIES)

    lat_ms, failed, attempted, rows = [], 0, 0, 0
    loop_t0 = time.perf_counter()
    while time.perf_counter() - loop_t0 < ctx.seconds:
        q = queries[attempted % len(queries)]
        attempted += 1
        t = time.perf_counter()
        try:
            res = _search(served, q, [float(x) for x in embed_text(q.text)])
        except Exception as exc:  # counted; the loop goes on
            ctx.error(f"query {attempted} failed: {exc!r}")
            failed += 1
            continue
        lat_ms.append((time.perf_counter() - t) * 1000.0)
        rows += _rows(res)
        if res.edges is None or len(res.edges) == 0:
            failed += 1
    loop_s = time.perf_counter() - loop_t0
    summary = summarize(lat_ms)
    n = summary["n"]
    ctx.report_metric("search_p50_ms", summary["p50"], "ms", n)
    if "tail_q" in summary:
        ctx.report_metric(f"search_p{summary['tail_q']:g}_ms",
                          summary["tail"], "ms", n)
    ctx.report_metric("search_qps", n / loop_s, "1/s", n)

    gate = gate_against_spark(served, tables, queries, ctx.seed)
    ctx.note("search_gate", gate)
    attempted += 1
    failed += 0 if gate["ok"] else 1

    # the same queries again, untraced then traced: per-kind and per-scope
    # medians, embedding cost, and the tracing overhead
    sample = queries[:max(1, len(lat_ms))]
    t0 = time.perf_counter()
    for q in sample:
        _search(served, q, [float(x) for x in embed_text(q.text)])
    untraced_s = time.perf_counter() - t0
    embed_ms, by_kind, by_scope = [], {}, {"scoped": [], "unscoped": []}
    t0 = time.perf_counter()
    for q in sample:
        with tracer.span("functions.text"):
            t = time.perf_counter()
            qvec = [float(x) for x in embed_text(q.text)]
            embed_ms.append((time.perf_counter() - t) * 1000.0)
        with tracer.span("serving"):
            t = time.perf_counter()
            _search(served, q, qvec)
            dt = (time.perf_counter() - t) * 1000.0
        by_kind.setdefault(q.kind, []).append(dt)
        by_scope["scoped" if q.group_ids else "unscoped"].append(dt)
    traced_s = time.perf_counter() - t0

    m = {"functions.text.embed_text_ms": median(embed_ms),
         "trace.overhead_s": traced_s - untraced_s,
         "serving.from_spark_s": median(from_spark_s),
         "serving.index_build_s": median(index_s),
         "serving.rows_per_query": rows / max(n, 1)}
    for kind in presets:
        m[f"serving.search.{kind}.p50_ms"] = median(by_kind.get(kind, [0.0]))
    for scope, xs in by_scope.items():
        m[f"serving.search.{scope}.p50_ms"] = median(xs or [0.0])
    return {"per_layer": m, "attempted": attempted, "failed": failed}
