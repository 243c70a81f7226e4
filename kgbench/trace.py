"""Traced run: per-layer metrics, measured from outside the program.

A traced run is never the one that produces end-to-end numbers.  It runs
in two phases in one JVM:

1. the workload's protocol (cold session, warm-up, timed operations) with
   the event log on (``get_spark(extra_conf=)``), spans and job groups,
   which gives ``trace.op_ms``, followed by direct calls into the public
   functions of the layers the run measures (``LAYERS``);
2. the same timed operations again in a new SparkContext of the same JVM
   with all tracing off, which gives ``trace.untraced_op_ms``.

``trace.overhead_ms`` is the difference of the two.  Phase 2 runs on a
JVM that phase 1 has warmed further, so the difference overstates the
cost of tracing rather than hiding it.

Which run measures which layers.  Each traced run prints every per-layer
metric; those of layer groups it does not measure read 0.

* kg_query: the build layers and bgp.*.  Its traced run lands its own
  seed's segment, traced, as its graph; pipeline.*, sources.* and
  incremental.* describe that landing, which is the JVM's first (cold)
  one, and text_extract.*, triples.*, linking.* and canonicalize.* come
  from direct calls on its committed extract snapshot.
* kg_lookup: bgp.* (point and labels; join and path read 0) and the
  curation layers, by one direct ``curate_documents`` call on a seeded
  docs table (5% planted exact and 5% near duplicates, 30% head domain).
* doc_curate and kg_build (not gated) measure curation, and the build
  layers and bgp.* (one cold query per kind) on their last timed landing.

Where the numbers come from:

* spans (name, start, end, parent) are kept in memory and written to
  ``.kgbench/traces/<workload>-seed<seed>.json`` when the run ends;
* the harness sets its own job group around each public-function call and
  sinks each result to the ``noop`` format; ``SparkListenerTaskEnd``
  metrics are folded per job group;
* the Python serialization bytes are the MapInPandas SQL metrics ("data
  sent to / returned from Python workers");
* ``run_pipeline``'s pool threads do not reliably inherit job groups, so
  per-stage numbers come from the committed manifest (started_at,
  committed_at, bytes, per-file rows) and the pipeline's task totals from
  every job submitted while the landing ran.

Layer metric -> end-to-end metric it should move:

* bgp.* -> cpu_s_per_kitem (per query) and the printed round_p50_ms on
  kg_query; bgp.point_ms and bgp.labels_ms also on kg_lookup, which
  bgp.join_ms and bgp.path_ms should not move.
* text_extract.*, triples.*, linking.*, canonicalize.*, pipeline.*,
  sources.*, incremental.* -> no gated metric: the query workloads reuse
  the checkout's graph, so a build change shows only in the first query
  run's setup_s (graph_build_s).  On the ungated kg_build they move
  delta_p50_s, pages_per_s and cpu_s_per_kpage.  They should not move
  the query workloads' cpu_s_per_kitem or round_p50_ms.
* curate.*, dedup.* -> no gated metric; on the ungated doc_curate they
  move curate_p50_s, docs_per_s and cpu_s_per_kdoc.  They should not move
  any query workload metric.
* session.get_spark_s -> setup_s on every workload.
* pipeline.crit.*_share: each segment's share of the pipeline wall time
  (extract, then the stage 2-5 fan-out with the CC remap, then the
  canonical/nodes tail); a faster stage saves at most its segment's share.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager

STAGES = ("extract", "triples", "items", "props", "mentions", "canonical", "nodes")

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_warc_s": "s",
    "sources.warc_records": "count",
    "incremental.s": "s",
    "incremental.new_files": "count",
    "text_extract.s": "s",
    "text_extract.task_cpu_s": "s",
    "text_extract.py_worker_s": "s",
    "text_extract.py_bytes_out": "bytes",
    "text_extract.py_bytes_in": "bytes",
    "text_extract.rows": "count",
    "text_extract.diag_rows": "count",
    "triples.parse_s": "s",
    "triples.extract_s": "s",
    "triples.items_s": "s",
    "triples.props_s": "s",
    "triples.rows": "count",
    "linking.s": "s",
    "linking.mentions": "count",
    "linking.linked": "count",
    "linking.link_ratio": "ratio",
    "canonicalize.s": "s",
    "canonicalize.edges": "count",
    "canonicalize.remap_rows": "count",
    **{f"pipeline.{s}.{k}": u for s in STAGES
       for k, u in (("s", "s"), ("bytes", "bytes"), ("skew", "ratio"))},
    "pipeline.wall_s": "s",
    "pipeline.task_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.crit.extract_share": "ratio",
    "pipeline.crit.fanout_share": "ratio",
    "pipeline.crit.tail_share": "ratio",
    "curate.s": "s",
    "curate.kept": "count",
    **{f"curate.drop.{r}": "count" for r in (
        "url_dup", "exact_dup", "quality", "repetition", "contaminated",
        "near_dup", "domain_quota",
    )},
    "dedup.lsh_candidates": "count",
    "dedup.near_dup_pairs": "count",
    "dedup.lsh_yield": "ratio",
    "curate.shuffle_write_bytes": "bytes",
    "curate.spill_bytes": "bytes",
    "bgp.point_ms": "ms",
    "bgp.join_ms": "ms",
    "bgp.path_ms": "ms",
    "bgp.labels_ms": "ms",
    "bgp.rows": "count",
    "trace.untraced_op_ms": "ms",
    "trace.op_ms": "ms",
    "trace.overhead_ms": "ms",
}


class Tracer:
    """In-memory spans; optionally a Spark job group around the span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        if group:
            self._groups.append(name)
            self.sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if group:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def window(self, name: str) -> tuple[float, float]:
        s = next(s for s in reversed(self.spans) if s["name"] == name)
        return s["start"], s["end"]


def _task_totals(tasks, keep) -> dict:
    t = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "spill": 0,
         "py_sent": 0, "py_recv": 0, "py_run_s": 0.0}
    for task in tasks:
        if not keep(task):
            continue
        t["cpu_s"] += task["cpu_ns"] / 1e9
        t["gc_s"] += task["gc_ms"] / 1e3
        t["shuffle_write"] += task["shuffle_write"]
        t["spill"] += task["spill"]
        t["py_sent"] += task["acc"].get("data sent to Python workers", 0)
        t["py_recv"] += task["acc"].get("data returned from Python workers", 0)
        t["py_run_s"] += task["acc"].get("time to run Python workers", 0) / 1e3
    return t


def fold_event_log(log_dir: str) -> list[dict]:
    """One record per finished task: its job's group and submission time
    and the task's metrics."""
    jobs, stage_job, tasks = {}, {}, []
    # Spark 4 writes one eventlog_v2_<app> directory of events_* files
    paths = sorted(
        os.path.join(root, name)
        for root, _, names in os.walk(log_dir) for name in names
        if name.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"),
                                          ev["Submission Time"] / 1e3)
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    group, submitted = jobs.get(
                        stage_job.get(ev["Stage ID"]), (None, 0.0)
                    )
                    acc = {}
                    for a in ev.get("Task Info", {}).get("Accumulables", []):
                        try:
                            acc[a.get("Name")] = acc.get(a.get("Name"), 0) + int(a["Update"])
                        except (KeyError, TypeError, ValueError):
                            continue
                    tasks.append({
                        "group": group,
                        "submitted": submitted,
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "acc": acc,
                    })
    return tasks


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_workers(batches):
    """Imports the package in every Python worker of a new SparkContext."""
    import wikidata_dump_processor_spark.operators.text_extract  # noqa: F401
    import wikidata_dump_processor_spark.sources.warc  # noqa: F401

    yield from batches


def stage_metrics(stages: dict) -> dict:
    out = {}
    for s in STAGES:
        e = stages[s]
        rows = sorted(e["metrics"].get("partitions", {}).values())
        med = statistics.median(rows) if rows else 0
        out[f"pipeline.{s}.s"] = e["committed_at"] - e["started_at"]
        out[f"pipeline.{s}.bytes"] = e["metrics"]["bytes"]
        out[f"pipeline.{s}.skew"] = rows[-1] / med if med else 1.0
    first = stages["extract"]["started_at"]
    ext_end = stages["extract"]["committed_at"]
    tail_start = min(stages["canonical"]["started_at"], stages["nodes"]["started_at"])
    tail_end = max(stages["canonical"]["committed_at"], stages["nodes"]["committed_at"])
    wall = tail_end - first
    out["pipeline.wall_s"] = wall
    out["pipeline.crit.extract_share"] = (ext_end - first) / wall
    out["pipeline.crit.fanout_share"] = (tail_start - ext_end) / wall
    out["pipeline.crit.tail_share"] = (tail_end - tail_start) / wall
    return out


def build_layers(b, tracer, landing, m: dict) -> None:
    """Direct calls into each graph-building layer on the landing's
    committed extract snapshot."""
    import duckdb
    from pyspark.sql import functions as F

    from wikidata_dump_processor_spark.operators import triples as TR
    from wikidata_dump_processor_spark.operators.canonicalize import (
        canonical_remap,
        identifier_edges,
    )
    from wikidata_dump_processor_spark.operators.linking import link_mentions
    from wikidata_dump_processor_spark.operators.text_extract import (
        exploded_mentions,
        extract_and_detect,
    )
    from wikidata_dump_processor_spark.schemas import PAGES_SCHEMA

    from kgbench.workloads import _pq

    spark, span = b.spark, tracer.span
    res = landing.result
    run_dir = res["run_dir"]
    snap = spark.read.parquet(os.path.join(run_dir, "extracted"))
    pages = spark.read.schema(PAGES_SCHEMA).parquet(*res["new_files"])

    with span("text_extract", group=True):
        row = extract_and_detect(pages, b.aliases).agg(
            F.count(F.lit(1)), F.count("diag")
        ).collect()[0]
    m["text_extract.s"] = tracer.seconds("text_extract")
    m["text_extract.rows"], m["text_extract.diag_rows"] = row[0], row[1]

    text_cols = snap.select("url", "warc_ts", "lang", "text").withColumn(
        "diag", F.lit(None).cast("string")
    )
    # plans are built inside their span: canonical_remap runs its
    # connected-components loop while the plan is built
    for key, name, plan in (
        ("triples.parse_s", "triples.parse", lambda: TR.parse_entities(text_cols)),
        ("triples.extract_s", "triples.extract", lambda: TR.extract_triples(snap)),
        ("triples.items_s", "triples.items", lambda: TR.items_table(snap)),
        ("triples.props_s", "triples.props", lambda: TR.props_catalog(snap)),
        ("linking.s", "linking", lambda: link_mentions(
            exploded_mentions(snap), b.aliases, b.catalog)),
        ("canonicalize.s", "canonicalize", lambda: canonical_remap(
            TR.authctrl_claim_triples(snap))),
    ):
        with span(name, group=True):
            _noop(plan())
        m[key] = tracer.seconds(name)
    m["canonicalize.edges"] = identifier_edges(TR.authctrl_claim_triples(snap)).count()

    stages = res["manifest"].stages
    m["triples.rows"] = stages["triples"]["metrics"]["rows"]
    m["canonicalize.remap_rows"] = stages["canonical"]["metrics"].get("remap_rows", 0)
    con = duckdb.connect()
    m["linking.mentions"] = con.execute(
        f"SELECT coalesce(sum(len(mentions)), 0) FROM read_parquet('{_pq(run_dir, 'extracted')}')"
    ).fetchone()[0]
    con.close()
    m["linking.linked"] = stages["mentions"]["metrics"]["rows"]
    m["linking.link_ratio"] = m["linking.linked"] / max(m["linking.mentions"], 1)


def curate_layer(b, tracer, docs, exact: list[str], m: dict) -> list[str]:
    """One direct curation call on ``docs``, its drop audit and the LSH
    pass's yield; returns check problems."""
    from pyspark.sql import functions as F

    from wikidata_dump_processor_spark.operators.curate import (
        DROP_REASONS,
        curate_documents,
        curated_only,
        curation_audit,
    )
    from wikidata_dump_processor_spark.operators.dedup import minhash_lsh_pairs

    from kgbench.workloads import curate_opts

    n_docs = docs.count()
    with tracer.span("curate", group=True):
        flagged = curate_documents(docs, **curate_opts(n_docs))
        _noop(curated_only(flagged))
    m["curate.s"] = tracer.seconds("curate")
    audit = curation_audit(flagged)
    m["curate.kept"] = audit["kept"]
    for r in DROP_REASONS:
        m[f"curate.drop.{r}"] = audit["dropped"].get(r, 0)
    problems = []
    kept_dups = flagged.filter(
        F.col("_drop_reason").isNull() & F.col("url").isin(exact)
    ).count()
    if kept_dups or audit["dropped"].get("exact_dup", 0) < len(exact):
        problems.append(f"curation kept {kept_dups} of {len(exact)} planted exact duplicates")
    surv = flagged.filter(
        F.col("_drop_reason").isNull()
        | F.col("_drop_reason").isin("near_dup", "domain_quota")
    ).select("url", "text")
    # every LSH candidate pair with its estimated Jaccard, in one pass; the
    # near-duplicate pairs are those at or above the curation threshold
    est = [r[0] for r in minhash_lsh_pairs(
        surv, id_col="url", text_col="text", threshold=0.0,
    ).select("est_jaccard").collect()]
    m["dedup.lsh_candidates"] = len(est)
    threshold = inspect.signature(curate_documents).parameters["minhash_threshold"]
    m["dedup.near_dup_pairs"] = sum(e >= threshold.default for e in est)
    m["dedup.lsh_yield"] = m["dedup.near_dup_pairs"] / max(m["dedup.lsh_candidates"], 1)
    b.spark.catalog.clearCache()
    return problems


def bgp_metrics(lat, m: dict) -> None:
    """Per-kind median latency; a kind the workload does not run is 0."""
    for kind in ("point", "join", "path", "labels"):
        ms = [q.ms for q in lat if q.kind == kind]
        m[f"bgp.{kind}_ms"] = statistics.median(ms) if ms else 0
    m["bgp.rows"] = statistics.mean(q.rows for q in lat)


# metric families per layer group, and the groups each workload's traced
# run measures; it reports the others as zero work and zero time
FAMILIES = {
    "build": ("sources.", "incremental.", "text_extract.", "triples.", "linking.",
              "canonicalize.", "pipeline."),
    "bgp": ("bgp.",),
    "curate": ("curate.", "dedup."),
}
LAYERS = {
    "kg_query": ("build", "bgp"),
    "kg_lookup": ("bgp", "curate"),
    "doc_curate": ("curate",),
    "kg_build": ("build", "bgp"),
}


def traced_run(args, work, t_start) -> dict:
    from pyspark.sql import functions as F

    from kgbench import host
    from kgbench.run import (
        measure,
        open_bench,
        query_loop,
        start_session,
        timed_ops,
        timed_query,
    )
    from kgbench.workloads import (
        QUERY_ROUNDS,
        graph_info,
        no_span,
        open_graph,
        release,
    )

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    b = open_bench(args, work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    })
    layers = LAYERS[args.workload]
    queries = args.workload in ("kg_query", "kg_lookup")
    win = None
    try:
        # phase 1: the workload's protocol with the event log, spans and
        # job groups on, then direct calls into the layers it measures
        tracer = Tracer(b.spark)
        b.span = tracer.span
        m = {"session.get_spark_s": b.session_s}
        res = measure(b, args.seconds, t_start, keep=args.workload != "doc_curate")
        traced_ms = res.op_ms
        if queries:
            info, landing = res.graph_info, res.landing
            res.graph.close()
            lat = [q for r in res.rounds for q in r]
        elif args.workload == "kg_build":
            landing = res.ops[-1]
            info = graph_info(landing)
            g = open_graph(b, info)
            lat = [timed_query(g, kind, g.params[kind][0], res)
                   for kind in QUERY_ROUNDS["kg_build"]]
            g.close()
        if "bgp" in layers:
            bgp_metrics(lat, m)
        if "build" in layers:
            win = tracer.window("incremental")
            warc_win = tracer.window("sources.read_warc")
            m["sources.read_warc_s"] = warc_win[1] - warc_win[0]
            m["sources.warc_records"] = landing.items
            m["incremental.s"] = win[1] - win[0]
            m["incremental.new_files"] = len(landing.result["new_files"])
            m.update(stage_metrics(landing.result["manifest"].stages))
            build_layers(b, tracer, landing, m)
        if "curate" in layers:
            docs = b.spark.read.parquet(b.docs_path).filter(F.col("text").isNotNull())
            exact = [p.url for p in b.docs if p.kind == "exact_dup"]
            res.record(curate_layer(b, tracer, docs, exact, m), timed=False)

        # phase 2: the same timed operation untraced, in a new SparkContext
        # of the same JVM (event log off, harness spans off)
        b.spark.stop()
        b.connect(start_session(work))
        b.span = no_span
        b.spark.range(0, 64, numPartitions=b.spark.sparkContext.defaultParallelism) \
            .mapInPandas(_warm_workers, "id long").write.format("noop") \
            .mode("overwrite").save()
        if queries:
            g = open_graph(b, info)
            untraced_ms = statistics.median(
                sum(q.ms for q in r) for r in query_loop(g, args.seconds, res, b.seed)
            )
            g.close()
        else:
            if args.workload == "kg_build":
                release(b, landing.out_dir)
            ops = timed_ops(b, args.seconds, res.reference, res)
            untraced_ms = statistics.median(o.seconds * 1000 for o in ops)
        m["trace.untraced_op_ms"] = untraced_ms
        m["trace.op_ms"] = traced_ms
        m["trace.overhead_ms"] = traced_ms - untraced_ms
    finally:
        host.stop_spark(b.spark)

    tasks = fold_event_log(log_dir)
    if "build" in layers:
        pipe = _task_totals(tasks, lambda t: win[0] <= t["submitted"] <= win[1])
        ext = _task_totals(tasks, lambda t: t["group"] == "text_extract")
        m.update({
            "pipeline.task_cpu_s": pipe["cpu_s"],
            "pipeline.gc_s": pipe["gc_s"],
            "pipeline.shuffle_write_bytes": pipe["shuffle_write"],
            "pipeline.spill_bytes": pipe["spill"],
            "text_extract.task_cpu_s": ext["cpu_s"],
            "text_extract.py_worker_s": ext["py_run_s"],
            "text_extract.py_bytes_out": ext["py_sent"],
            "text_extract.py_bytes_in": ext["py_recv"],
        })
    if "curate" in layers:
        cur = _task_totals(tasks, lambda t: t["group"] == "curate")
        m["curate.shuffle_write_bytes"] = cur["shuffle_write"]
        m["curate.spill_bytes"] = cur["spill"]
    skipped = tuple(f for g, fams in FAMILIES.items() if g not in layers for f in fams)
    for k in PER_LAYER:
        if k.startswith(skipped):
            m.setdefault(k, 0)
    missing = sorted(set(PER_LAYER) - set(m))
    if missing:
        res.record([f"trace lacks {missing}"], timed=False)
    res.metrics = {k: m.get(k, 0) for k in PER_LAYER}

    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m,
                   "launch": {k: os.environ.get(k) for k in (
                       "SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS", "PYTHONPATH")}},
                  f, indent=1)
    report = [
        f"{args.workload} trace overhead {m['trace.overhead_ms']:.1f} ms "
        f"(traced {traced_ms:.1f} ms - untraced {untraced_ms:.1f} ms)",
    ]
    if "build" in layers:
        report.append(
            f"{args.workload} pipeline critical path: extract "
            f"{m['pipeline.crit.extract_share']:.2f}, stages 2-5 "
            f"{m['pipeline.crit.fanout_share']:.2f}, canonical/nodes "
            f"{m['pipeline.crit.tail_share']:.2f} of {m['pipeline.wall_s']:.2f} s"
        )
    return res.output(report, PER_LAYER)
