"""The timed operations, their output checks and the isolation between them.

Every workload drives one ``local[cpus]`` session from this single client
process.

* A *landing* is the unit of graph construction: a seeded WARC.gz segment
  appears in the crawl directory, ``sources.warc.read_warc`` parses it into
  the pages-table input directory, and
  ``streaming.incremental.incremental_pipeline_run`` turns the new files
  into a committed graph.  ``kg_build`` times landings.
* ``kg_query`` and ``kg_lookup`` time a closed loop of reads against a
  committed graph.  The graph is one landing of a fixed segment
  (``GRAPH_SEED``), made by the first query run in a checkout and reopened
  by later runs through the pipeline's resume path (a landing costs more
  than a run's budget allows); the run's seed picks the query stream.  A
  traced kg_query run lands its own seed's segment instead, traced.
* ``doc_curate`` times ``curate_documents`` over a seeded, already-extracted
  docs table, with the curated corpus written out.

Every operation's output is checked outside its timed interval; a failed
check counts the operation as failed and is never relaxed.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import duckdb

from . import gen
from .host import tree_cpu_s

# pages per segment: one warm landing is then mostly the pipeline's fixed
# per-stage cost, and the session's cold first landing fits a run's budget
SEGMENT_PAGES = 1000
# files per segment: read_warc parses one file per task
WARC_FILES = 4
# base docs in the doc_curate table (planted duplicates come on top)
DOC_PAGES = 1000
SAMPLE_URLS = 64  # extracted texts compared byte for byte per landing
MIN_PR = 0.95  # claim-triple precision/recall gate (ROADMAP north star)
# one round of a query loop: one query of each of the workload's kinds, in
# a seeded order.  kg_query runs the four kinds of the KG read path;
# kg_lookup only the two served by the bucketed node and triple tables.
QUERY_ROUNDS = {
    "kg_query": ["point", "join", "path", "labels"],
    "kg_lookup": ["point", "labels"],
    "kg_build": ["point", "join", "path", "labels"],
}
GRAPH_SEED = 0  # the segment of the graph untraced query runs query


@contextmanager
def no_span(name: str, group: bool = False):
    yield


# run_pipeline options per workload: kg_build runs the seven core stages;
# the graph the query workloads query also needs the subject-bucketed
# triples for its point probes.
LANDING_OPTS = {
    "kg_build": {},
    "kg_query": {"triples_by_subj": True},
    "kg_lookup": {"triples_by_subj": True},
}


def curate_opts(n_docs: int) -> dict:
    """The curation chain's defaults plus a head-domain quota of a tenth
    of the table."""
    return {"domain_cap": n_docs // 10}


class Bench:
    """State of one benchmark run: the session, the seeded segment and the
    work directory everything is written under."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload = workload
        self.traced = False
        self.seed = seed
        self.work = work
        self.span = no_span
        self.spark = None
        self.session_s = 0.0
        self.ops = 0
        self.pages: list[gen.Page] = []
        self.warc_files: list[bytes] = []
        self.golden: set[tuple] = set()
        self.docs: list[gen.Page] = []

    @property
    def docs_path(self) -> str:
        return os.path.join(self.work, "docs.parquet")

    def generate(self, segment: bool, docs: bool) -> None:
        """The seeded inputs (no Spark): the crawl segment and its expected
        claim triples, and the docs table."""
        from wikidata_dump_processor_spark import datagen
        from wikidata_dump_processor_spark.reference_semantics import golden_record

        if docs:
            self.docs = gen.segment_pages(self.seed, DOC_PAGES)
            gen.write_docs(self.docs, self.docs_path)
        if not segment:
            return
        self.pages = gen.segment_pages(self.seed, SEGMENT_PAGES)
        step = -(-len(self.pages) // WARC_FILES)
        self.warc_files = [
            gen.warc_segment(self.pages[i:i + step])
            for i in range(0, len(self.pages), step)
        ]
        for i in sorted({p.index for p in self.pages}):
            text = datagen.expected_text(i)
            if text:
                self.golden.update(
                    _norm_triple(t)
                    for t in golden_record(text.split("\n", 1)[0])[0]
                )

    def connect(self, spark) -> None:
        """Attach the session, and the linking tables if a graph is built
        or opened (doc_curate needs neither)."""
        from wikidata_dump_processor_spark import datagen

        self.spark = spark
        if self.workload != "doc_curate":
            self.aliases = datagen.gen_aliases(spark)
            self.catalog = datagen.gen_entity_catalog(spark)

    @property
    def crawl_root(self) -> str:
        return os.path.join(self.work, "graph")


@dataclass
class Op:
    """One timed operation: its wall time, the tree's CPU time during it,
    the items (pages or docs) it processed, what it returned and the
    directory its outputs went to."""

    seconds: float
    cpu_s: float
    items: int
    result: dict | None
    out_dir: str | None


def land(b: Bench) -> Op:
    """Land one copy of the run's segment and ingest it."""
    from wikidata_dump_processor_spark.sources.warc import read_warc
    from wikidata_dump_processor_spark.streaming.incremental import (
        incremental_pipeline_run,
    )

    k = b.ops
    b.ops += 1
    seg = os.path.join(b.work, "crawl", f"seg{k:03d}")
    os.makedirs(seg)
    for j, data in enumerate(b.warc_files):
        with open(os.path.join(seg, f"part-{j:02d}.warc.gz"), "wb") as f:
            f.write(data)
    staging = os.path.join(b.work, "staging", f"seg{k:03d}")
    inbox = os.path.join(b.work, "pages")
    os.makedirs(inbox, exist_ok=True)

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with b.span("sources.read_warc", group=True):
        read_warc(b.spark, seg).write.parquet(staging)
        for j, part in enumerate(sorted(glob.glob(os.path.join(staging, "*.parquet")))):
            os.rename(part, os.path.join(inbox, f"seg{k:03d}-{j:03d}.parquet"))
    with b.span("incremental"):
        res = incremental_pipeline_run(
            b.spark, inbox, b.crawl_root, b.aliases, b.catalog,
            **LANDING_OPTS[b.workload],
        )
    return Op(
        seconds=time.perf_counter() - t0, cpu_s=tree_cpu_s() - cpu0,
        items=len(b.pages), result=res, out_dir=res and res["run_dir"],
    )


def _norm_obj(obj):
    """Struct objects compare as parsed JSON (42 == 42.0), as the
    repository's triple tests compare them."""
    if isinstance(obj, str) and obj.startswith("{"):
        try:
            return json.dumps(json.loads(obj, parse_int=float),
                              sort_keys=True, separators=(",", ":"))
        except ValueError:
            return obj
    return obj


def _norm_triple(t):
    s, p, o = t
    return (s, p, _norm_obj(o))


def _pq(run_dir: str, table: str) -> str:
    return os.path.join(run_dir, table, "**", "*.parquet").replace("'", "''")


def check_landing(b: Bench, landing: Op) -> tuple[list[str], dict]:
    """Problems with one landing's committed outputs, and the counts that
    must repeat exactly on every landing of the same segment."""
    res = landing.result
    if res is None:
        return ["incremental run found no new files"], {}
    stages = res["manifest"].stages
    run_dir = res["run_dir"]
    problems = []
    rows = stages["extract"]["metrics"]["rows"]
    if rows != landing.items:
        problems.append(f"extract rows {rows} != segment records {landing.items}")
    if len(res["new_files"]) < 1:
        problems.append("no new input files ingested")

    con = duckdb.connect()
    rng = random.Random(f"sample:{b.seed}")
    sample = rng.sample(b.pages, min(SAMPLE_URLS, len(b.pages)))
    want = {p.url: p.text for p in sample}
    got = dict(con.execute(
        f"SELECT url, text FROM read_parquet('{_pq(run_dir, 'extracted')}') "
        "WHERE url IN (SELECT unnest($1))", [list(want)],
    ).fetchall())
    bad = [u for u, t in want.items() if got.get(u, None) != t]
    if bad:
        problems.append(f"{len(bad)} sampled texts differ, e.g. {bad[0]}")

    engine = {
        _norm_triple(t) for t in con.execute(
            f"SELECT subj, pred, obj FROM read_parquet('{_pq(run_dir, 'triples')}', "
            "hive_partitioning = true)"
        ).fetchall()
    }
    tp = len(engine & b.golden)
    precision, recall = tp / max(len(engine), 1), tp / max(len(b.golden), 1)
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(f"claim triples P={precision:.4f} R={recall:.4f} < {MIN_PR}")

    counts = {
        "canonical_triples": stages["canonical"]["metrics"]["rows"],
        "nodes": stages["nodes"]["metrics"]["rows"],
    }
    con.close()
    return problems, counts


def release(b: Bench, out_dir: str | None) -> None:
    """Drop an operation's catalog tables, cached blocks and files, so no
    later operation reuses them."""
    for t in b.spark.catalog.listTables():
        if t.name.startswith(("kg_nodes_", "kg_triples_subj_")):
            b.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    b.spark.catalog.clearCache()
    if out_dir:
        shutil.rmtree(out_dir, ignore_errors=True)
    for sub in ("crawl", "staging", "pages"):
        shutil.rmtree(os.path.join(b.work, sub), ignore_errors=True)


def graph_info(landing: Op) -> dict:
    """What reopening a landing's graph needs."""
    res = landing.result
    return {
        "run_dir": res["run_dir"],
        "new_files": res["new_files"],
        "fingerprint": res["manifest"].stages["extract"]["fingerprint"],
    }


def open_graph(b: Bench, info: dict) -> "Graph":
    """A committed graph, with its subject-bucketed triples, through the
    pipeline's own resume path: committed stages are read back and their
    bucketed tables registered; only a missing stage runs."""
    from wikidata_dump_processor_spark.plans.pipeline import run_pipeline

    tables = run_pipeline(
        b.spark, b.spark.read.parquet(*info["new_files"]), b.aliases,
        info["run_dir"], b.catalog, fingerprint=info["fingerprint"],
        triples_by_subj=True,
    )
    return Graph(b, info["run_dir"], tables)


def query_graph_info(b: Bench, cache_dir: str) -> tuple[dict, list[str], float | None]:
    """The graph untraced query runs query: landed into ``cache_dir`` by
    the first such run in a checkout, and recorded there once its checks
    pass.
    Returns its reopen info, the build's check problems and the build's
    seconds (None when it was already built)."""
    marker = os.path.join(cache_dir, "graph.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f), [], None
    shutil.rmtree(cache_dir, ignore_errors=True)
    gb = Bench(b.workload, GRAPH_SEED, cache_dir)
    gb.generate(segment=True, docs=False)
    gb.spark, gb.aliases, gb.catalog = b.spark, b.aliases, b.catalog
    landing = land(gb)
    problems = check_landing(gb, landing)[0]
    info = graph_info(landing)
    if not problems:
        with open(marker + ".tmp", "w") as f:
            json.dump(info, f)
        os.replace(marker + ".tmp", marker)
    return info, problems, landing.seconds


# --------------------------------------------------------------------------
# doc_curate: the curation chain over the seeded docs table.
# --------------------------------------------------------------------------


def curate(b: Bench) -> Op:
    """Curate the docs table and write the curated corpus."""
    from wikidata_dump_processor_spark.operators.curate import (
        curate_documents,
        curated_only,
    )

    out = os.path.join(b.work, "curated", f"op{b.ops:03d}")
    b.ops += 1
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with b.span("doc_curate", group=True):
        docs = b.spark.read.parquet(b.docs_path)
        flagged = curate_documents(docs, **curate_opts(len(b.docs)))
        curated_only(flagged).write.parquet(out)
    return Op(
        seconds=time.perf_counter() - t0, cpu_s=tree_cpu_s() - cpu0,
        items=len(b.docs), result=None, out_dir=out,
    )


def check_curate(b: Bench, op: Op) -> tuple[list[str], dict]:
    """Problems with one curated corpus, and its kept count, which must
    repeat exactly on every operation."""
    con = duckdb.connect()
    src = f"read_parquet('{_pq(op.out_dir, '')}')"
    kept = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    exact = [p.url for p in b.docs if p.kind == "exact_dup"]
    leaked = con.execute(
        f"SELECT count(*) FROM {src} WHERE url IN (SELECT unnest($1))", [exact]
    ).fetchone()[0]
    con.close()
    problems = []
    if leaked:
        problems.append(f"curation kept {leaked} of {len(exact)} planted exact duplicates")
    return problems, {"kept": kept}


# --------------------------------------------------------------------------
# kg_query: four query kinds over one committed graph, each checked against
# DuckDB over the same parquet files.
# --------------------------------------------------------------------------


class Graph:
    """A committed graph and the query kinds a client runs against it."""

    def __init__(self, b: Bench, run_dir: str, tables: dict):
        self.b = b
        self.run_dir = run_dir
        stages = tables["manifest"].stages
        self.tbs_table = stages["triples_by_subj"]["metrics"]["table"]
        self.canon = tables["canonical_triples"]
        self.nodes = tables["nodes"]
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW t AS SELECT subj, pred, obj, src_url FROM "
            f"read_parquet('{_pq(self.run_dir, 'canonical_triples')}', "
            "hive_partitioning = true)"
        )
        self.con.execute(
            "CREATE VIEW n AS SELECT id, label FROM "
            f"read_parquet('{_pq(self.run_dir, 'nodes')}')"
        )
        col = lambda sql: [r[0] for r in self.con.execute(sql).fetchall()]
        self.params = {
            "point": col(
                "SELECT DISTINCT subj FROM t "
                "WHERE regexp_matches(subj, '^[QL][0-9]+$') ORDER BY 1"
            ),
            "join": col(
                "SELECT DISTINCT a.obj FROM t a JOIN t b ON a.subj = b.subj "
                "WHERE a.pred = 'P31' AND b.pred = 'P279' ORDER BY 1"
            ),
            "path": col("SELECT DISTINCT subj FROM t WHERE pred = 'P279' ORDER BY 1"),
            "labels": col("SELECT DISTINCT obj FROM t WHERE pred = 'P31' ORDER BY 1"),
        }

    def rounds(self, seed):
        """Endless seeded query stream: rounds of the workload's query kinds
        in a seeded order, each query with a seeded parameter."""
        rng = random.Random(f"queries:{seed}")
        while True:
            kinds = list(QUERY_ROUNDS[self.b.workload])
            rng.shuffle(kinds)
            yield [(kind, rng.choice(self.params[kind])) for kind in kinds]

    def run(self, kind: str, arg: str) -> list[tuple]:
        from wikidata_dump_processor_spark.plans.bgp import (
            attach_labels,
            match_patterns,
        )
        from wikidata_dump_processor_spark.plans.pipeline import point_triples

        spark = self.b.spark
        if kind == "point":
            df = point_triples(spark, self.tbs_table, arg).select(
                "subj", "pred", "obj", "src_url"
            )
        elif kind == "join":
            df = match_patterns(self.canon, f"?x P31 {arg} . ?x P279 ?y").select("x", "y")
        elif kind == "path":
            df = match_patterns(self.canon, f"{arg} P279+ ?a").select("a")
        else:
            df = attach_labels(
                match_patterns(self.canon, f"?x P31 {arg}"), self.nodes, columns=["x"]
            ).select("x", "x_label")
        return [tuple(r) for r in df.collect()]

    def oracle(self, kind: str, arg: str) -> list[tuple]:
        if kind == "point":
            sql = "SELECT subj, pred, obj, src_url FROM t WHERE subj = $1"
        elif kind == "join":
            sql = (
                "SELECT DISTINCT a.subj, b.obj FROM t a JOIN t b ON a.subj = b.subj "
                "WHERE a.pred = 'P31' AND a.obj = $1 AND b.pred = 'P279'"
            )
        elif kind == "path":
            sql = (
                "WITH RECURSIVE r(a) AS ("
                " SELECT obj FROM t WHERE pred = 'P279' AND subj = $1"
                " UNION SELECT t.obj FROM t JOIN r ON t.subj = r.a"
                " WHERE t.pred = 'P279') SELECT a FROM r"
            )
        else:
            sql = (
                "SELECT r.x, n.label FROM (SELECT DISTINCT subj AS x FROM t "
                "WHERE pred = 'P31' AND obj = $1) r LEFT JOIN n ON n.id = r.x"
            )
        return self.con.execute(sql, [arg]).fetchall()

    def check(self, kind: str, arg: str, rows: list[tuple]) -> list[str]:
        key = lambda r: tuple((v is None, str(v)) for v in r)
        want = sorted(self.oracle(kind, arg), key=key)
        if sorted(rows, key=key) != want:
            return [f"{kind}({arg}): {len(rows)} rows != duckdb {len(want)} rows"]
        return []

    def close(self):
        self.con.close()
