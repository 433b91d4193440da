"""The benchmark's workloads: closed loops of one client in one process.

Each workload sets up its starting state once (timed: ``setup_s``; it
also pays the fresh JVM's JIT and code generation, as a fresh cron
process does), then runs cycles until ``--seconds`` is spent.  Every
cycle starts from a copy of the set-up state and runs three kinds of op:

* update: the write that changes state,
* noop: the same entry point with no new input,
* read: the calls a downstream reader makes.

Answers are checked after the timed calls, against the generator's
ground truth; an op that raises or answers wrong is a failed op.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import gen
import procstat
import tracing

NVD = {"n_cves": 8000, "n_modified": 2000, "n_recent": 500,
       "noops_per_cycle": 1, "reads_per_cycle": 45}
ADMIT = {"n_docs": 4000, "n_vectors": 4000, "dim": 64, "nlist": 64,
         "batch": 1000, "dup_share": 0.2, "queries": 50, "nprobe": 4,
         "noops_per_cycle": 1, "ann_calls_per_cycle": 4}


@dataclass
class Ledger:
    """Ops attempted and failed.  An op fails if it raises or if any of
    its answers is wrong; the first few reasons are kept."""
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def settle(self, op: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{op}: {'; '.join(problems[:3])}")
        return not problems


def expect(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {_short(got)}, want {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) <= 120 else s[:117] + "..."


@dataclass
class Run:
    """State shared by a workload's ops: session, tracer, clock, samples."""
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    ledger: Ledger = field(default_factory=Ledger)
    samples: dict[str, list[float]] = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, kind: str, fn, cpu: bool = True, label: str | None = None):
        """Run one timed op under a span named ``op.<kind>``.  Returns
        (answer, problems): problems holds the error if ``fn`` raised.
        Wall (and tree CPU) samples are kept, under ``kind`` and under
        ``label`` if given, only for ops that return."""
        c0 = procstat.tree_cpu_s() if cpu else 0.0
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                out = fn()
        except Exception as e:              # op boundary: count, go on
            traceback.print_exc()
            return None, [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        for name in filter(None, (kind, label)):
            self.sample(name + "_s", wall)
        if cpu:
            self.sample(kind + "_cpu_s", procstat.tree_cpu_s() - c0)
        return out, []

    def phase(self, name: str) -> None:
        self.tracer.phase = name

    def cycles(self):
        """Cycle indices until the time budget is spent (at least one)."""
        self.phase("cycle")
        t0, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1
        self.info["cycles"] = i
        self.info["measured_s"] = round(time.perf_counter() - t0, 3)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------------------------ NVD

def _nvd_history_rows(spark, warehouse: str) -> int:
    return spark.read.parquet(f"{warehouse}/update_history").count()


def _nvd_versions(spark, warehouse: str, ids: list[str]) -> dict:
    from pyspark.sql import functions as F
    rows = (spark.read.parquet(f"{warehouse}/nvd")
            .filter(F.col("cve_id").isin(ids))
            .select("cve_id", "last_modified_datetime", "score").collect())
    return {r[0]: (r[1], float(r[2])) for r in rows}


def answer_of(fn: str, rows: list) -> object:
    """A reader's rows, normalised to the form ``gen.reader_mix``
    computes its expected answers in."""
    if fn == "cve_by_id":
        return [(r["cve_id"], r["last_modified_datetime"], float(r["score"]))
                for r in rows]
    if fn == "cpe_search":
        return sorted((r["cve_id"], r["cpe23Uri"]) for r in rows)
    if fn in ("cves_published_between", "cves_with_min_score"):
        return sorted(r["cve_id"] for r in rows)
    if fn == "cve_tally":
        return rows[0][0]
    return {r["download_name"]: r["lastModifiedDate"] for r in rows}


def expected_answer(read: gen.Read) -> object:
    return [read.expect] if read.fn == "cve_by_id" else read.expect


# Answer checks: pure functions of the program's answers and the
# generator's truth, each returning what is wrong (empty: correct).

def ingest_problems(stats: dict, history_rows: int, feeds: int,
                    tally: int, history: int) -> list[str]:
    """A ``run_ingest`` result: feeds loaded, the count-distinct tally
    after the load, and the ``update_history`` row count."""
    problems: list[str] = []
    expect(problems, "feeds loaded", stats["feeds"], feeds)
    expect(problems, "tally", stats["tally_after"], tally)
    expect(problems, "update_history rows", history_rows, history)
    return problems


def version_problems(got: dict, delta: gen.RefreshDelta) -> list[str]:
    """Every refreshed or added CVE carries its newest version."""
    want = {i: (delta.truth[i].lmd, delta.truth[i].score)
            for i in delta.updated + delta.added}
    problems: list[str] = []
    expect(problems, "refreshed (lastModifiedDate, score)", got, want)
    return problems


def read_problems(read: gen.Read, rows: list) -> list[str]:
    problems: list[str] = []
    expect(problems, f"{read.fn}{read.args}", answer_of(read.fn, rows),
           expected_answer(read))
    return problems


def pair_problems(got: set, planted: set) -> list[str]:
    """Every planted near-dup pair found, and no other pair."""
    problems: list[str] = []
    expect(problems, "planted pairs missed", sorted(planted - got), [])
    expect(problems, "unrelated pairs returned", sorted(got - planted), [])
    return problems


def ann_problems(top1: dict, planted: dict, n_queries: int) -> list[str]:
    """Each planted query's top-1 is its source; every query answered."""
    problems: list[str] = []
    expect(problems, "planted top-1", {i: top1.get(i) for i in planted},
           planted)
    expect(problems, "queries answered", len(top1), n_queries)
    return problems


def _nvd_cycle(run: Run, base: str, corpus: gen.NvdCorpus,
               delta: gen.RefreshDelta, reads: list[gen.Read],
               noops: int, out: str) -> None:
    """Refresh, no-ops and reads on a copy of the loaded base."""
    from nvd2mysqlloader_spark import query_layer
    from nvd2mysqlloader_spark.ingest import run_ingest

    spark, ledger = run.spark, run.ledger
    warehouse, landing = f"{out}/warehouse", f"{out}/landing"
    shutil.copytree(base, _fresh(warehouse), symlinks=True)
    shutil.copytree(corpus.landing, _fresh(landing))
    for name, data in delta.files.items():
        with open(os.path.join(landing, name), "wb") as f:
            f.write(data)
    n_feeds = len(corpus.marks)

    def ingest():
        with run.tracer.span("ingest.run_ingest"):
            return run_ingest(spark, landing, warehouse)

    stats, problems = run.op("update", ingest)
    if not problems:
        problems += ingest_problems(
            stats, _nvd_history_rows(spark, warehouse), feeds=2,
            tally=len(delta.truth), history=n_feeds + 2)
        problems += version_problems(_nvd_versions(
            spark, warehouse, delta.updated + delta.added), delta)
        run.tracer.count("ingest.feeds_fresh", stats["feeds"])
        run.tracer.count("ingest.cves_in_batch", stats["cves"])
    ledger.settle("refresh", problems)

    for _ in range(noops):
        stats, problems = run.op("noop", ingest)
        if not problems:
            problems += ingest_problems(
                stats, _nvd_history_rows(spark, warehouse), feeds=0,
                tally=len(delta.truth), history=n_feeds + 2)
            run.tracer.count("ingest.feeds_fresh", stats["feeds"])
            run.tracer.count("ingest.cves_in_batch", stats["cves"])
        ledger.settle("noop refresh", problems)

    query_layer.register_nvd_views(spark, warehouse)
    for read in reads:
        def call(read=read):
            with run.tracer.span("query_layer.read"):
                df = getattr(query_layer, read.fn)(spark, *read.args)
                return df, df.collect()
        got, problems = run.op("read", call, cpu=False,
                               label="read." + read.fn)
        if not problems:
            df, rows = got
            problems += read_problems(read, rows)
            if run.tracer.enabled:
                files, rows_read = tracing.scan_stats(df)
                run.tracer.count("query_layer.files_read", files)
                run.tracer.count("query_layer.rows_read", rows_read)
                run.tracer.count("query_layer.rows_returned", len(rows))
        ledger.settle(f"read {read.fn}", problems)
    run.info["storage_dirs"] = [warehouse]


def nvd_refresh_read(run: Run) -> None:
    from nvd2mysqlloader_spark.ingest import run_ingest

    p = NVD
    work = run.work
    t0 = time.perf_counter()
    corpus = gen.write_backfill(f"{work}/landing", run.seed, p["n_cves"])
    delta = gen.refresh_delta(corpus, run.seed, p["n_modified"],
                              p["n_recent"])
    reads = gen.reader_mix(delta.truth, delta.marks, run.seed,
                           p["reads_per_cycle"])
    run.inputs.update(
        cves=len(corpus.truth), json_bytes=corpus.json_bytes,
        feeds=len(corpus.marks), refresh_updated=len(delta.updated),
        refresh_added=len(delta.added), refresh_json_bytes=delta.json_bytes,
        reads_per_cycle=len(reads),
        digest=gen.digest(corpus.landing, sorted(delta.files.items()),
                          [(r.fn, r.args) for r in reads]),
        generate_s=round(time.perf_counter() - t0, 3))

    run.phase("setup")
    base = f"{work}/base"

    def backfill():
        with run.tracer.span("ingest.run_ingest"):
            return run_ingest(run.spark, corpus.landing, base)

    stats, problems = run.op("setup", backfill)
    if problems:
        raise RuntimeError(f"setup failed: {problems}")
    run.ledger.settle("backfill", ingest_problems(
        stats, _nvd_history_rows(run.spark, base), feeds=len(corpus.marks),
        tally=len(corpus.truth), history=len(corpus.marks)))

    for i in run.cycles():
        _nvd_cycle(run, base, corpus, delta, reads, p["noops_per_cycle"],
                   f"{work}/cycle")


# ------------------------------------------------------------ admission

def _shingled(spark, docs: list[tuple[int, str]]):
    from nvd2mysqlloader_spark.functions.text import shingle3_udf
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return df.select("doc_id", shingle3_udf()("text").alias("s"))


def _vectors(spark, ids, arr, id_col: str):
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(
        {id_col: [int(i) for i in ids],
         "embedding": [row.astype("float64").tolist() for row in arr]}))


QUERY_ID_BASE = 10**12


def _probe(run: Run, table: str, new):
    from nvd2mysqlloader_spark.operators.dedup import \
        incremental_minhash_candidates_banded
    with run.tracer.span("dedup.incremental_minhash_candidates_banded"):
        rows = incremental_minhash_candidates_banded(
            run.spark, table, new).collect()
    return {(r["new_id"], r["old_id"]) for r in rows}


def _ann(run: Run, index: str, q, nprobe: int):
    """Top-10 of each query row of ``q``; returns (plan, rows)."""
    from nvd2mysqlloader_spark.operators.similarity import \
        ivf_topk_from_index
    qdf = _vectors(run.spark, range(QUERY_ID_BASE, QUERY_ID_BASE + len(q)),
                   q, "query_id")
    with run.tracer.span("similarity.ivf_topk_from_index"):
        df = ivf_topk_from_index(index, qdf, k=10, nprobe=nprobe)
        return df, df.collect()


def _top1(rows) -> dict:
    return {r["query_id"] - QUERY_ID_BASE: r["neighbor_id"]
            for r in rows if r["rank"] == 1}


def _admit_cycle(run: Run, base: str, docs, vecs, step: int,
                 out: str, p: dict) -> None:
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table

    spark, ledger = run.spark, run.ledger
    table = f"{out}/sig"
    shutil.copytree(f"{base}/sig", _fresh(table), symlinks=True)
    batch = gen.admit_batch(run.seed, step, docs, p["batch"],
                            p["dup_share"])
    new = _shingled(spark, batch.docs)

    def admit():
        pairs = _probe(run, table, new)
        with run.tracer.span("dedup.write_banded_signature_table"):
            write_banded_signature_table(new, table)
        return pairs

    pairs, problems = run.op("update", admit)
    if not problems:
        problems += pair_problems(pairs, batch.planted)
        run.tracer.count("dedup.candidates", len(pairs))
    ledger.settle("admit", problems)

    empty = spark.createDataFrame([], "doc_id long, s array<string>")
    for _ in range(p["noops_per_cycle"]):
        pairs, problems = run.op("noop", lambda: _probe(run, table, empty))
        if not problems:
            problems += pair_problems(pairs, set())
        ledger.settle("empty probe", problems)

    for call in range(p["ann_calls_per_cycle"]):
        q, planted = gen.query_vectors(
            run.seed, step * p["ann_calls_per_cycle"] + call, vecs,
            p["queries"])
        got, problems = run.op(
            "read", lambda: _ann(run, f"{base}/ivf", q, p["nprobe"]),
            cpu=False)
        if not problems:
            df, rows = got
            problems += ann_problems(_top1(rows), planted, len(q))
            if run.tracer.enabled:
                run.tracer.count("similarity.rows_scanned",
                                 tracing.scan_stats(df)[1])
                run.tracer.count("similarity.corpus_rows", len(vecs))
        ledger.settle("ann", problems)
    run.info["storage_dirs"] = [table, f"{base}/ivf"]


def corpus_admit(run: Run) -> None:
    from nvd2mysqlloader_spark.operators.dedup import \
        write_banded_signature_table
    from nvd2mysqlloader_spark.operators.similarity import write_ivf_index

    p = ADMIT
    spark, work = run.spark, run.work
    t0 = time.perf_counter()
    docs = gen.corpus_docs(run.seed, p["n_docs"])
    vecs = gen.corpus_vectors(run.seed, p["n_vectors"], p["dim"])
    run.inputs.update(
        docs=len(docs), doc_bytes=sum(len(t) for _, t in docs),
        vectors=len(vecs), dim=p["dim"], batch=p["batch"],
        planted_share=p["dup_share"], queries=p["queries"],
        digest=gen.digest(docs, vecs),
        generate_s=round(time.perf_counter() - t0, 3))

    base = f"{work}/base"

    def setup():
        with run.tracer.span("dedup.write_banded_signature_table"):
            write_banded_signature_table(_shingled(spark, docs),
                                         f"{base}/sig")
        with run.tracer.span("similarity.write_ivf_index"):
            write_ivf_index(_vectors(spark, range(len(vecs)), vecs,
                                     "vec_id"),
                            f"{base}/ivf", nlist=p["nlist"])

    run.phase("setup")
    _, problems = run.op("setup", setup)
    if problems:
        raise RuntimeError(f"setup failed: {problems}")
    expect(problems, "signatures stored",
           spark.read.parquet(f"{base}/sig/sigs").count(), len(docs))
    expect(problems, "vectors indexed",
           spark.read.parquet(f"{base}/ivf/lists").count(), len(vecs))
    run.ledger.settle("build", problems)

    for i in run.cycles():
        _admit_cycle(run, base, docs, vecs, i, f"{work}/cycle", p)


WORKLOADS = {"nvd_refresh_read": nvd_refresh_read,
             "corpus_admit": corpus_admit}
