"""The three workloads, each one closed-loop client on the driver.

* ``search-single`` - sequential ``wand.search(...).collect()`` on a warmed
  index: per-query fixed cost (job scheduling, theta pre-pass, Python
  worker round trip) dominates.
* ``search-batch`` - sequential 64-query ``msearch(...).collect()`` on the
  same kind of index: the job cost is amortized, posting scan, decode and
  the scoring kernels dominate.
* ``ingest`` - after a warm-up build and warm-up reads, a timed
  ``build_index`` then ``append_to_index`` deltas, each followed by reads on
  the freshly loaded, unwarmed index.

Every read is checked against the exact oracle after its loop ends, so the
loop's wall time holds only engine calls.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F

from neural_search_spark.analysis.tokenizer import tokens_with_tf
from neural_search_spark.index.build import Index, build_index, index_stats
from neural_search_spark.index.catalog import Manifest
from neural_search_spark.index.merge import append_to_index
from neural_search_spark.query import msearch as msearch_mod, wand

import inputs
from oracle import ExactBM25, collect_oracle_input, matches
from tracing import Tracer

K = 10
# Postings per bucket below which the kernel brute-forces a bucket. The
# engine default (8192) is sized for the buckets of large indexes; on the
# benchmark's 2k- and 4k-doc indexes (8 buckets of 250-500 docs) it would
# send every query down the exhaustive path. Scaled to the index, multi-term
# heavy queries take block-max MaxScore and the theta-seeding pre-pass as
# they do at scale, while rare, mid and single-term queries stay exhaustive.
EXACT_THRESHOLD = 64


@dataclass(frozen=True)
class Sizes:
    search_docs: int = 4000      # served index for the two search workloads
    pool: int = 240              # distinct queries per seed, 80 per df class
    warm_queries: int = 3        # reads inside set-up, after warmup()
    batch: int = 64              # queries per msearch request
    ingest_base: int = 2000      # docs in the timed base build
    appends: int = 1             # append_to_index calls after the build
    append_docs: int = 100       # docs per append (5 % of the base)


FULL = Sizes()
TINY = Sizes(search_docs=2000, pool=30, warm_queries=2, batch=8,
             ingest_base=2000, appends=2, append_docs=100)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def live_index_bytes(index_dir: str) -> int:
    """Bytes of the snapshots the manifest currently points at."""
    man = Manifest.load(index_dir)
    return sum(dir_bytes(os.path.join(index_dir, t, s)) for t, s in man.current.items())


def postings_snapshot(index_dir: str) -> str:
    return os.path.join(index_dir, "postings", Manifest.load(index_dir).current["postings"])


def postings_files(index_dir: str) -> set[str]:
    root = os.path.join(index_dir, "postings")
    return {os.path.join(r, f) for r, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")}


@dataclass
class Bench:
    """One run's state: the session, its work dir, the seeded inputs and
    the outcome counters every check reports into."""

    spark: SparkSession
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    sizes: Sizes
    perturb: bool = False          # corrupt the first checked result (self-test)
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)  # handed to the traced probes

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def check_topk(self, oracle: ExactBM25, terms, got: list[tuple[int, float]]) -> None:
        if self.perturb and got:
            self.perturb = False
            got = [(got[0][0], got[0][1] * (1 + 1e-6))] + got[1:]
        self.check(matches(oracle.topk(terms, K), got))

    def write_corpus(self, name: str, lo: int, hi: int):
        out = self.path(name)
        inputs.generate_corpus(self.spark, self.seed, lo, hi).write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out)


def record_build(b: Bench, index: Index) -> None:
    """Untimed facts about a finished build, for the traced probes."""
    b.state.update(built=index, build_bytes=dir_bytes(index.index_dir),
                   built_postings_bytes=dir_bytes(postings_snapshot(index.index_dir)))


def timed_append(b: Bench, index_dir: str, delta, rid: str) -> Index:
    """``append_to_index`` timed alone; the files, bytes and manifest
    history it added are recorded around it for the traced probes."""
    before = {"files": postings_files(index_dir), "bytes": dir_bytes(index_dir),
              "hist": len(Manifest.load(index_dir).history),
              "snap": postings_snapshot(index_dir)}
    t0 = time.perf_counter()
    with b.tracer.span("append_to_index", "index.merge", rid):
        index = append_to_index(b.spark, index_dir, delta)
    dt = time.perf_counter() - t0
    b.state.setdefault("appends", []).append({
        "s": dt, "bytes": dir_bytes(index_dir) - before["bytes"],
        "new_files": sorted(postings_files(index_dir) - before["files"]),
        "hist0": before["hist"], "hist1": len(Manifest.load(index_dir).history),
        "postings_before": before["snap"], "postings_after": postings_snapshot(index_dir),
    })
    return index


def search_request(b: Bench, index: Index, terms, rid: str) -> list[tuple[int, float]]:
    with b.tracer.span("search", "bench", rid):
        with b.tracer.span("wand.search", "query.wand"):
            df = wand.search(index, list(terms), k=K, exact_threshold=EXACT_THRESHOLD)
        with b.tracer.span("wand.collect", "query.wand"):
            rows = df.collect()
    return [(int(r["docID"]), float(r["score"])) for r in rows]


def msearch_request(b: Bench, index: Index, batch, rid: str) -> dict[str, list]:
    qspec = {f"q{j:03d}": list(terms) for j, (_, terms) in enumerate(batch)}
    with b.tracer.span("msearch", "bench", rid):
        with b.tracer.span("msearch.msearch", "query.msearch"):
            df = msearch_mod.msearch(index, qspec, k=K, exact_threshold=EXACT_THRESHOLD)
        with b.tracer.span("msearch.collect", "query.msearch"):
            rows = df.collect()
    out: dict[str, list] = {q: [] for q in qspec}
    for r in rows:
        out[r["query_id"]].append((int(r["docID"]), float(r["score"])))
    return out


def prepare_queries(b: Bench, index: Index, corpus) -> None:
    """Untimed: df classes from the index dictionary, the seeded query pool,
    the oracle input and the content size of ``corpus``."""
    with b.tracer.span("prepare queries", "bench"):
        dic = index.dict_table().select("term", "df").toPandas()
        classes = inputs.df_classes(zip(dic["term"], dic["df"].astype(int)), index.n_docs)
        pool = inputs.draw_queries(random.Random(b.seed), classes, b.sizes.pool)
        terms = {t for _, q in pool for t in q}
        tf_pdf, dl_pdf = collect_oracle_input(corpus, terms)
        content_bytes = corpus.agg(F.sum(F.octet_length("content"))).collect()[0][0]
    b.state.update(pool=pool, tf_pdf=tf_pdf, dl_pdf=dl_pdf,
                   content_bytes=int(content_bytes))
    b.info["df_class_sizes"] = {c: len(v) for c, v in classes.items()}


def closed_loop(seconds: float, send, cycle: int) -> tuple[list[float], list, float]:
    """One client: ``send(j)`` makes request j only after request j-1
    returned. Runs whole cycles of ``cycle`` requests, at least one, until
    ``seconds`` have passed, so every run sends the same request mix.
    Returns latencies, results and wall time."""
    lat, out = [], []
    t_start = time.perf_counter()
    while not lat or time.perf_counter() - t_start < seconds or len(lat) % cycle:
        t0 = time.perf_counter()
        out.append(send(len(lat)))
        lat.append(time.perf_counter() - t0)
    return lat, out, time.perf_counter() - t_start


def served_index(b: Bench, session_s: float) -> Index:
    """Set-up of both search workloads: the timed corpus generation and
    build, then the untimed oracle prep, then warmup and a few warm reads
    (timed)."""
    n = b.sizes.search_docs
    t0 = time.perf_counter()
    with b.tracer.span("generate corpus", "bench"):
        corpus = b.write_corpus("corpus", 0, n)
    t1 = time.perf_counter()
    with b.tracer.span("build_index", "index.build"):
        index = build_index(b.spark, corpus, b.path("index"), resume=False)
    gen_s, build_s = t1 - t0, time.perf_counter() - t1
    record_build(b, index)
    prepare_queries(b, index, corpus)
    oracle = ExactBM25(b.state["tf_pdf"], b.state["dl_pdf"], k1=index.k1, b=index.b)
    warm = [terms for _, terms in b.state["pool"][-b.sizes.warm_queries:]]
    t0 = time.perf_counter()
    with b.tracer.span("warmup", "query.wand"):
        index.warmup()
    warm_rows = [search_request(b, index, terms, f"warm{j}") for j, terms in enumerate(warm)]
    warm_s = time.perf_counter() - t0
    for terms, rows in zip(warm, warm_rows):
        b.check_topk(oracle, terms, rows)
    b.e2e["setup_s"] = session_s + gen_s + build_s + warm_s
    b.e2e["index_docs_per_s"] = n / build_s
    b.e2e["index_bytes_per_content_byte"] = live_index_bytes(index.index_dir) / b.state["content_bytes"]
    b.info.update(setup_gen_s=gen_s, setup_build_s=build_s, setup_warm_s=warm_s)
    b.state.update(index=index, corpus=corpus, oracle=oracle)
    return index


def run_search_single(b: Bench, session_s: float) -> None:
    index = served_index(b, session_s)
    pool, oracle = b.state["pool"], b.state["oracle"]

    def send(j):
        terms = pool[j % len(pool)][1]
        return terms, search_request(b, index, terms, f"q{j}")

    lat, done, wall = closed_loop(b.seconds, send, inputs.CELLS)
    with b.tracer.span("oracle check", "bench"):
        for terms, rows in done:
            b.check_topk(oracle, terms, rows)
    b.e2e.update(search_p50_s=statistics.median(lat), search_qps=len(lat) / wall)
    b.info.update(samples=len(lat), latencies=lat)


def run_search_batch(b: Bench, session_s: float) -> None:
    index = served_index(b, session_s)
    pool, oracle, size = b.state["pool"], b.state["oracle"], b.sizes.batch

    def send(j):
        batch = [pool[(j * size + i) % len(pool)] for i in range(size)]
        return batch, msearch_request(b, index, batch, f"b{j}")

    lat, done, wall = closed_loop(b.seconds, send, 1)
    with b.tracer.span("oracle check", "bench"):
        for batch, res in done:
            for j, (_, terms) in enumerate(batch):
                b.check_topk(oracle, terms, res[f"q{j:03d}"])
    b.e2e.update(search_p50_s=statistics.median(lat), search_qps=len(lat) * size / wall)
    b.info.update(samples=len(lat), msearch_qps=b.e2e["search_qps"],
                  msearch_batch_p50_s=b.e2e["search_p50_s"])


def run_ingest(b: Bench, session_s: float) -> None:
    sz = b.sizes
    n0 = sz.ingest_base
    ends = [n0 + (j + 1) * sz.append_docs for j in range(sz.appends)]
    with b.tracer.span("generate corpus", "bench"):
        full = b.write_corpus("corpus", 0, ends[-1])
    base = full.where(F.col("i") < n0)
    # set-up: the process's first build (of one delta's worth of docs) pays
    # its warm-up - JVM class loading and JIT, Python worker start - so the
    # timed build and append measure indexing, not warm-up
    t0 = time.perf_counter()
    with b.tracer.span("warm-up build", "index.build"):
        build_index(b.spark, full.where(F.col("i") < sz.append_docs), b.path("warm-up"),
                    resume=False)
    warmup_s = time.perf_counter() - t0
    idx_dir = b.path("index")
    t0 = time.perf_counter()
    with b.tracer.span("build_index", "index.build"):
        index = build_index(b.spark, base, idx_dir, resume=False)
    build_s = time.perf_counter() - t0
    record_build(b, index)
    # untimed, between the timed phases: queries from the base dictionary,
    # oracle input over the full corpus (each later state is a prefix of it)
    prepare_queries(b, index, full)
    tf_pdf, dl_pdf = b.state["tf_pdf"], b.state["dl_pdf"]
    oracles = [ExactBM25.upto(tf_pdf, dl_pdf, end, k1=index.k1, b=index.b) for end in ends]
    pool = b.state["pool"]
    # set-up, continued: a few reads of the base index warm the query path,
    # so the reads after each append pay for the fresh index, not warm-up
    warm = [terms for _, terms in pool[-sz.warm_queries:]]
    t0 = time.perf_counter()
    warm_rows = [search_request(b, index, terms, f"warm{j}") for j, terms in enumerate(warm)]
    warmup_s += time.perf_counter() - t0
    base_oracle = ExactBM25.upto(tf_pdf, dl_pdf, n0, k1=index.k1, b=index.b)
    for terms, rows in zip(warm, warm_rows):
        b.check_topk(base_oracle, terms, rows)
    lat, done, read_wall = [], [], 0.0
    for j, end in enumerate(ends):
        delta = full.where((F.col("i") >= end - sz.append_docs) & (F.col("i") < end))
        index = timed_append(b, idx_dir, delta, f"append{j}")

        def send(r, index=index, j=j):
            terms = pool[(len(lat) + r) % len(pool)][1]
            return j, terms, search_request(b, index, terms, f"a{j}r{r}")

        phase_lat, phase_done, wall = closed_loop(b.seconds / sz.appends, send, inputs.CELLS)
        lat += phase_lat
        done += phase_done
        read_wall += wall
    with b.tracer.span("oracle check", "bench"):
        for j, terms, rows in done:
            b.check_topk(oracles[j], terms, rows)
        # index invariants over the final corpus: every (doc, term) pair is
        # one posting, every docmap hash is the hash of its source row
        n_postings = index_stats(index).collect()[0]["n_postings"]
        b.check(n_postings == tokens_with_tf(full.select("docID", "content")).count())
        bad = (index.docmap.join(full.select("docID", F.sha2("content", 256).alias("src")),
                                 "docID", "full_outer")
               .where(F.col("sha256").isNull() | F.col("src").isNull()
                      | (F.col("sha256") != F.col("src"))).count())
        b.check(bad == 0)
    appended = sz.appends * sz.append_docs
    append_s = [a["s"] for a in b.state["appends"]]
    b.e2e.update(
        setup_s=session_s + warmup_s,
        search_p50_s=statistics.median(lat),
        search_qps=len(lat) / read_wall,
        index_docs_per_s=ends[-1] / (build_s + sum(append_s)),
        index_bytes_per_content_byte=live_index_bytes(idx_dir) / b.state["content_bytes"],
    )
    b.info.update(samples=len(lat), latencies=lat, warmup_s=warmup_s, build_s=build_s,
                  append_s=append_s,
                  build_docs_per_s=n0 / build_s,
                  append_docs_per_s=appended / sum(append_s))
    b.state.update(index=index, corpus=full, oracle=oracles[-1])


WORKLOADS = {
    "search-single": run_search_single,
    "search-batch": run_search_batch,
    "ingest": run_ingest,
}
