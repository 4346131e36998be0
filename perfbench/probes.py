"""Per-layer probes of the traced run, timed from outside each module.

Each probe calls a layer's public functions on the run's own index, corpus
and query pool after the workload loop, inside a span of that layer, and
returns named numbers. Results the probes compute (driver-side kernels,
counter runs) are checked against the oracle like any other read.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import token_runs
from neural_search_spark.index import codec
from neural_search_spark.index.build import index_stats, load_index
from neural_search_spark.index.catalog import Manifest
from neural_search_spark.query import msearch as msearch_mod, wand

import inputs
from tracing import LAYERS, span_cost_s
from workloads import EXACT_THRESHOLD, K, Bench, msearch_request, search_request, timed_append

PROBE_CELLS = slice(3, 9)  # pool cells of the 2- and 3-term query of each df class
OVERHEAD_REQUESTS = 2    # untraced/traced request pairs (msearch batches: 1)
MIN_PROBE_S = 0.3        # minimum timed span of each codec loop
LOAD_REPS = 3
STAGES = ("docmap", "doclens", "stats", "postings_raw", "postings", "dictionary")
COUNTERS = ("blocks_total", "blocks_decoded", "postings_total", "postings_decoded")


def _timed(fn, reps: int) -> float:
    """Median seconds of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _per_pass(fn) -> float:
    """Seconds per call, repeating until the loop spans ``MIN_PROBE_S``."""
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < MIN_PROBE_S:
        fn()
        n += 1
    return (time.perf_counter() - t0) / n


def _topk(frames: list[pd.DataFrame]) -> list[tuple[int, float]]:
    res = pd.concat(frames, ignore_index=True).sort_values(
        ["score", "docID"], ascending=[False, True]).head(K)
    return list(zip(res["docID"].astype(np.int64).tolist(), res["score"].tolist()))


def _stage_walls(history: list[dict], prefix: str) -> dict[str, float]:
    out = {f"{prefix}.{s}_s": 0.0 for s in STAGES}
    for h in history:
        if h.get("stage") in STAGES:
            out[f"{prefix}.{h['stage']}_s"] += float(h.get("wall_s", 0.0))
    return out


def _n_postings(b: Bench, paths: list[str]) -> int:
    if not paths:
        return 0
    return int(b.spark.read.parquet(*paths).agg(F.sum(
        F.aggregate("blocks", F.lit(0).cast("long"), lambda acc, x: acc + x["n"])
    )).collect()[0][0] or 0)


def probe_queries(b: Bench) -> list[tuple[str, tuple[str, ...]]]:
    """The queries the wand and msearch probes share: two per df class."""
    return b.state["pool"][PROBE_CELLS]


def probe_session(b: Bench) -> dict:
    with b.tracer.span("noop jobs", "session"):
        noop = _timed(lambda: b.spark.range(1).collect(), 15)
    return {"session.noop_job_ms": 1000 * noop}


def probe_tokenizer(b: Bench) -> dict:
    corpus = b.state["corpus"].select("docID", "content")
    with b.tracer.span("token_runs -> noop", "analysis.tokenizer"):
        t = _timed(lambda: token_runs(corpus).write.format("noop").mode("overwrite").save(), 2)
    tokens = int(b.state["dl_pdf"]["doclen"].sum())
    return {"tokenizer.token_runs_s": t, "tokenizer.tokens_per_s": tokens / t}


def probe_build(b: Bench) -> dict:
    """Stage walls from the manifest history of the (last) timed build, and
    the size of what it committed."""
    built = b.state["built"]
    history = Manifest.load(built.index_dir).history
    end = next(i for i, h in enumerate(history) if h.get("stage") == "build-complete")
    out = _stage_walls(history[:end], "build")
    with b.tracer.span("index_stats", "index.build"):
        st = index_stats(built).collect()[0]
    out.update({
        "build.n_postings": int(st["n_postings"]),
        "build.n_blocks": int(st["n_blocks"]),
        "build.bytes_per_posting": b.state["built_postings_bytes"] / int(st["n_postings"]),
        "catalog.bytes_written.build": b.state["build_bytes"],
    })
    return out


def probe_codec(b: Bench) -> dict:
    """Decode and encode throughput on the heavy query terms' real blocks."""
    heavy = sorted({t for c, q in b.state["pool"] if c == "heavy" for t in q})
    pdf = b.state["index"].postings.where(F.col("term").isin(heavy)).select("blocks").toPandas()
    streams = [
        (bytes(blk["docs"]), int(codec.to_biased(np.array([blk["doc0"]]))[0]),
         bytes(blk["tfs"]), bytes(blk["dls"]))
        for row in pdf["blocks"] for blk in row
    ]
    in_bytes = sum(len(d) + len(t) + len(dl) for d, _, t, dl in streams)

    def decode():
        for d, base, t, dl in streams:
            codec.delta_varint_decode(d, base)
            codec.varint_decode(t)
            codec.varint_decode(dl)

    values = np.concatenate([codec.varint_decode(s) for d, _, t, dl in streams for s in (d, t, dl)])
    out_bytes = len(codec.varint_encode_with_sizes(values)[0])
    with b.tracer.span("codec loops", "index.codec"):
        dec_s = _per_pass(decode)
        enc_s = _per_pass(lambda: codec.varint_encode_with_sizes(values))
    return {"codec.decode_mb_per_s": in_bytes / dec_s / 1e6,
            "codec.encode_mb_per_s": out_bytes / enc_s / 1e6}


def probe_catalog(b: Bench) -> dict:
    idx_dir = b.state["index"].index_dir
    with b.tracer.span("load_index", "index.catalog"):
        t = _timed(lambda: load_index(b.spark, idx_dir), LOAD_REPS)
    return {"catalog.load_index_s": t}


def probe_wand(b: Bench) -> dict:
    """Per df class: the search split into driver-collected scan, driver-run
    kernel and the rest; pruning counters; Spark jobs per search. Keeps
    each query's profile for the msearch probe."""
    index, oracle = b.state["index"], b.state["oracle"]
    sc = b.spark.sparkContext
    tracker = sc.statusTracker()
    scorer = wand.make_bucket_scorer(index.n_docs, index.avgdl, K, exact_threshold=EXACT_THRESHOLD,
                                     k1=index.k1, b=index.b)
    out, profiles = {}, b.state.setdefault("profiles", {})
    for cls in inputs.DF_CLASSES:
        rec = {k: [] for k in ("scan", "kernel", "overhead", "decoded", "total", "skip", "jobs")}
        queries = [q for c, q in probe_queries(b) if c == cls]
        for j, terms in enumerate(queries):
            group = f"perfbench-{cls}-{j}"
            sc.setJobGroup(group, "jobs per query")
            try:
                t0 = time.perf_counter()
                rows = search_request(b, index, terms, group)
                search_s = time.perf_counter() - t0
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            b.check_topk(oracle, terms, rows)
            rec["jobs"].append(len(tracker.getJobIdsForGroup(group)))
            with b.tracer.span("profile_search", "query.wand", group):
                rows, prof = wand.profile_search(index, list(terms), k=K,
                                                 exact_threshold=EXACT_THRESHOLD)
            profiles[terms] = prof
            b.check_topk(oracle, terms, [(int(r["docID"]), float(r["score"])) for r in rows])
            t0 = time.perf_counter()
            with b.tracer.span("scan to driver", "query.wand", group):
                pdf = index.postings.where(F.col("term").isin(list(terms))).toPandas()
            t1 = time.perf_counter()
            with b.tracer.span("driver kernel", "query.wand", group):
                frames = [scorer(g) for _, g in pdf.groupby("bucket")]
            t2 = time.perf_counter()
            b.check_topk(oracle, terms, _topk(frames))
            rec["scan"].append(t1 - t0)
            rec["kernel"].append(t2 - t1)
            rec["overhead"].append(search_s - (t2 - t0))
            rec["decoded"].append(prof["postings_decoded"])
            rec["total"].append(prof["postings_total"])
            rec["skip"].append(prof["block_skip_ratio"])
        med = {k: statistics.median(v) for k, v in rec.items()}
        out.update({
            f"session.jobs_per_query.{cls}": med["jobs"],
            f"wand.scan_s.{cls}": med["scan"],
            f"wand.kernel_s.{cls}": med["kernel"],
            f"wand.overhead_s.{cls}": med["overhead"],
            f"wand.postings_decoded.{cls}": med["decoded"],
            f"wand.postings_total.{cls}": med["total"],
            f"wand.block_skip_ratio.{cls}": med["skip"],
        })
    return out


def probe_msearch(b: Bench) -> dict:
    """Driver-run multi-query kernel, and blocks the batch decodes against
    the sum its queries decode one by one (profiled by ``probe_wand``)."""
    index, oracle = b.state["index"], b.state["oracle"]
    qspec = {f"q{j:03d}": list(terms) for j, (_, terms) in enumerate(probe_queries(b))}
    accs = {name: b.spark.sparkContext.accumulator(0) for name in COUNTERS}
    with b.tracer.span("msearch counters", "query.msearch"):
        rows = msearch_mod.msearch(index, qspec, k=K, exact_threshold=EXACT_THRESHOLD,
                                   counters=accs).collect()
    got = {q: [] for q in qspec}
    for r in rows:
        got[r["query_id"]].append((int(r["docID"]), float(r["score"])))
    for q, terms in qspec.items():
        b.check_topk(oracle, terms, got[q])
    standalone = sum(b.state["profiles"][terms]["blocks_decoded"] for _, terms in probe_queries(b))
    all_terms = sorted({t for terms in qspec.values() for t in terms})
    pdf = index.postings.where(F.col("term").isin(all_terms)).toPandas()
    scorer = msearch_mod.make_multi_scorer(qspec, index.n_docs, index.avgdl, K, EXACT_THRESHOLD,
                                           k1=index.k1, b=index.b)
    t0 = time.perf_counter()
    with b.tracer.span("driver multi kernel", "query.msearch"):
        res = pd.concat([scorer(g) for _, g in pdf.groupby("bucket")], ignore_index=True)
    kernel_s = time.perf_counter() - t0
    for q, terms in qspec.items():
        b.check_topk(oracle, terms, _topk([res[res["query_id"] == q]]))
    return {"msearch.kernel_s": kernel_s,
            "msearch.decode_share_ratio": accs["blocks_decoded"].value / standalone}


def probe_merge(b: Bench) -> dict:
    """Append walls, stage walls and bytes per append; postings the append
    wrote per posting it added. The search workloads append once here."""
    if not b.state.get("appends"):
        n = b.sizes.search_docs
        delta = b.write_corpus("corpus-probe-delta", n, n + n // 20)
        timed_append(b, b.state["index"].index_dir, delta, "probe-append")
    history = Manifest.load(b.state["index"].index_dir).history
    walls, ratios = [], []
    for a in b.state["appends"]:
        walls.append(_stage_walls(history[a["hist0"]:a["hist1"]], "merge"))
        added = _n_postings(b, [a["postings_after"]]) - _n_postings(b, [a["postings_before"]])
        ratios.append(_n_postings(b, a["new_files"]) / added)
    out = {k: statistics.median(w[k] for w in walls) for k in walls[0]}
    out.update({
        "merge.append_s": statistics.median(a["s"] for a in b.state["appends"]),
        "merge.rewritten_per_new_posting": statistics.median(ratios),
        "catalog.bytes_written.append": statistics.median(a["bytes"] for a in b.state["appends"]),
    })
    return out


def probe_overhead(b: Bench, workload: str) -> dict:
    """The same requests untraced and traced, interleaved: the traced
    median latency minus the untraced one."""
    index, pool = b.state["index"], b.state["pool"]
    lat = {False: [], True: []}
    n = 1 if workload == "search-batch" else OVERHEAD_REQUESTS
    for j in range(n):
        if workload == "search-batch":
            batch = pool[j * b.sizes.batch:(j + 1) * b.sizes.batch]
            call = lambda rid, x=batch: msearch_request(b, index, x, rid)  # noqa: E731
        else:
            call = lambda rid, x=pool[j][1]: search_request(b, index, x, rid)  # noqa: E731
        for traced in (False, True):
            b.tracer.enabled = traced
            t0 = time.perf_counter()
            call(f"overhead{j}")
            lat[traced].append(time.perf_counter() - t0)
    b.tracer.enabled = True
    return {"trace.overhead_s": statistics.median(lat[True]) - statistics.median(lat[False]),
            "trace.span_cost_us": 1e6 * span_cost_s()}


def run_probes(b: Bench, workload: str, session_s: float) -> dict:
    out = {"session.start_s": session_s}
    for probe in (probe_session, probe_tokenizer, probe_build, probe_codec,
                  probe_catalog, probe_wand, probe_msearch):
        out.update(probe(b))
    out.update(probe_overhead(b, workload))
    out.update(probe_merge(b))  # last: on the search workloads it appends
    out.update({f"{LAYERS[layer]}.self_s": s for layer, s in b.tracer.self_times().items()})
    return out
