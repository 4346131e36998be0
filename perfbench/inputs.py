"""Seeded benchmark inputs: a code-shaped corpus and df-classed queries.

The corpus has the engine's input shape ``(repo, path, commit, lang,
content)`` plus a stable ``docID`` and the generator row number ``i``.
Every column is a pure Spark expression of ``(seed, i)``, so the same seed
gives the same rows at any parallelism, and a doc range ``[lo, hi)`` can be
generated on its own (the ingest workload's appends).

Token mix per document:

* 2-10 keyword stopwords drawn Zipf-like from ``KEYWORDS``: the heaviest
  terms (df from ~25 % to ~90 % of the corpus), which drive block-max
  pruning and the theta-seeding pre-pass;
* 16-112 identifiers drawn from a Zipf(s~1) vocabulary of ``VOCAB`` names
  such as ``read_buffer7``: ranks below ~100 are heavy, the long tail is
  mid and rare;
* one unique token ``u<i>`` (df 1), so the rare class always exists.

Queries are drawn from the built index dictionary (never from the
generator's own knowledge), by df class, with 1-4 terms of one class.
A workload sends them in pool order, so every run sees the same mix.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

VOCAB = 32768
KEYWORDS = ["def", "return", "self", "if", "for", "import", "class", "in"]
_PREFIXES = [
    "get", "set", "read", "write", "parse", "load", "make", "init", "find",
    "scan", "push", "pop", "open", "close", "merge", "split", "sort", "emit",
    "check", "build", "flush", "encode", "decode", "score",
]
_NOUNS = [
    "buffer", "index", "query", "token", "block", "shard", "segment", "vector",
    "weight", "cluster", "posting", "codec", "reader", "writer", "cache",
    "filter", "collector", "searcher", "doc", "field", "mapper", "chunk",
    "heap", "rank", "freq", "norm", "node", "frame", "batch", "stream",
    "table", "row", "column", "schema", "plan", "task", "stage", "job",
    "lease", "span",
]
LANGS = ["py", "java", "js", "go", "rs", "c"]

# df classes as a share of the corpus: rare <= RARE_MAX_DF_SHARE < mid <=
# HEAVY_MIN_DF_SHARE < heavy. Rare terms fit the exhaustive kernel path;
# mid terms make multi-block lists; heavy terms (keywords and the Zipf head)
# push buckets past the exhaustive threshold into block-max MaxScore and,
# with 2+ terms, the theta-seeding pre-pass.
DF_CLASSES = ("rare", "mid", "heavy")
CELLS = 4 * len(DF_CLASSES)  # (df class, 1-4 terms) query cells
RARE_MAX_DF_SHARE = 0.001
HEAVY_MIN_DF_SHARE = 0.05


def _uniform(seed: int, *parts: Column) -> Column:
    """Deterministic uniform double in [0, 1) from a hash of the parts."""
    h = F.xxhash64(F.lit(seed), *parts)
    return F.pmod(h, F.lit(1 << 31)).cast("double") / float(1 << 31)


def _zipf_rank(u: Column, n: int) -> Column:
    """Rank in [0, n) with P(r) ~ 1/(r+1): inverse CDF of the log-uniform."""
    r = F.floor(F.pow(F.lit(float(n + 1)), u)).cast("int") - 1
    return F.least(F.greatest(r, F.lit(0)), F.lit(n - 1))


def _ident(rank: Column) -> Column:
    """Identifier name of a vocabulary rank, e.g. ``read_buffer`` or
    ``merge_cache12``: prefix x noun, then a numeric suffix past 960."""
    pre = F.array(*[F.lit(p) for p in _PREFIXES])
    noun = F.array(*[F.lit(x) for x in _NOUNS])
    combos = len(_PREFIXES) * len(_NOUNS)
    base = F.concat(
        F.element_at(pre, (rank % len(_PREFIXES) + 1).cast("int")),
        F.lit("_"),
        F.element_at(noun, ((rank / len(_PREFIXES)).cast("int") % len(_NOUNS) + 1).cast("int")),
    )
    suffix = (rank / combos).cast("int")
    return F.when(suffix > 0, F.concat(base, suffix.cast("string"))).otherwise(base)


def generate_corpus(spark: SparkSession, seed: int, lo: int, hi: int) -> DataFrame:
    """Rows ``i`` in ``[lo, hi)`` of the seeded corpus."""
    df = spark.range(lo, hi).withColumnRenamed("id", "i")
    i = F.col("i")
    kw = F.array(*[F.lit(w) for w in KEYWORDS])
    n_kw = 2 + (F.pmod(F.xxhash64(F.lit(seed), F.lit("nkw"), i), F.lit(9))).cast("int")
    kws = F.transform(
        F.sequence(F.lit(0), n_kw - 1),
        lambda p: F.element_at(
            kw, _zipf_rank(_uniform(seed, F.lit("kw"), i, p), len(KEYWORDS)) + 1
        ),
    )
    n_body = 16 + (F.pmod(F.xxhash64(F.lit(seed), F.lit("nbody"), i), F.lit(97))).cast("int")
    body = F.transform(
        F.sequence(F.lit(0), n_body - 1),
        lambda p: _ident(_zipf_rank(_uniform(seed, F.lit("id"), i, p), VOCAB)),
    )
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (i % len(LANGS) + 1).cast("int"))
    content = F.concat(
        F.concat_ws(" ", kws), F.lit("("),
        F.concat_ws(", ", body), F.lit(") # u"), i.cast("string"),
    )
    out = df.select(
        i,
        F.concat(F.lit("org"), (i % 50).cast("string"), F.lit("/proj"),
                 (i % 13).cast("string")).alias("repo"),
        F.concat(F.lit("src/mod"), (i % 17).cast("string"), F.lit("/file"),
                 i.cast("string"), F.lit("."), lang).alias("path"),
        F.substring(F.sha2(F.concat(F.lit(f"commit-{seed}-"), i.cast("string")), 256),
                    1, 40).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )
    return out.withColumn("docID", F.xxhash64("repo", "path", "commit"))


def df_classes(dictionary_rows, n_docs: int) -> dict[str, list[str]]:
    """Split ``(term, df)`` dictionary pairs into the three df classes, each
    sorted by term so the draw is independent of collect order."""
    rare_max = max(1, int(n_docs * RARE_MAX_DF_SHARE))
    heavy_min = int(n_docs * HEAVY_MIN_DF_SHARE)
    out: dict[str, list[str]] = {c: [] for c in DF_CLASSES}
    for term, df in dictionary_rows:
        cls = "rare" if df <= rare_max else "heavy" if df > heavy_min else "mid"
        out[cls].append(term)
    for c in DF_CLASSES:
        out[c].sort()
        if not out[c]:
            raise ValueError(f"df class {c!r} is empty at {n_docs} docs")
    return out


def draw_queries(rng: random.Random, classes: dict[str, list[str]],
                 n: int) -> list[tuple[str, tuple[str, ...]]]:
    """``n`` distinct ``(df_class, terms)`` queries in a fixed rotation of
    the 12 (df class, 1-4 terms) cells, so any run of consecutive queries
    has the same mix whatever the seed; the seed picks the terms."""
    seen: set[tuple[str, ...]] = set()
    out: list[tuple[str, tuple[str, ...]]] = []
    while len(out) < n:
        cell = len(out) % CELLS
        cls = DF_CLASSES[cell % len(DF_CLASSES)]
        pool = classes[cls]
        terms = tuple(sorted(rng.sample(pool, min(len(pool), 1 + cell // len(DF_CLASSES)))))
        if terms not in seen:
            seen.add(terms)
            out.append((cls, terms))
    return out
