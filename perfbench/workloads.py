"""The benchmark workloads.

Each workload generates its inputs from the seed, names the DuckDB
views its oracles read, sets up (session start, input load and index
builds), and lists the query calls of one pass. A query call is a
``build`` that calls into one wimbd_spark module and returns a
DataFrame (the construct part) and a sink that runs it (the execute
part). Oracles are the repository registry's ``oracle_sql()`` texts
wherever the registry makes the same call, so Spark and DuckDB answer
over the same generated files.

Why these two, and what each bypasses:

- ``cli_scan``: the reference CLI verbs back to back over gzip JSONL
  shards: scan, tokenize/explode, aggregate, top-k, search, SimHash
  fingerprints, and a dedup written back out. The corpus is sized so
  that execution, in ``functions.text`` and ``operators``, and not
  plan construction, takes most of the time.
- ``index_serve``: build once, then small queries against the phrase,
  doclens and contamination indexes, plus embedding LSH pairs (seeded
  near-duplicate vectors) on a small vector table. Each answer
  reads a small slice, so fixed per-query cost (construction, eager
  jobs, job count) dominates, and a text-kernel change should leave it
  flat.

Every run pays a Spark start-up, plan compilation, several set-ups and
a warm-up (30 to 45 s of a run on 4 cores), so the near-duplicate and vector
operators ride along in these two rather than in a third workload:
SimHash fingerprints (an Arrow UDF) in ``cli_scan``, embedding LSH
pairs in ``index_serve``.
"""

from __future__ import annotations

import copy
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import gen


class Query:
    """One query call. ``build(ctx)`` returns the DataFrame. ``sink``,
    if given, is ``(ctx, df) -> None`` and runs it (default: collect);
    ``readback(ctx) -> rows`` then fetches what it wrote, after timing."""

    def __init__(self, name, module, build, oracle, sink=None, readback=None):
        self.name = name
        self.module = module
        self.build = build
        self.oracle = oracle
        self.sink = sink
        self.readback = readback


def _registry():
    import __spark_entry__

    return __spark_entry__


def _long(c: str):
    return F.col(c).cast("long").alias(c)


def phrase_counts_sql(phrases: list[str]) -> str:
    """The registry's phrase-count oracle shape for any phrase list."""
    e = _registry()
    return " UNION ALL ".join(
        f"""SELECT '{p}' AS phrase,
               CAST(coalesce(count_if({e._sql_phrase_match(p)}), 0) AS BIGINT) AS count
        FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL)"""
        for p in phrases
    )


def bm25_sql(query: str, k: int) -> str:
    """The registry's BM25 top-k oracle for any query string."""
    e = _registry()
    return f"""
      WITH {e._sql_bm25_ctes(query)}
      SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(sc AS DOUBLE) AS score,
             CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS INT) AS rank
      FROM bscored ORDER BY sc DESC, doc_id ASC LIMIT {k}
    """


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    spec: gen.CorpusSpec

    def generate(self, seed: int, data_dir: str) -> dict:
        """Write the inputs; return the document columns."""
        raise NotImplementedError

    def views(self, data_dir: str) -> dict[str, str]:
        """DuckDB view name -> SELECT over the generated files."""
        raise NotImplementedError

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def queries(self, ctx) -> list[Query]:
        raise NotImplementedError

    def warm_ctx(self, ctx):
        """The context the untimed warm-up calls run in."""
        return ctx


# ------------------------------------------------------------------ cli_scan


class CliScan(Workload):
    name = "cli_scan"
    spec = gen.CorpusSpec(
        n_docs=5_000, mean_tokens=60, tail_words=20_000, tail_share=0.3,
        exact_dup_rate=0.04, near_dup_rate=0.02, n_shards=8,
    )

    def generate(self, seed, data_dir):
        rng = np.random.default_rng(seed)
        docs = gen.make_documents(self.spec, rng)
        self.phrases = gen.make_phrases(rng, 4)
        gen.write_jsonl_shards(docs, os.path.join(data_dir, "shards"), self.spec.n_shards, rng)
        return docs

    def views(self, data_dir):
        return {
            "documents": (
                "SELECT CAST(id AS BIGINT) AS doc_id, text, source, lang FROM read_json("
                f"'{data_dir}/shards/*.jsonl.gz', format='newline_delimited', "
                "columns={id: 'VARCHAR', text: 'VARCHAR', source: 'VARCHAR', lang: 'VARCHAR'})"
            )
        }

    def setup(self, ctx):
        shards = os.path.join(ctx.data_dir, "shards")
        ctx.shards = sorted(os.path.join(shards, f) for f in os.listdir(shards))
        self._load(ctx)

    def warm_ctx(self, ctx):
        # one shard pays the first-call costs at an eighth of the scan
        warm = copy.copy(ctx)
        warm.shards = ctx.shards[:1]
        return warm

    def _load(self, ctx):
        from wimbd_spark.corpus import load_jsonl

        with ctx.spans.span("corpus.load"):
            ctx.docs = load_jsonl(ctx.spark, ctx.shards).withColumn(
                "doc_id", F.col("id").cast("long")
            )
        return ctx.docs

    def queries(self, ctx):
        from wimbd_spark.corpus import write_jsonl
        from wimbd_spark.functions.text import ngram_strings, tokenize
        from wimbd_spark.operators.count import search_regex_counts
        from wimbd_spark.operators.dedup import dedup_keep_first
        from wimbd_spark.operators.neardup import simhash_bits
        from wimbd_spark.operators.stats import corpus_stats
        from wimbd_spark.operators.topk import topk_ngrams
        from wimbd_spark.search import count_documents_for_each_phrase

        e = _registry()
        o = e.oracle_sql()
        load = self._load  # every verb reads the shards, as each CLI command does

        def unique_approx(c):
            grams = load(c).select(
                F.explode(ngram_strings(tokenize(F.col("text")), 3)).alias("ngram"))
            bound = F.lit(e.UNIQUE_APPROX_RSD * e.UNIQUE_APPROX_K)
            return grams.agg(
                F.countDistinct("ngram").alias("_exact"),
                F.approx_count_distinct("ngram", e.UNIQUE_APPROX_RSD).alias("_approx"),
            ).select(
                F.col("_exact").cast("long").alias("exact_count"),
                F.when(F.col("_exact") > 0,
                       F.abs(F.col("_approx") - F.col("_exact")) / F.col("_exact") <= bound)
                .otherwise(F.lit(True)).alias("approx_within_bound"),
            )

        def dedup_out(c):
            return os.path.join(c.work_dir, "dedup_out")

        def write_dedup(c, df):
            with c.spans.span("corpus.write"):
                write_jsonl(df, dedup_out(c), force=True)
            c.bytes_written += _dir_bytes(dedup_out(c))

        def read_dedup(c):
            import duckdb

            return duckdb.sql(
                f"SELECT CAST(id AS BIGINT), source FROM read_json('{dedup_out(c)}/part-*.json', "
                "columns={id: 'VARCHAR', source: 'VARCHAR'})"
            ).fetchall()

        return [
            Query("topk_ngrams_n3_k20", "operators.topk",
                  lambda c: topk_ngrams(load(c), n=3, k=20).select(
                      "ngram", _long("count"), _long("rank")),
                  o["topk_ngrams_n3_k20"]),
            Query("unique_ngrams_approx", "functions.text", unique_approx,
                  o["unique_ngrams_approx"]),
            Query("search_regex_counts", "operators.count",
                  lambda c: search_regex_counts(load(c), e.SEARCH_PATTERNS).select(
                      "pattern", _long("count")),
                  o["search_regex_counts"]),
            Query("corpus_stats", "operators.stats",
                  lambda c: corpus_stats(load(c)).select(
                      *[_long(k) for k in ("total_documents", "total_tokens", "total_bytes",
                                           "document_max_tokens", "document_min_tokens")]),
                  o["corpus_stats"]),
            Query("phrase_doc_counts", "search",
                  lambda c: count_documents_for_each_phrase(load(c), self.phrases).select(
                      "phrase", _long("count")),
                  phrase_counts_sql(self.phrases)),
            Query("simhash62", "operators.neardup",
                  lambda c: load(c).filter(
                      F.col("text").isNotNull() & (F.size(tokenize(F.col("text"))) > 0)
                  ).select(_long("doc_id"), simhash_bits(F.col("text"), 62).alias("simhash")),
                  o["simhash62"]),
            Query("dedup_exact_keepfirst", "operators.dedup",
                  lambda c: dedup_keep_first(load(c)).select("id", "text", "source", "lang"),
                  o["dedup_exact_keepfirst"], sink=write_dedup, readback=read_dedup),
        ]


# --------------------------------------------------------------- index_serve


class IndexServe(Workload):
    name = "index_serve"
    spec = gen.CorpusSpec(
        n_docs=1_500, mean_tokens=55, tail_words=2_000, tail_share=0.1,
        exact_dup_rate=0.01, near_dup_rate=0.02, n_vectors=1_000, vec_dup_rate=0.05,
    )
    def generate(self, seed, data_dir):
        rng = np.random.default_rng(seed)
        docs = gen.make_documents(self.spec, rng)
        gen.write_parquet(docs, os.path.join(data_dir, "documents.parquet"))
        gen.write_parquet(gen.make_embeddings(self.spec, rng),
                          os.path.join(data_dir, "embeddings.parquet"))
        self.phrases = gen.make_phrases(rng, 4)
        self.batch = gen.make_phrases(rng, 40)
        self.bm25_query = " ".join(rng.choice(gen.FIXTURE_WORDS[:30], 4))
        return docs

    def views(self, data_dir):
        return {n: f"SELECT * FROM '{data_dir}/{n}.parquet/*.parquet'"
                for n in ("documents", "embeddings")}

    def setup(self, ctx):
        from wimbd_spark.index import build_phrase_index
        from wimbd_spark.operators.bm25 import build_doclen_stats
        from wimbd_spark.session import load_tables

        with ctx.spans.span("session.plan"):
            ctx.tables = load_tables(ctx.spark, ctx.data_dir, names=["documents", "embeddings"],
                                     register_views=False)
        docs = ctx.tables["documents"]
        ix = os.path.join(ctx.work_dir, "indexes")
        shutil.rmtree(ix, ignore_errors=True)
        ctx.paths = {k: os.path.join(ix, k) for k in ("phrase", "contam")}
        builds = [
            ("phrase", lambda: build_phrase_index(docs, ctx.paths["phrase"])),
            ("doclens", lambda: build_doclen_stats(ctx.spark, ctx.paths["phrase"])),
            ("contam", lambda: build_phrase_index(
                docs.filter(F.col("source") != "src0"), ctx.paths["contam"])),
        ]
        for name, build in builds:
            with ctx.spans.span(f"index.build.{name}"):
                build()
        ctx.index_bytes = _dir_bytes(ix)

    def queries(self, ctx):
        from wimbd_spark.functions.text import ngram_strings, tokenize
        from wimbd_spark.index import count_documents_for_each_phrase_indexed, load_phrase_index
        from wimbd_spark.operators.bm25 import bm25_topk_indexed
        from wimbd_spark.operators.dedup import contamination_rate_indexed
        from wimbd_spark.operators.similarity import cosine_pairs_lsh

        o = _registry().oracle_sql()

        def index(c, name):
            with c.spans.span("session.plan"):
                return load_phrase_index(c.spark, c.paths[name])

        def phrase_counts(phrases):
            return lambda c: count_documents_for_each_phrase_indexed(
                index(c, "phrase"), phrases).select("phrase", _long("count"))

        def bm25(query):
            return lambda c: bm25_topk_indexed(c.spark, c.paths["phrase"], query, k=10).select(
                _long("doc_id"), "score", F.col("rank").cast("int").alias("rank"))

        def contamination(c):
            docs = c.tables["documents"]
            evalset = docs.filter(F.col("source") == "src0").select(
                F.explode(ngram_strings(tokenize(F.col("text")), 4)).alias("phrase"))
            return contamination_rate_indexed(
                index(c, "contam"), evalset, "phrase", slop=1, lengths=[4]
            ).select(_long("contaminated"), _long("total"), "rate")

        return [
            Query("phrase_index_counts", "index", phrase_counts(self.phrases),
                  phrase_counts_sql(self.phrases)),
            Query("phrase_batch_counts", "index", phrase_counts(self.batch),
                  phrase_counts_sql(self.batch)),
            Query("bm25_index_top10", "operators.bm25", bm25(self.bm25_query),
                  bm25_sql(self.bm25_query, 10)),
            Query("contamination_slop1_indexed", "operators.dedup", contamination,
                  o["contamination_slop1_indexed"]),
            Query("embedding_cosine_pairs_lsh", "operators.similarity",
                  lambda c: cosine_pairs_lsh(
                      c.tables["embeddings"], threshold=0.45, nbits=6, dim=64
                  ).select(_long("id_a"), _long("id_b")),
                  o["embedding_cosine_pairs_lsh"]),
        ]


WORKLOADS = {w.name: w for w in (CliScan, IndexServe)}

#: queries whose result rows are verified pairs, for neardup.pair_yield
PAIR_QUERIES = {"embedding_cosine_pairs_lsh"}
