"""``hybrid_serving`` workload: lexical + vector search beside index adds.

Set-up cleans a seeded corpus with the LLM-data pipeline (quality score,
quality filter, exact and MinHash near-duplicate removal) and builds a
persisted text index and IVF index over what survives.  The warm-up
sends one search and one add; the added batch stays indexed, so every
timed search runs against a grown index.  The timed part is a closed
loop with one client that repeats the mix search, search, add
(``MIX``):

- search: ``text_index_search_batch`` + ``ivf_index_search`` +
  ``rrf_fuse`` over a batch of queries with Zipf-skewed terms;
- add: ``text_index_add`` + ``ivf_index_add`` of a batch of new
  documents.

The last search's text-index results are checked against
``bm25_top_docs`` brute force over the documents indexed at that
moment; the planted exact copies must all be removed by the cleaning.
"""

from __future__ import annotations

import os
import sys

import numpy as np

import gen

SIZES = {
    "full": dict(n_docs=1000, dim=16, queries=8, add_docs=40),
    "toy": dict(n_docs=200, dim=8, queries=4, add_docs=10),
}
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
# Two searches lead the mix: at about 4 s per search and 6 s per add, a
# 10 s run then always times two searches and one add, instead of one or
# two searches depending on how the add time falls against the deadline.
MIX = ("search", "search", "add")
QUERY_TERMS = 3
TOP_K = 10
N_KMOD = 8
N_LISTS = 8
N_PROBE = 3
CHECKED_QUERIES = 2  # per checked search request


class Serving:
    """Search requests set the latency metrics; add requests set the
    rows metric (documents ingested per second of an add request)."""

    latency_kind = "search"
    rows_kind = "add"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.dir = ctx.workdir
        self.text_ix = os.path.join(self.dir, "text_index")
        self.ivf_ix = os.path.join(self.dir, "ivf_index")
        self.last = None  # (docs added, query rows, lexical df, vector df) of the last search
        self.found_near = 0.0
        self.recall_at_10 = 0.0

    # -- set-up -------------------------------------------------------------
    def generate(self) -> None:
        s = self.size
        self.stream = gen.ServingStream(
            self.ctx.seed, s["n_docs"], s["dim"], EXACT_SHARE, NEAR_SHARE
        )
        self.stream.write_base(os.path.join(self.dir, "documents.parquet"))

    def prepare(self) -> None:
        """Clean the corpus and index the survivors."""
        from networkframe_spark import sources
        from networkframe_spark.functions import dedup, pipeline, search, similarity, text

        spark, span, noop = self.ctx.spark, self.ctx.tracer.span, self.ctx.noop
        with span("sources.read_table"):
            docs = sources.read_table(spark, self.dir, "documents")
        with span("functions.text.add_quality_score"):
            noop(text.add_quality_score(docs))
        with span("functions.pipeline.filter_quality"):
            kept = pipeline.filter_quality(docs).localCheckpoint(eager=True)
        with span("functions.dedup.exact_duplicates"):
            exact = dedup.exact_duplicates(kept).filter("is_duplicate").select("doc_id").collect()
        with span("functions.dedup.minhash_lsh_duplicates"):
            near = dedup.minhash_lsh_duplicates(kept).select("id_a", "id_b").collect()
        copies = {r["doc_id"] for r in exact}
        pairs = {(r["id_a"], r["id_b"]) for r in near}
        c = self.stream.corpus
        self.exact_missed = sum(b not in copies for _, b in c.exact_pairs)
        self.found_near = sum(p in pairs for p in c.near_pairs) / max(len(c.near_pairs), 1)
        drop = copies | {b for _, b in pairs}
        clean = kept.filter(~kept.doc_id.isin(sorted(drop))).localCheckpoint(eager=True)
        self.base_ids = [r["doc_id"] for r in clean.select("doc_id").collect()]
        with span("functions.search.build_text_index"):
            search.build_text_index(clean.select("doc_id", "text"), self.text_ix, n_kmod=N_KMOD)
        with span("functions.similarity.build_ivf_index"):
            similarity.build_ivf_index(
                clean.selectExpr("doc_id AS vec_id", "embedding"), self.ivf_ix, n_lists=N_LISTS
            )

    def warm_up(self) -> None:
        """One untimed search and add; the added batch stays indexed."""
        self.search()
        self.add()
        self.last = None

    def ops(self):
        while True:
            for kind in MIX:
                if kind == "add":
                    yield kind, self.add, self.size["add_docs"]
                else:
                    yield kind, self.search, self.size["queries"]

    # -- requests -----------------------------------------------------------
    def search(self) -> None:
        from networkframe_spark.functions import search, similarity

        spark, span = self.ctx.spark, self.ctx.tracer.span
        rows = self.stream.search_batch(self.size["queries"], QUERY_TERMS)
        terms = spark.createDataFrame([(q, t) for q, t, _ in rows], "query_id long, terms array<string>")
        vecs = spark.createDataFrame([(q, v) for q, _, v in rows], "vec_id long, embedding array<double>")
        with span("functions.search.text_index_search_batch"):
            lexical = search.text_index_search_batch(spark, terms, self.text_ix, k=TOP_K)
            lexical = lexical.localCheckpoint(eager=True)
        with span("functions.similarity.ivf_index_search"):
            vector = similarity.ivf_index_search(spark, self.ivf_ix, vecs, k=TOP_K, n_probe=N_PROBE)
            vector = vector.withColumnRenamed("vec_id", "doc_id").localCheckpoint(eager=True)
        with span("functions.search.rrf_fuse"):
            fused = search.rrf_fuse([lexical, vector], query_col="query_id", top_k=TOP_K).collect()
        if len({r["query_id"] for r in fused}) != len(rows):
            raise RuntimeError("fused result is missing queries")
        self.last = (self.stream.indexed, rows, lexical, vector)

    def add(self) -> None:
        from networkframe_spark.functions import search, similarity

        spark, span = self.ctx.spark, self.ctx.tracer.span
        rows = self.stream.add_batch(self.size["add_docs"])
        new = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
        with span("functions.search.text_index_add"):
            search.text_index_add(spark, self.text_ix, new.select("doc_id", "text"))
        with span("functions.similarity.ivf_index_add"):
            similarity.ivf_index_add(spark, self.ivf_ix, new.selectExpr("doc_id AS vec_id", "embedding"))

    # -- checks -------------------------------------------------------------
    def corpus_df(self, n_added: int):
        """Documents in the indexes after ``n_added`` added documents."""
        s = self.stream
        ids = self.base_ids + list(range(s.corpus.n_docs, s.corpus.n_docs + n_added))
        rows = [(i, s.text(i), s.vector(i)) for i in ids]
        return self.ctx.spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")

    def check(self, n_ok: int) -> int:
        """Checks the last search: its text-index results must equal brute-force BM25 over the documents
        indexed at that moment.  Returns 1 if they differ, and ``n_ok``
        if a planted exact copy survived cleaning."""
        from networkframe_spark.functions import search, similarity

        if self.exact_missed:
            print(f"hybrid_serving: {self.exact_missed} planted exact copies kept", file=sys.stderr)
            return n_ok
        if self.last is None:
            return 0
        n_added, rows, lexical, vector = self.last
        lexical = lexical.collect()
        if self.ctx.corrupt:
            lexical = [r for r in lexical if r["query_id"] != rows[0][0]]
        corpus = self.corpus_df(n_added).localCheckpoint(eager=True)
        wrong = False
        for qid, terms, _ in rows[:CHECKED_QUERIES]:
            want = search.bm25_top_docs(corpus, terms, k=TOP_K).orderBy("rank").collect()
            got = sorted((r for r in lexical if r["query_id"] == qid), key=lambda r: r["rank"])
            wrong |= [(r["doc_id"], r["score"]) for r in want] != [(r["doc_id"], r["score"]) for r in got]
        if wrong:
            print("hybrid_serving: text-index results differ from brute-force BM25", file=sys.stderr)
        if self.ctx.tracer.enabled:
            queries = self.ctx.spark.createDataFrame(
                [(q, v) for q, _, v in rows], "query_id long, embedding array<double>"
            )
            truth = similarity.brute_force_top_k(
                corpus.selectExpr("doc_id AS vec_id", "embedding"), queries, k=TOP_K,
                query_id_col="query_id", exclude_self=False,
            ).collect()
            got = vector.collect()
            self.recall_at_10 = float(np.mean([
                len({r["vec_id"] for r in truth if r["query_id"] == q}
                    & {r["doc_id"] for r in got if r["query_id"] == q}) / TOP_K
                for q, _, _ in rows
            ]))
        return int(wrong)

    def recall(self) -> dict[str, float]:
        return {
            "functions.dedup.recall": self.found_near,
            "functions.similarity.recall_at_10": self.recall_at_10,
        }
