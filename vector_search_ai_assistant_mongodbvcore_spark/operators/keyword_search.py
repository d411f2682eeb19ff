"""Keyword (BM25) search and hybrid keyword+vector retrieval.

The reference serves RAG retrieval purely through its vector index
(MongoDbService.cs:194-223 $search.cosmosSearch); production successors of
that stack (Azure Cognitive Search / MongoDB Atlas) pair the vector path
with a BM25 keyword path and fuse the two rankings with Reciprocal Rank
Fusion. This module supplies that extended search surface Spark-first:

  bm25_scores    corpus-wide Okapi BM25 scores for one query's terms —
                 explode -> per-doc conditional aggregate with map-side
                 combine, one tiny global stats aggregate broadcast back;
                 no joins, no UDFs, pure codegen exprs (see its docstring
                 for the checkpoint/persist single-scan option)
  bm25_topk      score + TakeOrdered top-k
  ranked_topk    top-k + dense rank assignment (limit first, then a
                 window over the k survivors — never a full-corpus sort
                 into one partition)
  rrf_fuse       Reciprocal Rank Fusion of two ranked candidate lists
                 (full outer join on id; absent list contributes 0)

Scale: BM25 scoring is a single pass over the text column — explode fans
out to one row per token but the groupBy(id) partial-aggregates map-side,
so the shuffle carries one row per document (dl + one tf per query term).
The stats frame is one row and is broadcast. RRF operates on two k-row
candidate frames: rank windows run AFTER the limit, on <= n_candidates
rows. All float math is a fixed-order expression tree so a DuckDB oracle
reproduces scores bit-for-bit (modulo ln ulp, absorbed by 4dp rounding).

BM25 parameters k1=1.2, b=0.75 (the standard Robertson defaults); idf is
the Lucene-style ln((N - df + 0.5)/(df + 0.5) + 1), positive for every df.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators.index_base import (
    MaterializedIndex,
    apply_duplicate_policy,
    data_fingerprint,
)
from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache as _scan_cache

TOKEN_SPLIT_RE = "[^a-z0-9]+"  # lowercase alnum runs are terms


def tokenize(col) -> "F.Column":
    """Lowercase-alnum tokenizer as a column expr: array of non-empty terms."""
    return F.array_remove(F.split(F.lower(col), TOKEN_SPLIT_RE), "")


def tokenize_query(text: str) -> list[str]:
    """Driver-side twin of `tokenize` for QUERY strings — the SAME rule the
    corpus/index is tokenized with. A query like 'hash-join, scan.' must
    produce terms that can actually hit postings; a whitespace split would
    yield 'hash-join,' which matches nothing and silently degrades hybrid
    retrieval to vector-only."""
    import re

    return [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    checkpoint_dir: str | None = None,
    persist: bool = False,
) -> DataFrame:
    """(id, bm25) for every document containing >= 1 query term.

    N and avgdl count documents with >= 1 token (empty docs drop out of the
    token stream in any engine that builds tf from tokens — the oracle twin
    behaves identically). The per-doc score is a fixed-order sum over the
    query terms, each term's contribution computed from exact integer
    tf/df/dl/N and one ln().

    The per-doc aggregate has TWO consumers (global stats + scoring) and
    Spark does not reuse the shuffle between them, so by default the text
    column is scanned twice. Fine for one-shot queries at moderate scale;
    at 100 TB pass `checkpoint_dir` to materialize the tiny (id, dl, tf*)
    frame to parquet once (both consumers then read ~rows×6-ints, never the
    text column twice), or `persist=True` for in-memory reuse — the CALLER
    then owns the lifecycle and must unpersist after its action (same
    contract as dedup.ngram_jaccard_pairs)."""
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order
    toks = (
        docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term"))
    )
    perdoc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == t).cast("int")).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    if checkpoint_dir is not None:
        perdoc.write.mode("overwrite").parquet(checkpoint_dir)
        perdoc = docs.sparkSession.read.parquet(checkpoint_dir)
    elif persist:
        perdoc = perdoc.persist()
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = perdoc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        denom = tf + k1 * ((1.0 - b) + (b * F.col("dl")) / F.col("avgdl"))
        contrib = (idf * tf * (k1 + 1.0)) / denom
        score = contrib if score is None else score + contrib
    any_tf = None
    for i in range(len(terms)):
        any_tf = F.col(f"tf{i}") if any_tf is None else any_tf + F.col(f"tf{i}")
    return (
        scored.withColumn("bm25", score)
        .filter(any_tf > 0)  # integer match test — exact in both engines
        .select(F.col(id_col), F.col("bm25"))
    )


def bm25_cte_sql(
    query_terms: Sequence[str],
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    cte_suffix: str = "",
) -> str:
    """DuckDB oracle twin of bm25_scores as a CTE block (no leading WITH,
    final CTE named `bm25_scored{cte_suffix}` with (id, bm25)) — SAME
    expression tree (fixed per-term order, identical parenthesization) so
    scores agree to the ulp of ln(). Callers compose:
    f"WITH {bm25_cte_sql(...)} SELECT".  `cte_suffix` disambiguates the
    internal CTE names so one statement can hold SEVERAL queries' blocks
    (the batched bm25_search_many oracle).

    Terms are interpolated into SQL string literals, so they must be plain
    [a-z0-9]+ tokens — exactly what `tokenize`/`tokenize_query` emit. The
    assertion (rather than quote-escaping) keeps the contract visible: feed
    this raw user text and it raises instead of building a broken query."""
    import re

    terms = list(dict.fromkeys(query_terms))
    bad = [t for t in terms if not re.fullmatch("[a-z0-9]+", t)]
    if bad:
        raise ValueError(
            f"query terms must be lowercase-alnum tokens (use tokenize_query): {bad!r}"
        )
    tfs = ",\n           ".join(
        f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ",\n           ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"((ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0) * tf{i} * {k1 + 1.0!r})"
        f" / (tf{i} + {k1!r} * ((1.0 - {b!r}) + ({b!r} * dl) / avgdl)))"
        for i in range(len(terms))
    )
    sfx = cte_suffix
    return f"""toks{sfx} AS (
      SELECT {id_col}, t AS term FROM (
        SELECT {id_col},
               unnest(regexp_split_to_array(lower({text_col}), '{TOKEN_SPLIT_RE}')) AS t
        FROM {table}
      ) WHERE t <> ''
    ),
    perdoc{sfx} AS (
      SELECT {id_col}, count(*) AS dl,
           {tfs}
      FROM toks{sfx} GROUP BY {id_col}
    ),
    stats{sfx} AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
           {dfs}
      FROM perdoc{sfx}
    ),
    bm25_scored{sfx} AS (
      SELECT {id_col}, {contribs} AS bm25
      FROM perdoc{sfx} CROSS JOIN stats{sfx}
      WHERE ({" + ".join(f"tf{i}" for i in range(len(terms)))}) > 0
    )"""


class Bm25Index(MaterializedIndex):
    """MATERIALIZED inverted index for BM25 serving: build once, serve many
    queries, ABSORB NEW DOCUMENTS INCREMENTALLY (the keyword twin of the
    reference's near-real-time AddRemoveData path, AddRemoveData.cs:23-125).

    Layout (the shared operators/index_base lifecycle) — split so that
    adds are appends:

      postings/   parquet PARTITIONED BY term-bucket; one row per
                  (term, doc) carrying tf + the doc's dl. Document-local
                  facts only -> new docs APPEND into their buckets, nothing
                  existing is rewritten
      docs/       (doc_id, dl) PARTITIONED BY id-bucket — the indexed-id
                  set. Adds append; duplicate-id guards and removes touch
                  only the ids' buckets (copy-on-write), never the table
      terms/      (term, df) — the one corpus-global per-term fact, small
                  (vocabulary-sized), atomically swapped on each add/remove
      meta.json   n_docs, total_tokens (avgdl = total/n exactly), n_buckets,
                  source-data fingerprint of the base build

    bucket(term) = first-8-hex-of-md5 mod n_buckets — computable
    identically driver-side (Python) and executor-side (Catalyst md5/conv),
    so the query plans an IN-filter on the partition column and Catalyst
    prunes at file-listing time: a q-term query reads ~q/n_buckets of the
    index however large the corpus. Build cost is ONE scan of the text
    column (dl and df both derive from the tf aggregate, no second pass).
    Serving joins the query terms' df rows (a per-query-terms pruned read
    of the small terms table, broadcast).

    At 100 TB: n_buckets sizes the pruning granularity (default 64 keeps
    local test dirs sane; a real corpus wants ~4096); add_documents cost is
    O(new docs' postings) + O(vocabulary) for the terms swap + an id-bucket-
    pruned duplicate check. remove_documents is the near-real-time delete
    twin of the reference's AddRemoveData path (AddRemoveData.cs:23-125):
    copy-on-write of exactly the term-buckets holding the removed docs'
    postings and the id-buckets holding their doc rows (dynamic partition
    overwrite), df decrements via the atomic terms swap."""

    # the two dirs add_documents appends into; the terms table is
    # swap-rewritten wholesale on every add and needs no compaction
    _compact_dirs = (("postings", ("bucket",)), ("docs", ("id_bucket",)))

    # ---- bucket hash (portable Python/Catalyst pair) ---------------------
    @staticmethod
    def bucket_py(term: str, n_buckets: int) -> int:
        import hashlib

        return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets

    @staticmethod
    def bucket_col(col, n_buckets: int):
        return (
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets
        ).cast("int")

    # ---- lifecycle -------------------------------------------------------
    def _terms_dir(self, meta: "dict | None" = None) -> str:
        """Current terms-table dir, resolved through the meta pointer —
        attempt-unique names since r13 ("terms" is the legacy default, so
        pre-r13 index dirs keep reading). Every terms read goes through
        here; _swap_terms writes a NEW name and flips the pointer."""
        import os

        meta = self.meta() if meta is None else meta
        return os.path.join(self.path, meta.get("terms_dir", "terms"))

    def build(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 64,
    ) -> "Bm25Index":
        import os
        import uuid

        tf, dl, dfreq = self._doc_facts(docs, text_col, id_col, n_buckets)
        tf.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(self.path, "postings"))
        _scan_cache.invalidate(self.spark, self.path)
        self._write_doc_rows(dl, id_col, n_buckets, mode="overwrite")
        terms_name = f"terms_{uuid.uuid4().hex[:8]}"
        dfreq.write.mode("overwrite").parquet(os.path.join(self.path, terms_name))
        row = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
        ).collect()[0]
        self.plane.makedirs(self.path)
        self._write_meta(
            {
                "n_docs": int(row["n_docs"]),
                "total_tokens": int(row["total_tokens"] or 0),
                "n_buckets": n_buckets,
                "id_col": id_col,
                "text_col": text_col,
                "terms_dir": terms_name,
                "fingerprint": data_fingerprint(docs),
            }
        )
        self._sweep_orphan_terms(terms_name)
        return self

    def _write_doc_rows(self, dl: DataFrame, id_col: str, n_buckets: int, mode: str):
        import os

        rows = dl.withColumn(
            "id_bucket", self.bucket_col(F.col(id_col).cast("string"), n_buckets)
        )
        rows.repartition(F.col("id_bucket")).write.mode(mode).partitionBy(
            "id_bucket"
        ).parquet(os.path.join(self.path, "docs"))

    def _doc_rows(self) -> DataFrame:
        import os

        docs_dir = os.path.join(self.path, "docs")
        if not self.plane.exists(docs_dir):
            raise ValueError(
                f"{self.path} predates the docs/ table (indexed-id set); "
                "rebuild the index to enable duplicate guards and removes"
            )
        return self.spark.read.parquet(docs_dir)

    def _swap_terms(self, merged: DataFrame, meta: dict) -> None:
        """Replace the terms table the MVCC way (r13 — the old
        rename-rename rotation was the index tablespace's one remaining
        POSIX-only primitive): write the new table under an ATTEMPT-UNIQUE
        name, record it in `meta` (the caller's meta.json put is the
        atomic pointer flip), then best-effort reclaim superseded
        `terms_*` dirs. A crash before the meta put leaves an orphan dir
        no reader resolves (swept on the next successful swap/build); a
        crash after it leaves only the old dir as debris. NOTE: `meta` is
        MUTATED — the caller must persist it for the swap to take effect.
        No rename anywhere, so the rotation is object-store clean."""
        import os
        import uuid as _uuid

        new_name = f"terms_{_uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, new_name))
        meta["terms_dir"] = new_name

    def _sweep_orphan_terms(self, current: str) -> None:
        """Best-effort reclaim of every terms table except the live one —
        superseded tables and crashed attempts alike (the legacy bare
        `terms` dir included once a named table took over)."""
        import os

        try:
            names = self.plane.list_names(self.path)
        except FileNotFoundError:
            return
        for n in names:
            if (n == "terms" or n.startswith("terms_")) and n != current:
                self.plane.remove_tree(os.path.join(self.path, n))

    def _doc_facts(self, docs, text_col: str, id_col: str, n_buckets: int):
        """(postings tf+dl rows with bucket, per-doc dl, per-term df) from
        ONE scan of the text column (dl/df derive from the tf aggregate)."""
        toks = docs.select(
            F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term")
        )
        tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
        dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        postings = tf.join(dl, id_col).withColumn(
            "bucket", self.bucket_col(F.col("term"), n_buckets)
        )
        return postings, dl, dfreq

    # ---- incremental maintenance ----------------------------------------
    def add_documents(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: "str | None" = None,
        on_duplicate: str = "error",
    ) -> "Bm25Index":
        """Absorb documents without touching existing postings:

          * incoming ids are checked against the indexed-id table (an
            id-bucket-PRUNED semi join — the check reads only the
            incoming ids' buckets, not the whole table); a re-add would
            silently double-count df/dl/N and corrupt every score, so the
            guard (index_base.apply_duplicate_policy) is on by default
          * new (term, doc, tf, dl) rows APPEND into their buckets
          * the terms table merges df counts and atomically swaps
            (attempt-unique write + meta-pointer flip, see _swap_terms)
          * n_docs/total_tokens accumulate in meta (avgdl stays exact)

        After add_documents, search() results are IDENTICAL to a fresh
        build over the union corpus (asserted in tests) — df/dl/N/avgdl are
        all exact integers or exact ratios of them."""
        import os

        meta = self.meta()
        n_buckets, id_col = meta["n_buckets"], self._id_col(meta, id_col)

        def indexed_ids(incoming: DataFrame) -> DataFrame:
            buckets = [
                r["id_bucket"]
                for r in incoming.select(
                    self.bucket_col(F.col(id_col).cast("string"), n_buckets).alias("id_bucket")
                ).distinct().collect()
            ]
            return self._doc_rows().filter(F.col("id_bucket").isin(buckets))

        docs = apply_duplicate_policy(docs, id_col, on_duplicate, indexed_ids)

        tf, dl, dfreq = self._doc_facts(docs, text_col, id_col, n_buckets)
        row = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
        ).collect()[0]
        if int(row["n_docs"]) == 0:
            return self  # nothing new to add
        tf.repartition(F.col("bucket")).write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(self.path, "postings"))
        _scan_cache.invalidate(self.spark, self.path)
        self._write_doc_rows(dl, id_col, n_buckets, mode="append")

        old = self.spark.read.parquet(self._terms_dir(meta))
        merged = (
            old.unionByName(dfreq)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        self._swap_terms(merged, meta)

        meta["n_docs"] = int(meta["n_docs"]) + int(row["n_docs"])
        meta["total_tokens"] = int(meta["total_tokens"]) + int(row["total_tokens"] or 0)
        self._write_meta(meta)
        self._sweep_orphan_terms(meta["terms_dir"])
        return self

    def remove_documents(
        self, ids: Sequence, id_col: "str | None" = None
    ) -> "Bm25Index":
        """Delete indexed documents near-real-time — the keyword twin of the
        reference's delete path (AddRemoveData.cs:23-125 'remove' action →
        MongoDbService.DeleteProductAsync, immediately unsearchable):

          1. the removed docs' postings are found with one scan of the
             postings table (predicate-pushed on id); the TERM-buckets they
             occupy are rewritten copy-on-write
             (sources/maintenance.cow_delete_ids) — untouched buckets'
             files are never rewritten
          2. the docs table drops the ids the same way (id-bucket COW —
             pruned to the removed ids' buckets)
          3. per-term df decrements merge into the terms table (atomic
             swap); terms with df=0 drop out
          4. n_docs/total_tokens decrement in meta (avgdl stays exact)

        After remove_documents, search() is IDENTICAL to a fresh build over
        the surviving corpus (asserted in tests). Unknown ids are ignored.

        Scale: cost is O(touched term-buckets' rows) for the COW rewrite —
        a handful of partitions for a handful of docs — plus the vocabulary-
        sized terms swap; never a full-index rewrite."""
        import os

        from vector_search_ai_assistant_mongodbvcore_spark.sources.maintenance import (
            cow_delete_ids,
        )

        meta = self.meta()
        n_buckets, id_col = meta["n_buckets"], self._id_col(meta, id_col)
        ids = list(ids)
        if not ids:
            return self
        spark = self.spark

        postings_dir = os.path.join(self.path, "postings")
        postings = spark.read.parquet(postings_dir)
        doomed = postings.filter(F.col(id_col).isin(ids))
        touched = [r["bucket"] for r in doomed.select("bucket").distinct().collect()]
        if not touched:
            return self  # none of the ids are indexed

        # per-term df decrements + removed dl totals, MATERIALIZED before the
        # rewrite (their lineage reads the files the COW replaces)
        dec = doomed.groupBy("term").agg(
            F.count(F.lit(1)).alias("dec")
        ).localCheckpoint(eager=True)
        gone = (
            doomed.select(id_col, "dl").dropDuplicates([id_col])
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("toks"))
            .collect()[0]
        )
        # COW of ONLY the touched term-buckets, then of the removed ids'
        # id-buckets in the docs table
        cow_delete_ids(
            spark, postings_dir, ["bucket"], id_col, ids, touched=touched,
            scan=postings, plane=self.plane,
        )
        cow_delete_ids(
            spark, os.path.join(self.path, "docs"), ["id_bucket"], id_col, ids,
            touched=sorted({self.bucket_py(str(i), n_buckets) for i in ids}),
            plane=self.plane,
        )

        old = spark.read.parquet(self._terms_dir(meta))
        merged = (
            old.join(F.broadcast(dec), "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce(F.col("dec"), F.lit(0))).alias("df"),
            )
            .filter(F.col("df") > 0)
        )
        self._swap_terms(merged, meta)

        meta["n_docs"] = int(meta["n_docs"]) - int(gone["n"])
        meta["total_tokens"] = int(meta["total_tokens"]) - int(gone["toks"] or 0)
        self._write_meta(meta)
        self._sweep_orphan_terms(meta["terms_dir"])
        return self

    # ---- serving ---------------------------------------------------------
    def search(
        self,
        query_terms: Sequence[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Pruned-scan BM25 top-k, returned LAZILY. The bucket IN-filter
        prunes partitions at file-listing time (check explain():
        PartitionFilters); n_docs/avgdl come from meta; the query terms' df
        rows come from a pruned read of the small terms table, broadcast
        into the join.

        `round_scores` quantizes bm25 BEFORE the top-k cut (desc score,
        asc id) so an external oracle ranking on rounded scores selects the
        identical candidate set — same contract as vector_search."""
        import os

        meta = self.meta()
        terms = list(dict.fromkeys(query_terms))
        n_b = meta["n_buckets"]
        buckets = sorted({self.bucket_py(t, n_b) for t in terms})
        id_col = meta["id_col"]
        scan = (
            _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "postings"))
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
        )
        dfreq = (
            _scan_cache.cached_parquet(self.spark, self._terms_dir(meta))
            .filter(F.col("term").isin(terms))
        )
        scan = scan.join(F.broadcast(dfreq), "term")
        n_docs = float(meta["n_docs"])
        avgdl = float(meta["total_tokens"]) / max(n_docs, 1.0)
        idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        denom = F.col("tf") + k1 * ((1.0 - b) + (b * F.col("dl")) / F.lit(avgdl))
        contrib = (idf * F.col("tf") * (k1 + 1.0)) / denom
        scored = (
            scan.withColumn("_c", contrib)
            .groupBy(id_col)
            .agg(F.sum("_c").alias("bm25"))
        )
        if round_scores is not None:
            scored = scored.withColumn("bm25", F.round("bm25", round_scores))
        return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)

    def search_many(
        self,
        queries,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        round_scores: int | None = None,
        query_id_col: str = "query_id",
        query_terms_col: str = "query_terms",
    ) -> DataFrame:
        """Batched BM25 serving: ONE pruned scan of the union of every
        query's term buckets answers the whole batch.  A broadcast
        (query_id, term) routing frame fans each posting row out to
        exactly the queries containing its term; scoring is the identical
        contribution expression as search(), aggregated per (query, doc).
        Output (query_id, <id_col>, bm25, rank), rank 1..k per query by
        (bm25 desc, id asc) — the same rows looping search() returns
        (asserted in tests), at 1/Q-th the scans and job overheads.

        `queries` = small DataFrame with (query_id, query_terms) columns
        (terms array<string>, pre-tokenized with tokenize_query) or a
        sequence of (id, terms) pairs."""
        import os

        from vector_search_ai_assistant_mongodbvcore_spark.operators.batch_serving import (
            collect_query_batch,
            topk_per_query,
        )

        pairs, qid_type = collect_query_batch(queries, query_id_col, query_terms_col)
        meta = self.meta()
        id_col = meta["id_col"]
        n_b = meta["n_buckets"]
        # per-query dedup (search()'s dict.fromkeys contract), then the
        # union routing frame
        route_rows = [
            (qid, t)
            for qid, terms in pairs
            for t in dict.fromkeys(terms)
        ]
        all_terms = sorted({t for _, t in route_rows})
        if not all_terms:
            raise ValueError("search_many: every query has an empty term list")
        buckets = sorted({self.bucket_py(t, n_b) for t in all_terms})
        routing = self.spark.createDataFrame(
            route_rows, f"query_id {qid_type}, term string"
        )
        scan = (
            _scan_cache.cached_parquet(self.spark, os.path.join(self.path, "postings"))
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(all_terms))
        )
        dfreq = (
            _scan_cache.cached_parquet(self.spark, self._terms_dir(meta))
            .filter(F.col("term").isin(all_terms))
        )
        scan = scan.join(F.broadcast(dfreq), "term").join(
            F.broadcast(routing), "term"
        )
        n_docs = float(meta["n_docs"])
        avgdl = float(meta["total_tokens"]) / max(n_docs, 1.0)
        idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        denom = F.col("tf") + k1 * ((1.0 - b) + (b * F.col("dl")) / F.lit(avgdl))
        contrib = (idf * F.col("tf") * (k1 + 1.0)) / denom
        scored = (
            scan.withColumn("_c", contrib)
            .groupBy("query_id", id_col)
            .agg(F.sum("_c").alias("bm25"))
        )
        if round_scores is not None:
            scored = scored.withColumn("bm25", F.round("bm25", round_scores))
        return topk_per_query(scored, "query_id", id_col, "bm25", k)


def ranked_topk(
    scored: DataFrame,
    score_col: str,
    id_col: str,
    k: int,
    round_to: int = 4,
) -> DataFrame:
    """(id, rank) of the top-k by (round(score) desc, id asc).

    Limit FIRST (TakeOrderedAndProject — each partition ships only its
    local top-k), then assign ranks with a window over the k survivors; the
    single-partition window never sees more than k rows, so this shape is
    safe at any corpus size."""
    r = F.round(F.col(score_col), round_to)
    top = scored.select(F.col(id_col), r.alias("_s")).orderBy(
        F.col("_s").desc(), F.col(id_col)
    ).limit(k)
    from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import bounded_window_key

    w = Window.partitionBy(bounded_window_key(id_col)).orderBy(F.col("_s").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(id_col, "rank")


def hybrid_search_indexed(
    bm25_index: "Bm25Index",
    vector_index,
    query_text: str,
    query_vector: Sequence[float],
    k: int = 10,
    n_candidates: int = 20,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    round_scores: int = 4,
    round_rrf: int = 6,
) -> DataFrame:
    """Index-backed hybrid serving: BOTH retrieval legs run off their
    materialized, partition-pruned indexes (Bm25Index postings + LSH/IVF
    bucket partitions), then fuse with RRF — the full production topology
    (the indexed twin of the reference's per-turn serving read,
    MongoDbService.cs:179-239): per-query cost is two pruned scans + two
    k-row rank windows + a k×k join, independent of corpus size.

    `vector_index` is anything with .search(query, k=..., round_scores=...)
    returning (vec_id, score) — LshIndex or IvfIndex. The query text is
    tokenized with the INDEX's tokenizer rule (tokenize_query), and both
    legs quantize scores to `round_scores` before their candidate cuts, so
    the whole function has a deterministic external-oracle twin.

    Output: (id, kw_rank, vec_rank, rrf) — rrf rounded to `round_rrf` and
    used (desc, id asc) as the final ordering."""
    terms = tokenize_query(query_text)
    kw = ranked_topk(
        bm25_index.search(terms, k=n_candidates, round_scores=round_scores),
        "bm25", id_col, k=n_candidates, round_to=round_scores,
    )
    vec_scored = vector_index.search(
        list(query_vector), k=n_candidates, round_scores=round_scores
    ).select(F.col(vec_id_col).alias(id_col), F.col("score"))
    vec = ranked_topk(vec_scored, "score", id_col, k=n_candidates, round_to=round_scores)
    fused = rrf_fuse(kw, vec, id_col=id_col, k_rrf=k_rrf)
    return (
        fused.select(
            F.col(id_col),
            F.col("rank_a").alias("kw_rank"),
            F.col("rank_b").alias("vec_rank"),
            F.round(F.col("rrf"), round_rrf).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion: score(d) = Σ_lists 1/(k_rrf + rank_list(d))
    over the union of both candidate lists (Cormack et al., the standard
    hybrid-search fusion; k=60 is the canonical constant). Inputs are
    (id, rank) frames ALREADY limited to their top-n — the join is tiny."""
    a = ranked_a.withColumnRenamed("rank", "rank_a")
    bdf = ranked_b.withColumnRenamed("rank", "rank_b")
    fused = a.join(bdf, id_col, "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0))
    )
    return fused.select(
        F.col(id_col),
        F.col("rank_a"),
        F.col("rank_b"),
        rrf.alias("rrf"),
    )
