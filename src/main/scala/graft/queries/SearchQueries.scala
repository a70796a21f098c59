package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Search, Similarity, TextAnalysis}

/** Training-data pipeline pack, part 4: retrieval over `documents` —
  * BM25 keyword search and BM25+ANN hybrid fusion, the lexical and fused
  * halves of a RAG retrieval stack (the vector half lives in
  * SimilarityQueries). Query set = the first [[NQ]] documents, searching
  * with their own text; self-matches excluded. All scores are quantized
  * integer sums or fixed-shape double trees → bitwise oracle parity. */
object SearchQueries {
  private val K = 10       // results per query
  private val NQ = 5       // query docs: doc_id < NQ
  private val EmbedD = 16  // hash-embedding dimension (matches TextQueries)

  // ---- BM25 keyword top-k ---------------------------------------------------
  def searchBm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Search.bm25TopK(docs,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "text", "query_id", "qtext", K)
      .orderBy(col("query_id"), col("rank"))
  }
  /** The exact expression tree of [[Search.bm25TopK]]: e-notation literals
    * parse as DOUBLE (DuckDB decimal literals default to DECIMAL), and the
    * folded constants are written as the same IEEE additions Scala folds
    * (1.2e0 + 1.0e0, 1.0e0 - 0.75e0) so both engines hold identical bits. */
  val searchBm25Sql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl
       |), qterms AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(string_split(trim(text), ' ')) AS term
       |    FROM documents WHERE doc_id < $NQ)
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM qterms) GROUP BY term
       |), contrib AS (
       |  SELECT q.query_id, t.doc_id,
       |    CAST(floor(
       |      (((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5e0) / (CAST(f.df AS DOUBLE) + 0.5e0)) *
       |       ((CAST(t.tf AS DOUBLE) * (1.2e0 + 1.0e0)) /
       |        (CAST(t.tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0 *
       |          (CAST(d.dl AS DOUBLE) / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) * 1.0e6) AS BIGINT) AS qc
       |  FROM tf t JOIN dfreq f USING (term) JOIN qterms q USING (term)
       |       JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN stats s
       |  WHERE t.doc_id <> q.query_id
       |), scored AS (
       |  SELECT query_id, doc_id, CAST(SUM(qc) AS DOUBLE) / 1.0e6 AS score
       |  FROM contrib GROUP BY query_id, doc_id
       |)
       |SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** METADATA-FILTERED retrieval — the ubiquitous production read base
    * BM25 cannot express ("search only the wiki sources" / per-tenant
    * search): the corpus restricts to a source predicate and ALL
    * collection statistics (n_docs, avgdl, every df) shift to the
    * filtered corpus — post-filter scoring, exactly what a per-tenant
    * index serves; scoring the full corpus and filtering afterwards
    * would rank by the wrong idf. Query docs stay pinned in-corpus so
    * the self-exclusion semantics match the base query. The oracle is
    * DERIVED from [[searchBm25Sql]] by rewriting both corpus
    * occurrences (the same can-never-drift discipline as
    * [[searchBm25DeletedSql]]). At 100 TB the filter composes with the
    * term-bucketed stored index: bucket pruning on terms × partition
    * pruning on the metadata column. */
  private val FilterPred = s"source <= 'm' OR doc_id < $NQ"

  def searchBm25Filtered(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("source") <= "m" || col("doc_id") < NQ)
    Search.bm25TopK(docs,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "text", "query_id", "qtext", K)
      .orderBy(col("query_id"), col("rank"))
  }
  val searchBm25FilteredSql: String = searchBm25Sql.replace(
    "FROM documents",
    s"FROM (SELECT * FROM documents WHERE $FilterPred) documents")

  // ---- BM25 against the materialized inverted index -------------------------
  /** Identical results to search_bm25 through the SERVING path: the
    * inverted index (term-bucketed postings + per-doc lengths + corpus
    * stats) is materialized once, then the query reads ONLY the bucket
    * directories its vocabulary hashes into — at 100 TB the difference
    * between re-tokenizing the corpus per query run and a handful of
    * pruned directory reads. The in-run temp-dir write exists to exercise
    * that path end-to-end against the same oracle as search_bm25. */
  private val bm25IndexCache =
    new graft.operators.BoundedMemo[String, String]("search.bm25IndexCache")

  def searchBm25Indexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // a materialized index is built ONCE per corpus by definition — the
    // first call per data dir pays the build, repeat calls (bench steady
    // runs) measure what production measures: the pruned serving read
    val path = bm25IndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_bm25_idx")
      Search.writeBm25Index(docs, "doc_id", "text", p)
      p
    })
    Search.bm25IndexTopK(s, path,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "query_id", "qtext", K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[searchBm25Filtered]] through the SERVING path — the point being
    * demonstrated: ONE stored index (the same memoized corpus index
    * `search_bm25_indexed` serves) answers ANY metadata filter, instead
    * of an index per tenant. The allowed-id frame derives from a
    * column-pruned (doc_id, source) metadata scan; postings stay
    * bucket-pruned on query terms, stats recompute over the filtered
    * dl (dl-sized, never a corpus re-tokenization). Same oracle as the
    * derive-in-run filtered query — serving-path-twin discipline. */
  def searchBm25FilteredIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = bm25IndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_bm25_idx")
      Search.writeBm25Index(docs, "doc_id", "text", p)
      p
    })
    Search.bm25IndexTopKFiltered(s, path,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        docs.filter(col("source") <= "m" || col("doc_id") < NQ)
          .select(col("doc_id")),
        "doc_id", "query_id", "qtext", K)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- boolean AND through the stored index ---------------------------------
  /** Every doc containing ALL of the query doc's tokens — the inverted
    * index's filter verb, served through the SAME stored index (bucket
    * pruning, tombstone discipline) the ranked reads use; one groupBy
    * over query-vocabulary postings rows. The oracle restates it over
    * per-doc DISTINCT token sets: match count per (query, doc) equals
    * the query's distinct-term count. A query doc always matches
    * itself; beyond that only token-superset docs qualify. */
  def searchBoolean(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = bm25IndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_bm25_idx")
      Search.writeBm25Index(docs, "doc_id", "text", p)
      p
    })
    Search.bm25IndexBooleanAnd(s, path,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "query_id", "qtext")
      .orderBy(col("query_id"), col("doc_id"))
  }

  val searchBooleanSql: String =
    """WITH qt AS (
      |  SELECT doc_id AS query_id,
      |         unnest(list_distinct(string_split(trim(text), ' '))) AS term
      |  FROM documents WHERE doc_id < 5
      |), nq AS (
      |  SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id
      |), dt AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(string_split(trim(text), ' '))) AS term
      |  FROM documents
      |), hit AS (
      |  SELECT q.query_id, d.doc_id, count(*) AS n_hit
      |  FROM qt q JOIN dt d USING (term) GROUP BY 1, 2
      |)
      |SELECT hit.query_id AS query_id, hit.doc_id AS doc_id
      |FROM hit JOIN nq ON nq.query_id = hit.query_id
      |WHERE hit.n_hit = nq.n_terms
      |ORDER BY hit.query_id, hit.doc_id""".stripMargin

  // ---- BM25 with pseudo-relevance feedback (RM3-lite) -----------------------
  private val FbDocs = 3
  private val FbTerms = 3

  def searchBm25Prf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Search.bm25PrfTopK(docs,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "text", "query_id", "qtext", K, FbDocs, FbTerms)
      .orderBy(col("query_id"), col("rank"))
  }
  /** The BM25 scoring block against a given qterms relation — emitted
    * twice (first pass + expanded pass) with distinct CTE names. */
  private def bm25Pass(q: String, sfx: String): String =
    s"""df$sfx AS (
       |  SELECT term, COUNT(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM $q) GROUP BY term
       |), sc$sfx AS (
       |  SELECT query_id, doc_id, CAST(SUM(qc) AS DOUBLE) / 1.0e6 AS score FROM (
       |    SELECT q.query_id, t.doc_id,
       |      CAST(floor(
       |        (((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5e0) / (CAST(f.df AS DOUBLE) + 0.5e0)) *
       |         ((CAST(t.tf AS DOUBLE) * (1.2e0 + 1.0e0)) /
       |          (CAST(t.tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0 *
       |            (CAST(d.dl AS DOUBLE) / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) * 1.0e6) AS BIGINT) AS qc
       |    FROM tf t JOIN df$sfx f USING (term) JOIN $q q USING (term)
       |         JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN stats s
       |    WHERE t.doc_id <> q.query_id)
       |  GROUP BY query_id, doc_id
       |)""".stripMargin

  val searchBm25PrfSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl
       |), q0 AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(string_split(trim(text), ' ')) AS term
       |    FROM documents WHERE doc_id < $NQ)
       |), ${bm25Pass("q0", "0")},
       |fb AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |    FROM sc0) t WHERE rank <= $FbDocs
       |), fbtf AS (
       |  SELECT f.query_id, t.term, CAST(SUM(t.tf) AS BIGINT) AS fbtf
       |  FROM fb f JOIN tf t ON t.doc_id = f.doc_id
       |  LEFT JOIN q0 ON q0.query_id = f.query_id AND q0.term = t.term
       |  WHERE q0.term IS NULL
       |  GROUP BY f.query_id, t.term
       |), expn AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |      row_number() OVER (PARTITION BY query_id ORDER BY fbtf DESC, term ASC) AS r
       |    FROM fbtf) t WHERE r <= $FbTerms
       |), q1 AS (
       |  SELECT query_id, term FROM q0 UNION SELECT query_id, term FROM expn
       |), ${bm25Pass("q1", "1")}
       |SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM sc1) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- hybrid retrieval: BM25 ⊕ ANN via reciprocal-rank fusion --------------
  def searchHybridRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bm25 = Search.bm25TopK(docs,
      docs.filter(col("doc_id") < NQ)
        .select(col("doc_id").as("query_id"), col("text").as("qtext")),
      "doc_id", "text", "query_id", "qtext", K)
    // corpus arm and query arm of the ANN side share ONE embedding pass
    val emb = docs.select(col("doc_id"),
      TextAnalysis.hashEmbed(col("text"), EmbedD).as("embedding"))
      .localCheckpoint()
    val ann = Similarity.bruteForceTopK(
      emb, emb.filter(col("doc_id") < NQ), "doc_id", "embedding", K)
    Search.rrfFuse(Seq(bm25, ann), "doc_id", K)
      .orderBy(col("query_id"), col("rank"))
  }
  /** The hybrid-retrieval CTE block (BM25 arm + ANN arm + RRF fusion),
    * shared by the hybrid and RAG oracles so their semantics can't
    * drift. Ends with the `fused` relation. */
  private val hybridCtes: String = {
    val P = graft.operators.Dedup.HashMod
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x + y)"
    def cos(a: String, b: String) =
      s"${dot(a, b)} / NULLIF(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), 0)"
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term
       |), dl AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl
       |), qterms AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(string_split(trim(text), ' ')) AS term
       |    FROM documents WHERE doc_id < $NQ)
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM qterms) GROUP BY term
       |), contrib AS (
       |  SELECT q.query_id, t.doc_id,
       |    CAST(floor(
       |      (((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5e0) / (CAST(f.df AS DOUBLE) + 0.5e0)) *
       |       ((CAST(t.tf AS DOUBLE) * (1.2e0 + 1.0e0)) /
       |        (CAST(t.tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0 *
       |          (CAST(d.dl AS DOUBLE) / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) * 1.0e6) AS BIGINT) AS qc
       |  FROM tf t JOIN dfreq f USING (term) JOIN qterms q USING (term)
       |       JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN stats s
       |  WHERE t.doc_id <> q.query_id
       |), bm25 AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |    FROM (SELECT query_id, doc_id, CAST(SUM(qc) AS DOUBLE) / 1.0e6 AS score
       |          FROM contrib GROUP BY query_id, doc_id)) t
       |  WHERE rank <= $K
       |), toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), emb AS (
       |  SELECT doc_id, list_transform(range(0, $EmbedD), i ->
       |    CAST(COALESCE(list_sum(list_transform(th, h ->
       |      CASE WHEN h % $EmbedD = i
       |           THEN (CASE WHEN (h // $EmbedD) % 2 = 0 THEN 1 ELSE -1 END)
       |           ELSE 0 END)), 0) AS REAL)) AS e
       |  FROM toks
       |), annq AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $NQ),
       |ann AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
       |    FROM (SELECT q.query_id, c.doc_id, ${cos("qe", "c.e")} AS cos
       |          FROM emb c, annq q WHERE c.doc_id <> q.query_id)) t
       |  WHERE rank <= $K
       |), fused AS (
       |  SELECT query_id, doc_id,
       |    COALESCE(1.0e0 / (60.0e0 + CAST(b.rank AS DOUBLE)), 0.0e0) +
       |    COALESCE(1.0e0 / (60.0e0 + CAST(a.rank AS DOUBLE)), 0.0e0) AS rrf_score
       |  FROM bm25 b FULL OUTER JOIN ann a USING (query_id, doc_id)
       |)""".stripMargin
  }

  val searchHybridRrfSql: String =
    s"""$hybridCtes
       |SELECT query_id, doc_id, rrf_score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, doc_id, rrf_score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
       |  FROM fused) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- RAG context assembly: retrieve, rank, pack to a token budget ---------
  /** The end-to-end context builder a RAG serving path runs, in ONE plan:
    * hybrid-retrieve each query's candidates, rank by fused score, then
    * greedily pack documents in rank order until the context token budget
    * is spent (BPE-estimate tokens, the n_bpe_est heuristic). The packing
    * window is bounded by k rows per query — never corpus-sized. */
  private val RagBudget = 300

  /** Fuse the two retrieval arms and greedily pack to the token budget —
    * the tail both RAG variants share, so their assembly can't drift.
    * The packing window is bounded by k rows per query. */
  private def ragAssemble(bm25: DataFrame, ann: DataFrame,
                          docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fusedTop = Search.rrfFuse(Seq(bm25, ann), "doc_id", K)
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    fusedTop
      .join(docs.select(col("doc_id"),
        expr("(n_chars + 3) div 4").as("est_tokens")), "doc_id")
      .withColumn("cum_tokens", sum(col("est_tokens")).over(w))
      .filter(col("cum_tokens") <= RagBudget)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("est_tokens"), col("cum_tokens"))
      .orderBy(col("query_id"), col("rank"))
  }

  def ragRetrieve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bm25 = Search.bm25TopK(docs,
      docs.filter(col("doc_id") < NQ)
        .select(col("doc_id").as("query_id"), col("text").as("qtext")),
      "doc_id", "text", "query_id", "qtext", K)
    // one embedding pass shared by the ANN corpus and query arms (the BM25
    // arm's postings are checkpointed inside bm25TopK the same way)
    val emb = docs.select(col("doc_id"),
      TextAnalysis.hashEmbed(col("text"), EmbedD).as("embedding"))
      .localCheckpoint()
    val ann = Similarity.bruteForceTopK(
      emb, emb.filter(col("doc_id") < NQ), "doc_id", "embedding", K)
    ragAssemble(bm25, ann, docs)
  }

  /** The SERVING shape of [[ragRetrieve]]: every corpus-derived input is
    * a stored artifact — the BM25 arm reads the term-bucketed inverted
    * index (bucket-pruned), the ANN arm reads the persisted embedding
    * table — so query time touches corpus text exactly zero times (the
    * only text read is the queries' own, as in production). Results are
    * identical to the derive-in-run variant, so they share one oracle;
    * the artifact build is memoized per corpus like the index queries. */
  private val ragIndexCache =
    new graft.operators.BoundedMemo[String, (String, String)]("search.ragIndexCache")

  def ragRetrieveIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (bm25Path, embPath) = ragIndexCache.computeIfAbsent(d, _ => {
      val bp = graft.Scratch.dir("graft_rag_bm25")
      Search.writeBm25Index(docs, "doc_id", "text", bp)
      val ep = graft.Scratch.dir("graft_rag_emb")
      docs.select(col("doc_id"),
          TextAnalysis.hashEmbed(col("text"), EmbedD).as("embedding"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(ep)
      (bp, ep)
    })
    val queries = docs.filter(col("doc_id") < NQ)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val bm25 = Search.bm25IndexTopK(s, bm25Path, queries,
      "doc_id", "query_id", "qtext", K)
    val emb = graft.sources.PartitionedStore.readImmutable(s, embPath)
    val ann = Similarity.bruteForceTopK(
      emb, emb.filter(col("doc_id") < NQ), "doc_id", "embedding", K)
    ragAssemble(bm25, ann, docs)
  }
  val ragRetrieveSql: String =
    s"""$hybridCtes,
       |ranked AS (
       |  SELECT query_id, doc_id, rrf_score, CAST(rank AS INTEGER) AS rank FROM (
       |    SELECT query_id, doc_id, rrf_score,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
       |    FROM fused) t
       |  WHERE rank <= $K
       |), sized AS (
       |  SELECT r.query_id, r.rank, r.doc_id, r.rrf_score,
       |         (doc.n_chars + 3) // 4 AS est_tokens
       |  FROM ranked r JOIN documents doc USING (doc_id)
       |), packed AS (
       |  SELECT query_id, rank, doc_id, rrf_score, est_tokens,
       |         CAST(SUM(est_tokens) OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS cum_tokens
       |  FROM sized)
       |SELECT query_id, rank, doc_id, rrf_score, est_tokens, cum_tokens
       |FROM packed WHERE cum_tokens <= $RagBudget
       |ORDER BY query_id, rank""".stripMargin

  // ---- BM25 serving after a takedown (tombstone delete) --------------------
  /** The delete leg of the stored-BM25 lifecycle, end-to-end: the index
    * is built over the FULL corpus, doc_id ≡ 13 (mod 20) is
    * tombstone-deleted ([[Search.deleteFromBm25Index]] — O(delete set),
    * stats shrink by exact integer arithmetic, atomic republish), and
    * queries serve against the published generation. The oracle is BM25
    * over the corpus WITHOUT the deleted docs — n_docs, avgdl and every
    * per-term df all shift, so a delete that left stale stats, stale df,
    * or a deleted doc in the candidates hash-mismatches. The residue
    * class avoids doc_id < NQ so the query set is the standard one.
    * Build+delete memoized per corpus: repeat calls measure serving. */
  private val bm25DelCache =
    new graft.operators.BoundedMemo[String, String]("search.bm25DelCache")
  private val DelMod = 20
  private val DelRes = 13

  def searchBm25Deleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = bm25DelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_bm25_del")
      Search.writeBm25Index(docs, "doc_id", "text", p)
      Search.deleteFromBm25Index(s,
        docs.filter(col("doc_id") % DelMod === DelRes).select(col("doc_id")), p)
      p
    })
    Search.bm25IndexTopK(s, path,
        docs.filter(col("doc_id") < NQ)
          .select(col("doc_id").as("query_id"), col("text").as("qtext")),
        "doc_id", "query_id", "qtext", K)
      .orderBy(col("query_id"), col("rank"))
  }
  /** [[searchBm25Sql]] over the corpus minus the deleted residue class —
    * derived from the base oracle so the two can never drift. Both
    * `FROM documents` occurrences (tf and qterms) rewrite; the query-doc
    * side is unaffected because the residue class excludes doc_id < NQ. */
  val searchBm25DeletedSql: String = searchBm25Sql.replace(
    "FROM documents",
    s"FROM (SELECT * FROM documents WHERE doc_id % $DelMod <> $DelRes) documents")

  // ---- exact phrase search via the positional-shingle kernel ---------------
  private val Phrase = "stream table hash"

  /** Exact token-sequence (phrase) search — the lexical operation BM25's
    * bag-of-words scoring cannot express: a doc matches only if the
    * three query tokens appear CONSECUTIVELY in order. The engine side
    * reuses the codegen shingle kernel ([[graft.operators.Dedup
    * .shingleHashes]]): the phrase IS one 3-gram, so its hash appearing
    * in a doc's shingle set ⇔ the phrase occurs — `arrays_overlap`
    * against a 1-hash broadcast literal, no tokenize-explode-join. The
    * ORACLE is a genuinely independent formulation — space-delimited
    * substring containment over the raw text — so a shingle-tokenization
    * or hash-fold bug cannot self-confirm. The hash overlap is only the
    * CANDIDATE pass: a doc shingle colliding with the phrase hash mod
    * 1e9+7 would otherwise surface a Spark-only false positive (small
    * per-corpus probability, but it GROWS with corpus size), so the
    * survivors re-check the exact space-delimited containment the
    * oracle states — collisions cost one string scan over the handful
    * of candidates, never a wrong row. */
  def searchPhrase(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(arrays_overlap(col("sh"), Dedup.shingleHashes(lit(Phrase), 3)))
      .filter(contains(concat(lit(" "), trim(col("text")), lit(" ")),
        lit(s" $Phrase ")))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }
  val searchPhraseSql: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE contains(' ' || trim(text) || ' ', ' $Phrase ')
       |ORDER BY doc_id""".stripMargin

  // ---- phrase search through the stored positional index -------------------
  private val phraseIndexCache =
    new graft.operators.BoundedMemo[String, String]("search.phraseIndexCache")

  /** [[searchPhrase]] through the SERVING path: the positional inverted
    * index ([[Search.writePhraseIndex]] — one (id, pos, term) row per
    * token, term-bucketed) is materialized once; the phrase then reads
    * ONLY its three terms' bucket dirs and matches by position
    * arithmetic (anchor join), never re-scanning text — at 100 TB the
    * difference between a corpus-wide substring scan per phrase and a
    * pruned directory read ∝ the phrase terms' corpus frequency. The
    * output columns come from the stored meta component; the oracle is
    * the same independent substring-containment formulation, so the
    * whole store-and-serve path must reproduce raw-text semantics
    * exactly. */
  def searchPhraseIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = phraseIndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_phrase_idx")
      Search.writePhraseIndex(docs, "doc_id", "text", Seq("source"), p)
      p
    })
    Search.phraseIndexMatch(s, path, Phrase, "doc_id")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // ---- phrase search after a tombstone DELETE ------------------------------
  private val PhraseDelMod = 20
  private val PhraseDelRes = 11
  private val phraseDelCache =
    new graft.operators.BoundedMemo[String, String]("search.phraseDelCache")

  /** The takedown verb on the POSITIONAL index: build, tombstone the
    * `doc_id ≡ 11 (mod 20)` residue class (which removes a doc the base
    * phrase query returns — the delete visibly changes the answer), then
    * serve the same phrase. The oracle restates the independent
    * substring formulation over the corpus MINUS the residue class —
    * i.e. the answer an index rebuilt without the deleted docs gives —
    * which is exactly the deletion-vector contract
    * ([[Search.deleteFromPhraseIndex]]). */
  def searchPhraseDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = phraseDelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_phrase_del")
      Search.writePhraseIndex(docs, "doc_id", "text", Seq("source"), p)
      Search.deleteFromPhraseIndex(s,
        docs.filter(col("doc_id") % PhraseDelMod === PhraseDelRes)
          .select(col("doc_id")), p)
      p
    })
    Search.phraseIndexMatch(s, path, Phrase, "doc_id")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** [[searchPhraseSql]] over the corpus minus the deleted residue class
    * — derived from the base oracle so the two can never drift. */
  val searchPhraseDeletedSql: String = searchPhraseSql.replace(
    "FROM documents",
    s"FROM (SELECT * FROM documents WHERE doc_id % $PhraseDelMod <> $PhraseDelRes) documents")

  // ---- proximity (NEAR/k) search through the same positional index ---------
  private val ProxA = "stream"
  private val ProxB = "window"
  private val ProxK = 2

  /** Unordered proximity — `stream` within 2 tokens of `window` — served
    * from the SAME stored positional layout the phrase verb reads
    * ([[Search.proximityMatch]]): one (id, pos, term) materialization
    * buys both verbs, and the query touches only its two terms' bucket
    * dirs plus the meta component — at 100 TB the read is ∝ the terms'
    * corpus frequency, never corpus size, where a raw-text formulation
    * re-scans every document per query. Proximity is strictly sharper
    * than boolean AND (co-occurrence anywhere): on this corpus ~⅓ of
    * the AND hits survive the ±2-position check, which is the evidence
    * the position arithmetic actually bites. The ORACLE is a genuinely
    * independent raw-text formulation — per-document position lists via
    * DuckDB list lambdas, cross-checked |pa−pb| ≤ k — so a postings
    * layout or anchor bug cannot self-confirm. */
  def searchProximityIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = phraseIndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_phrase_idx")
      Search.writePhraseIndex(docs, "doc_id", "text", Seq("source"), p)
      p
    })
    Search.proximityMatch(s, path, ProxA, ProxB, ProxK, "doc_id")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Independent raw-text restatement: 1-based token-position lists per
    * document (list_filter over range — DuckDB's lambda algebra), a doc
    * matches iff some pa, pb with |pa−pb| ≤ k exist. Position BASE
    * differs from the engine's 0-based posexplode on purpose: only
    * position DIFFERENCES carry semantics, so a base-dependence bug on
    * either side breaks parity. */
  val searchProximitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(trim(text), ' ') AS toks
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, source,
       |    list_filter(range(1, len(toks) + 1), i -> toks[i] = '$ProxA') AS pa,
       |    list_filter(range(1, len(toks) + 1), i -> toks[i] = '$ProxB') AS pb
       |  FROM t
       |)
       |SELECT doc_id, source FROM p
       |WHERE len(list_filter(pa,
       |        x -> len(list_filter(pb, y -> abs(x - y) <= $ProxK)) > 0)) > 0
       |ORDER BY doc_id""".stripMargin

  // ---- typo-tolerant term lookup via the symmetric-delete index ------------
  private val FuzzyTerm = "streem"
  private val symDelCache =
    new graft.operators.BoundedMemo[String, String]("search.symDelCache")

  /** Spell-correction candidates for a misspelled query term ("streem"),
    * served from the stored symmetric-delete vocabulary index
    * ([[Search.writeSymDelIndex]]): the query's ≤ len+1 deletion
    * variants prune to their bucket dirs, candidate terms dedupe, and
    * exact `levenshtein ≤ 1` keeps true neighbours — at 100 TB the
    * vocabulary is never scanned at query time (a naive edit-distance
    * pass is a full-vocab cross-compare). Ranked df-desc: the classic
    * "most frequent correction wins" evidence. The ORACLE is the naive
    * formulation — the full vocabulary filtered by levenshtein directly
    * — so a variant-generation gap (a distance-1 neighbour the deletion
    * algebra misses) cannot self-confirm. */
  def searchFuzzyTerm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = symDelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_symdel_idx")
      Search.writeSymDelIndex(docs, "doc_id", "text", p)
      p
    })
    Search.symDelLookup(s, path, FuzzyTerm)
      .orderBy(col("df").desc, col("term"))
  }

  val searchFuzzyTermSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
       |  FROM documents
       |), vocab AS (
       |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
       |  WHERE term <> '' GROUP BY term
       |)
       |SELECT term, df, CAST(levenshtein(term, '$FuzzyTerm') AS INTEGER) AS dist
       |FROM vocab WHERE levenshtein(term, '$FuzzyTerm') <= 1
       |ORDER BY df DESC, term""".stripMargin

  // ---- arbitrary-substring search (trigram index) ---------------------------
  /** A needle CROSSING a token boundary ("ta stream b" spans
    * "data stream big/batch/…") — the lookup no tokenized index (BM25,
    * phrase, symdel) can serve, which is what earns the trigram family
    * its storage. Length 11 → 9 driver-side trigram hashes. */
  private val Needle = "ta stream b"

  /** Baseline contrast arm: the full-corpus substring scan the trigram
    * index replaces — one codegen `contains` pass, no index. This is the
    * query shape that is O(corpus) at 100 TB; the `_indexed` twin below
    * is the shape that is O(needle trigram frequency). */
  def searchSubstringScan(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(contains(col("text"), lit(Needle)))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  val searchSubstringScanSql: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE contains(text, '$Needle')
       |ORDER BY doc_id""".stripMargin

  private val trigramIndexCache =
    new graft.operators.BoundedMemo[String, String]("search.trigramIndexCache")
  private def trigramIndexPath(s: SparkSession, d: String): String =
    trigramIndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_trgm_idx")
      Search.writeTrigramIndex(Tables.documents(s, d), "doc_id", "text",
        Seq("source"), p)
      p
    })

  /** [[searchSubstringScan]] through the SERVING path: the stored
    * char-trigram index ([[Search.writeTrigramIndex]] — pg_trgm's idea as
    * a bucketed parquet layout) prunes the read to the needle's trigram
    * buckets, candidates hold ALL needle trigrams, and the exact confirm
    * runs against the stored-field text in `meta` — the raw corpus is
    * never re-scanned. Same independent substring-containment oracle as
    * the scan arm, so the whole store-and-serve path must reproduce raw
    * semantics exactly. */
  def searchSubstringIndexed(s: SparkSession, d: String): DataFrame =
    Search.substringIndexLookup(s, trigramIndexPath(s, d), Needle,
        "doc_id", "text")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  // ---- substring search after a tombstone DELETE ----------------------------
  private val TrgmDelMod = 20
  private val TrgmDelRes = 8 // removes a doc the base needle query returns
  private val trigramDelCache =
    new graft.operators.BoundedMemo[String, String]("search.trigramDelCache")

  /** The takedown verb on the trigram store: build, tombstone the
    * `doc_id ≡ 8 (mod 20)` residue class (which removes a doc the base
    * substring query returns — the delete visibly changes the answer),
    * then serve the same needle. Deletion reuses the layout-generic
    * deletion-vector verb ([[Search.deleteFromPhraseIndex]] — it touches
    * only `meta` + `tombstones`, both of which this layout shares); the
    * oracle restates substring containment over the corpus MINUS the
    * residue class, i.e. the answer of an index rebuilt without the
    * deleted docs. */
  def searchSubstringDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = trigramDelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_trgm_del")
      Search.writeTrigramIndex(docs, "doc_id", "text", Seq("source"), p)
      Search.deleteFromPhraseIndex(s,
        docs.filter(col("doc_id") % TrgmDelMod === TrgmDelRes)
          .select(col("doc_id")), p)
      p
    })
    Search.substringIndexLookup(s, path, Needle, "doc_id", "text")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }
  val searchSubstringDeletedSql: String = searchSubstringScanSql.replace(
    "FROM documents",
    s"FROM (SELECT * FROM documents WHERE doc_id % $TrgmDelMod <> $TrgmDelRes) documents")

  val queries: Seq[QueryDef] = Seq(
    QueryDef("search_substring_scan", searchSubstringScan, searchSubstringScanSql),
    // serving-path twin: stored trigram index, identical answers — the
    // same independent substring-containment oracle
    QueryDef("search_substring_indexed", searchSubstringIndexed, searchSubstringScanSql),
    QueryDef("search_substring_deleted", searchSubstringDeleted, searchSubstringDeletedSql),
    QueryDef("search_fuzzy_term", searchFuzzyTerm, searchFuzzyTermSql),
    QueryDef("search_phrase", searchPhrase, searchPhraseSql),
    // serving-path twin: stored positional index, identical answers —
    // the same independent substring-containment oracle
    QueryDef("search_phrase_indexed", searchPhraseIndexed, searchPhraseSql),
    QueryDef("search_proximity_indexed", searchProximityIndexed, searchProximitySql),
    QueryDef("search_phrase_deleted", searchPhraseDeleted, searchPhraseDeletedSql),
    QueryDef("search_bm25_deleted", searchBm25Deleted, searchBm25DeletedSql),
    QueryDef("search_bm25_filtered", searchBm25Filtered, searchBm25FilteredSql),
    // serving-path twin: same filtered semantics, one shared oracle
    QueryDef("search_bm25_filtered_indexed", searchBm25FilteredIndexed, searchBm25FilteredSql),
    QueryDef("search_bm25", searchBm25, searchBm25Sql),
    // the index is pure I/O layout — semantics ARE search_bm25's
    QueryDef("search_bm25_indexed", searchBm25Indexed, searchBm25Sql),
    QueryDef("search_boolean", searchBoolean, searchBooleanSql),
    QueryDef("search_bm25_prf", searchBm25Prf, searchBm25PrfSql),
    QueryDef("search_hybrid_rrf", searchHybridRrf, searchHybridRrfSql),
    QueryDef("rag_retrieve", ragRetrieve, ragRetrieveSql),
    // serving-path twin: stored artifacts, identical answers — one oracle
    QueryDef("rag_retrieve_indexed", ragRetrieveIndexed, ragRetrieveSql))
}
