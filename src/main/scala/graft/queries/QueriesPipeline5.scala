package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Testdata

/** Training-data pipeline operators, part 5: semantic dedup, corpus
  * block/substring duplication analysis, RAG chunking, and IVF index
  * diagnostics.
  *
  * Scale notes (100 TB):
  *   - SemDeDup bounds the pair explosion the same way the paper does:
  *     candidate pairs exist only WITHIN an embedding cluster, so the
  *     self-join shuffles by cluster id and the per-cluster list is
  *     capped by construction (cluster COUNT grows with the corpus,
  *     cluster SIZE does not); nothing ever compares all pairs;
  *   - block/substring duplication is one hash-keyed shuffle of
  *     (block → location) rows — the exact-substring-dedup shape from
  *     Lee et al. 2022 ("Deduplicating Training Data Makes Language
  *     Models Better") with sliding k-gram hashes standing in for the
  *     suffix array, which does not distribute;
  *   - chunking is a pure per-row explode (no shuffle at all): each
  *     shard chunks its own documents and the output is written back
  *     partition-local;
  *   - IVF stats re-run the broadcast-centroid assignment pass; a real
  *     deployment materializes the assignment at ingest and the stats
  *     are a groupBy over the stored list id.
  *
  * Cross-engine determinism ([[Det]] playbook): duplicate counts,
  * ppm ratios, chunk geometry are exact integers; cosine values are
  * rounded to 6 decimals AND the semantic-dedup threshold (0.42) sits
  * 1.7e-3 away from the nearest pair similarity on this corpus, three
  * orders of magnitude above any summation-order ulp noise.
  */
object QueriesPipeline5 extends QueryPack {

  private def q(name: String, oracle: String)(f: Testdata => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => f(Testdata(s, dir)), Some(oracle))

  /** SEMANTIC DEDUP (SemDeDup): embeddings are clustered (broadcast
    * k = 8 seed centroids, max-cosine assignment — the
    * `pipe_kmeans_assign` step), then ONLY within-cluster pairs are
    * compared and pairs above the similarity threshold become dedup
    * decisions (keep the lower vec_id). The clustering is exactly what
    * makes semantic dedup tractable: the quadratic pair space shrinks
    * to per-cluster blocks, and the self-join shuffles on cluster id.
    */
  val semDedup: Q = q(
    "pipe_semdedup",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |sims AS (
      |  SELECT e.vec_id, c.cid,
      |    list_dot_product(e.v, c.cv)
      |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
      |  FROM e CROSS JOIN c),
      |best AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |    FROM sims) WHERE rn = 1),
      |ev AS (SELECT b.vec_id, b.cid, e.v FROM best b JOIN e USING (vec_id)),
      |pairs AS (
      |  SELECT a.cid AS cluster, a.vec_id AS keep_id, b.vec_id AS drop_id,
      |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
      |  FROM ev a JOIN ev b ON a.cid = b.cid AND a.vec_id < b.vec_id)
      |SELECT cluster, keep_id, drop_id, sim FROM pairs
      |WHERE sim >= 0.42
      |ORDER BY cluster, keep_id, drop_id""".stripMargin
  ) { td =>
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val e = td.embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // centroids broadcast as ONE array row and the argmax folds in-row
    // (max cos, ties → lowest cid — the total order the previous
    // max_by(cid, struct(cos, -cid)) ranked by, so the winner is
    // identical for any list order; the unrounded cosine expression is
    // the same left-fold dot product, bit-for-bit). r20: the per-vector
    // groupBy Exchange and the join re-attaching v both disappear —
    // the embedding table is never shuffled before the pair stage.
    val cArr = c.agg(collect_list(struct(col("cid"), col("cv"))).as("__cents"))
    val ev = e.crossJoin(broadcast(cArr))
      .withColumn("__scored", transform(col("__cents"), cc => struct(
        cc.getField("cid").as("cid"),
        (dot(col("v"), cc.getField("cv")) /
          (sqrt(dot(col("v"), col("v"))) *
            sqrt(dot(cc.getField("cv"), cc.getField("cv"))))).as("c"))))
      .withColumn("cid", graft.pipeline.Ann.argmaxBy(col("__scored"), "cid"))
      .drop("__cents", "__scored")
    val a = ev.select(col("cid"), col("vec_id").as("keep_id"), col("v").as("va"))
    val b = ev.select(col("cid"), col("vec_id").as("drop_id"), col("v").as("vb"))
    a.join(b, Seq("cid")) // shuffles by cluster id — the bounded pair space
      .filter(col("keep_id") < col("drop_id"))
      .select(col("cid").as("cluster"), col("keep_id"), col("drop_id"),
        round(graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")), 6)
          .as("sim"))
      .filter(col("sim") >= 0.42)
      .orderBy("cluster", "keep_id", "drop_id")
  }

  /** SEMANTIC DEDUP, production path (two-level coarse quantizer —
    * [[graft.pipeline.Ann.semDedupHier]]): vectors and centroids first
    * assign to ~√k super-centroids, then each vector compares only
    * against the centroids sharing its super bucket — O(n·√k)
    * assignment instead of the flat O(n·k), which the 100× probe
    * measured super-linear (~190× wall) when k ∝ corpus. The oracle
    * replicates the exact two-level argmax (round-6 cosines, lowest-id
    * tie-break) so this is hash-gated, not rows-only. `pipe_semdedup`
    * above stays as the flat-assignment semantics pin.
    */
  val semDedupHier: Q = q(
    "pipe_semdedup_hier",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |sup AS (
      |  SELECT cid AS sid, cv AS sv FROM (
      |    SELECT cid, cv, row_number() OVER (ORDER BY cid) AS rnk FROM c)
      |  WHERE (rnk - 1) % 3 = 0),
      |cs AS (
      |  SELECT cid, sid, cv FROM (
      |    SELECT c.cid, s.sid, c.cv,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 6) DESC, s.sid) AS rn
      |    FROM c CROSS JOIN sup s) WHERE rn = 1),
      |vs AS (
      |  SELECT vec_id, sid, v FROM (
      |    SELECT e.vec_id, s.sid, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC, s.sid) AS rn
      |    FROM e CROSS JOIN sup s) WHERE rn = 1),
      |best AS (
      |  SELECT vec_id, cid, v FROM (
      |    SELECT vs.vec_id, cs.cid, vs.v,
      |      row_number() OVER (PARTITION BY vs.vec_id
      |        ORDER BY round(list_cosine_similarity(vs.v, cs.cv), 6) DESC, cs.cid) AS rn
      |    FROM vs JOIN cs ON vs.sid = cs.sid) WHERE rn = 1),
      |pairs AS (
      |  SELECT a.cid AS cluster, a.vec_id AS keep_id, b.vec_id AS drop_id,
      |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
      |  FROM best a JOIN best b ON a.cid = b.cid AND a.vec_id < b.vec_id)
      |SELECT cluster, keep_id, drop_id, sim FROM pairs
      |WHERE sim >= 0.42
      |ORDER BY cluster, keep_id, drop_id""".stripMargin
  ) { td =>
    val e = td.embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    graft.pipeline.Ann.semDedupHier(e, c, 0.42)
      .orderBy("cluster", "keep_id", "drop_id")
  }

  /** BLOCK-LEVEL DEDUP analysis (the paragraph-dedup pass of C4/CCNet
    * preprocessing, token blocks standing in for paragraphs in this
    * newline-free corpus): each document is cut into non-overlapping
    * 16-token blocks, block occurrences are counted corpus-wide, and
    * each document reports how much of it is duplicated elsewhere.
    * One block-hash shuffle + one doc_id rollup.
    */
  val blockDedup: Q = q(
    "pipe_block_dedup",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |blocks AS (
      |  SELECT doc_id, array_to_string(t[i * 16 + 1 : i * 16 + 16], ' ') AS blk
      |  FROM toks, LATERAL (SELECT unnest(generate_series(0,
      |    CAST(ceil(len(t) / 16.0) AS INT) - 1)) AS i) s),
      |cnt AS (SELECT blk, COUNT(*) AS c FROM blocks GROUP BY blk)
      |SELECT b.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
      |  CAST(SUM(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
      |FROM blocks b JOIN cnt USING (blk)
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
  ) { td =>
    val blocks = td.documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        explode(expr("sequence(0, cast(ceil(size(t) / 16.0) as int) - 1)")).as("i"),
        col("t"))
      .select(col("doc_id"), expr("array_join(slice(t, i * 16 + 1, 16), ' ')").as("blk"))
    val cnt = blocks.groupBy(col("blk")).agg(count(lit(1)).as("c"))
    blocks.join(cnt, "blk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("n_dup_blocks"),
        expr("(n_dup_blocks * 1000000) div n_blocks").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** EXACT SUBSTRING duplication (sliding 8-token grams shared by ≥2
    * documents — the distributable approximation of suffix-array
    * substring dedup): every duplicated gram is reported with its
    * corpus spread. The gram → location map is the only shuffle; a
    * 100 TB run hashes the gram instead of carrying the text.
    */
  val substringDup: Q = q(
    "pipe_substring_dup",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |grams AS (
      |  SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS gram
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) s)
      |SELECT gram,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occ,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
      |FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY gram""".stripMargin
  ) { td =>
    td.documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr("sequence(1, size(t) - 7)")).as("i"), col("t"))
      .select(col("doc_id"), expr("array_join(slice(t, i, 8), ' ')").as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("gram")
  }

  /** The in-row CDC chunker behind [[cdcDedup]]: (doc_id, text) →
    * one (doc_id, digest, n_tok) row per chunk. Cut positions
    * (boundary AFTER token i) are i ∈ [4, len−1] where the 4-token
    * window (i−3..i) hashes to a zero first md5 nibble. The guarded
    * sequence upper bound keeps sequence() ascending for short docs
    * (sequence(4, 3) would DESCEND); the `i <= size(t) - 1` predicate
    * drops the no-op boundary after the final token, which the
    * oracle's cumulative-sum formulation ignores by construction.
    * Exposed for CdcChunkingSpec's shift-robustness property and the
    * streaming ingest twin (`Streams.cdcChunkDedup`). Every non-`text`
    * input column is carried through to the chunk rows — pass a
    * pre-pruned frame (the batch query sends only (doc_id, text)) so
    * the downstream digest exchange stays as narrow as the carry-set.
    */
  private[graft] def cdcChunks(documents: DataFrame): DataFrame = {
    val carry = documents.columns.filter(_ != "text").map(col).toSeq
    documents
      // no explicit core-spread repartition here (unlike the
      // pipe_source_overlap_sketch kernel): measured 1.81 s → 2.12 s
      // steady at sf0.1 WITH one — the chunk rows re-shuffle by digest
      // right after, so the extra exchange buys nothing the digest
      // exchange doesn't already provide
      .select(carry :+ split(col("text"), " ", -1).as("t"): _*)
      .withColumn("cuts", expr(
        """filter(sequence(4, greatest(size(t) - 1, 4)),
          |  i -> i <= size(t) - 1 AND
          |       substring(md5(array_join(slice(t, i - 3, 4), ' ')), 1, 1) = '0')"""
          .stripMargin))
      .withColumn("bounds",
        expr("concat(array(0), cuts, array(size(t)))"))
      .select(carry :+ explode(expr(
        """transform(sequence(1, size(bounds) - 1),
          |  j -> slice(t, bounds[j - 1] + 1, bounds[j] - bounds[j - 1]))"""
          .stripMargin)).as("c"): _*)
      .select(carry :+ md5(array_join(col("c"), " ")).as("digest")
        :+ size(col("c")).cast("long").as("n_tok"): _*)
  }

  /** CONTENT-DEFINED CHUNKING dedup (FastCDC-family boundary rule at
    * token granularity): a chunk boundary is declared after token `i`
    * wherever the rolling 4-token window ending at `i` hashes to a
    * zero first nibble (p = 1/16 → expected 16-token chunks, the
    * variable-size counterpart of [[blockDedup]]'s fixed grid). The
    * point of CDC is SHIFT ROBUSTNESS: boundaries are a function of
    * local content only, so an insertion re-chunks just the chunk it
    * lands in, while a fixed 16-token grid shifts every block after
    * the edit and loses all downstream matches. The chunker itself is
    * entirely IN-ROW ([[cdcChunks]] — chunking is per-document by
    * construction, so documents never shuffle to be chunked); only
    * (digest, n_tok) chunk rows — KBs per document — reach the two
    * rollup exchanges (corpus-wide digest counts, then the per-doc
    * duplication report), the same back end as the fixed-grid pass.
    */
  val cdcDedup: Q = q(
    "pipe_cdc_dedup",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (
      |  SELECT doc_id, i, t[i] AS w,
      |    CASE WHEN i >= 4 AND i < len(t)
      |              AND md5(array_to_string(t[i-3:i], ' ')) LIKE '0%'
      |         THEN 1 ELSE 0 END AS cut
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
      |chunked AS (
      |  SELECT doc_id, i, w, COALESCE(SUM(cut) OVER (
      |    PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM pos),
      |chunks AS (
      |  SELECT doc_id, cid, md5(string_agg(w, ' ' ORDER BY i)) AS digest,
      |    COUNT(*) AS n_tok
      |  FROM chunked GROUP BY doc_id, cid),
      |cnt AS (SELECT digest, COUNT(*) AS c FROM chunks GROUP BY digest)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm,
      |  CAST(MAX(n_tok) AS BIGINT) AS max_chunk_tok
      |FROM chunks JOIN cnt USING (digest)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { td =>
    val chunks = cdcChunks(td.documents.select("doc_id", "text"))
    val cnt = chunks.groupBy(col("digest")).agg(count(lit(1)).as("c"))
    chunks.join(cnt, "digest")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        max(col("n_tok")).as("max_chunk_tok"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        expr("(n_dup_chunks * 1000000) div n_chunks").as("dup_ppm"),
        col("max_chunk_tok"))
      .orderBy("doc_id")
  }

  /** RAG CHUNKING: overlapping 64-token windows at stride 48 (1/4
    * overlap), each chunk tagged with its geometry and a content
    * digest — the retrieval-corpus preparation step. Pure per-row
    * explode: no shuffle, each shard chunks its own documents.
    */
  val chunkOverlap: Q = q(
    "pipe_chunk_overlap",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |chunks AS (
      |  SELECT doc_id, k, t[k * 48 + 1 : k * 48 + 64] AS c
      |  FROM toks, LATERAL (SELECT unnest(generate_series(0,
      |    CAST((len(t) - 1) // 48 AS INT))) AS k) s)
      |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
      |  CAST(k * 48 + 1 AS BIGINT) AS start_tok,
      |  CAST(len(c) AS BIGINT) AS n_tok,
      |  md5(array_to_string(c, ' ')) AS chunk_digest
      |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin
  ) { td =>
    td.documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        explode(expr("sequence(0, cast((size(t) - 1) div 48 as int))")).as("k"),
        col("t"))
      .select(col("doc_id"),
        col("k").cast("long").as("chunk_idx"),
        (col("k") * 48L + 1L).as("start_tok"),
        expr("slice(t, k * 48 + 1, 64)").as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("c")).cast("long").as("n_tok"),
        md5(array_join(col("c"), " ")).as("chunk_digest"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** IVF INDEX DIAGNOSTICS: inverted-list balance for the
    * `pipe_ann_ivf` layout (every 50th vector as coarse centroid).
    * `balance_ppm` = list size relative to perfect balance × 1e6 —
    * the number that tells you whether single-probe recall
    * (`pipe_ann_recall`) is limited by a skewed quantizer. The
    * assignment pass is broadcast-centroid; at ingest the list id is
    * materialized and this becomes a groupBy over a stored column.
    */
  val ivfStats: Q = q(
    "pipe_ivf_stats",
    """WITH cents AS (
      |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |sims AS (
      |  SELECT e.vec_id, c.cid,
      |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce), 6) AS sim
      |  FROM embeddings e, cents c),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |    FROM sims) WHERE rn = 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |               (SELECT CAST(COUNT(*) AS BIGINT) FROM cents) AS k FROM assigned)
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm,
      |  CAST(COUNT(*) * tot.k * 1000000 // tot.n AS BIGINT) AS balance_ppm
      |FROM assigned, tot GROUP BY cid, tot.n, tot.k ORDER BY cid""".stripMargin
  ) { td =>
    def cos(x: Column, y: Column): Column =
      round(graft.functions.GraftFunctions.cosine_sim(x, y), 6)
    val emb = td.embeddings
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), cos(col("embedding"), col("ce")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    val tot = assigned.agg(count(lit(1)).as("n"))
      .crossJoin(cents.agg(count(lit(1)).as("k")))
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("(n_vecs * 1000000) div n").as("share_ppm"),
        expr("(n_vecs * k * 1000000) div n").as("balance_ppm"))
      .orderBy("cid")
  }

  /** IVF LIST BUILD, production path: the same two-level quantizer
    * ([[graft.pipeline.Ann.hierAssign]]) building the inverted lists —
    * list balance reported like `pipe_ivf_stats`, but the assignment is
    * O(n·√k), the shape a 100 TB index build runs (centroids every 50th
    * vector, so k ∝ corpus and flat assignment would be super-linear).
    * Oracle replicates the two-level argmax exactly (k = 10 at the
    * verify SF → stride ⌈√k⌉ = 3).
    */
  val ivfHierStats: Q = q(
    "pipe_ivf_hier_stats",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
      |sup AS (
      |  SELECT cid AS sid, cv AS sv FROM (
      |    SELECT cid, cv, row_number() OVER (ORDER BY cid) AS rnk FROM c)
      |  WHERE (rnk - 1) % 3 = 0),
      |cs AS (
      |  SELECT cid, sid, cv FROM (
      |    SELECT c.cid, s.sid, c.cv,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 6) DESC, s.sid) AS rn
      |    FROM c CROSS JOIN sup s) WHERE rn = 1),
      |vs AS (
      |  SELECT vec_id, sid, v FROM (
      |    SELECT e.vec_id, s.sid, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC, s.sid) AS rn
      |    FROM e CROSS JOIN sup s) WHERE rn = 1),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vs.vec_id, cs.cid,
      |      row_number() OVER (PARTITION BY vs.vec_id
      |        ORDER BY round(list_cosine_similarity(vs.v, cs.cv), 6) DESC, cs.cid) AS rn
      |    FROM vs JOIN cs ON vs.sid = cs.sid) WHERE rn = 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |               (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS k FROM assigned)
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm,
      |  CAST(COUNT(*) * tot.k * 1000000 // tot.n AS BIGINT) AS balance_ppm
      |FROM assigned, tot GROUP BY cid, tot.n, tot.k ORDER BY cid""".stripMargin
  ) { td =>
    val e = td.embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = graft.pipeline.Ann.hierAssign(e, "vec_id", "v", cents)
      .select(col("vec_id"), col("cid"))
    val tot = assigned.agg(count(lit(1)).as("n"))
      .crossJoin(cents.agg(count(lit(1)).as("k")))
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("(n_vecs * 1000000) div n").as("share_ppm"),
        expr("(n_vecs * k * 1000000) div n").as("balance_ppm"))
      .orderBy("cid")
  }

  /** IVF LIST STATS over the INGEST-MATERIALIZED assignment — the
    * actual 100 TB deployment shape the other two IVF entries document
    * in prose: the hierarchical assignment runs ONCE at ingest
    * ([[Fixtures.materialized]] stores (vec_id, cid) like the span
    * fixtures store parent_path), and the per-query work is ONE
    * groupBy over the stored list-id column — no centroid broadcast,
    * no assignment pass, no window. Same numbers as
    * `pipe_ivf_hier_stats` (identical assignment), so the oracle SQL
    * replays the two-level argmax; the difference under `.explain` is
    * the plan: scan + single exchange.
    */
  val ivfStoredStats: Q = q(
    "pipe_ivf_stored_stats",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
      |sup AS (
      |  SELECT cid AS sid, cv AS sv FROM (
      |    SELECT cid, cv, row_number() OVER (ORDER BY cid) AS rnk FROM c)
      |  WHERE (rnk - 1) % 3 = 0),
      |cs AS (
      |  SELECT cid, sid, cv FROM (
      |    SELECT c.cid, s.sid, c.cv,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY round(list_cosine_similarity(c.cv, s.sv), 6) DESC, s.sid) AS rn
      |    FROM c CROSS JOIN sup s) WHERE rn = 1),
      |vs AS (
      |  SELECT vec_id, sid, v FROM (
      |    SELECT e.vec_id, s.sid, e.v,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC, s.sid) AS rn
      |    FROM e CROSS JOIN sup s) WHERE rn = 1),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vs.vec_id, cs.cid,
      |      row_number() OVER (PARTITION BY vs.vec_id
      |        ORDER BY round(list_cosine_similarity(vs.v, cs.cv), 6) DESC, cs.cid) AS rn
      |    FROM vs JOIN cs ON vs.sid = cs.sid) WHERE rn = 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |               (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS k FROM assigned)
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm,
      |  CAST(COUNT(*) * tot.k * 1000000 // tot.n AS BIGINT) AS balance_ppm
      |FROM assigned, tot GROUP BY cid, tot.n, tot.k ORDER BY cid""".stripMargin
  ) { td =>
    val spark = td.spark
    val stored = Fixtures.materialized(spark, td.dir, "ivf_assignment",
      "cid") {
      val e = td.embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      val cents = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      graft.pipeline.Ann.hierAssign(e, "vec_id", "v", cents)
        .select(col("vec_id"), col("cid"))
    }
    // query-time work: one groupBy over the stored list id + the tiny
    // totals broadcast (k = the centroid count, from the same
    // every-50th rule the ingest assignment used)
    val tot = stored.agg(count(lit(1)).as("n"))
      .crossJoin(td.embeddings.filter(col("vec_id") % 50 === 0)
        .agg(count(lit(1)).as("k")))
    stored.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("(n_vecs * 1000000) div n").as("share_ppm"),
        expr("(n_vecs * k * 1000000) div n").as("balance_ppm"))
      .orderBy("cid")
  }

  /** LM PERPLEXITY scoring (the CCNet-style quality signal a model
    * filter uses): a bigram language model with add-one smoothing is
    * trained on the corpus itself, and every document is scored by its
    * cross-entropy under that model. The "model" — (w1, w2) → log
    * conditional — is a vocabulary²-bounded table (pruned to top-M
    * bigrams in production), BROADCAST back over the corpus, so the
    * scoring pass is one broadcast join + one doc_id rollup; the
    * corpus-side bigram explode never shuffles for the join.
    *
    * Det: counts are exact integers; each log term is the same IEEE
    * expression shape on both engines, and the per-doc sum's
    * accumulation-order noise (~1e-13) is absorbed by round-6 like the
    * cosine family.
    */
  val lmPerplexity: Q = q(
    "pipe_lm_perplexity",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |ucnt AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM ucnt),
      |docbig AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
      |bcnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM docbig GROUP BY w1, w2),
      |scored AS (
      |  SELECT d.doc_id, COUNT(*) AS n_bigrams,
      |    SUM(ln((b.c12 + 1.0) / (u.c1 + v.v))) AS ll
      |  FROM docbig d
      |  JOIN bcnt b ON d.w1 = b.w1 AND d.w2 = b.w2
      |  JOIN ucnt u ON d.w1 = u.w
      |  CROSS JOIN vocab v
      |  GROUP BY d.doc_id)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  ROUND(-ll / n_bigrams, 6) AS cross_entropy,
      |  ROUND(exp(-ll / n_bigrams), 6) AS perplexity
      |FROM scored ORDER BY doc_id""".stripMargin
  ) { td =>
    val toks = td.documents
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
    val docbig = toks
      .select(col("doc_id"), explode(expr("sequence(1, size(t) - 1)")).as("i"),
        col("t"))
      .select(col("doc_id"), expr("element_at(t, i)").as("w1"),
        expr("element_at(t, i + 1)").as("w2"))
    val ucnt = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = ucnt.agg(count(lit(1)).as("v"))
    val bcnt = docbig.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // the LM itself: vocabulary-bounded, broadcast over the corpus
    val model = bcnt
      .join(ucnt, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        log((col("c12") + lit(1.0)) / (col("c1") + col("v"))).as("logp"))
    docbig
      .join(broadcast(model), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp")).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("ll") / col("n_bigrams"), 6).as("cross_entropy"),
        round(exp(-col("ll") / col("n_bigrams")), 6).as("perplexity"))
      .orderBy("doc_id")
  }

  /** MERGEABLE DISTINCT SKETCH (DataSketches HLL via
    * `hll_sketch_agg`): per-source distinct-document estimates plus a
    * `__total__` row whose sketch is the UNION of the per-source
    * sketches — the associativity that makes distinct counting work at
    * 100 TB (shards sketch locally, only KB-sized sketches move;
    * `countDistinct` would shuffle every distinct value). Exact counts
    * ride alongside so the error is measurable. No SQL oracle —
    * DataSketches estimates aren't reproducible in DuckDB — so the
    * gate is rows-only and SketchSpec pins the semantics (≤2 % error,
    * union-of-parts == whole).
    */
  val distinctSketch: Q = Q(
    "pipe_distinct_sketch",
    (s: SparkSession, dir: String) => {
      val docs = Testdata(s, dir).documents
      val per = docs.groupBy(col("source"))
        .agg(hll_sketch_agg(col("text")).as("sk"),
          countDistinct(col("text")).as("exact"))
      val perOut = per.select(col("source"), col("exact"),
        hll_sketch_estimate(col("sk")).cast("long").as("estimate"))
      val totalOut = per.agg(hll_union_agg(col("sk")).as("sk"))
        .crossJoin(broadcast(docs.agg(countDistinct(col("text")).as("exact"))))
        .select(lit("__total__").as("source"), col("exact"),
          hll_sketch_estimate(col("sk")).cast("long").as("estimate"))
      perOut.unionByName(totalOut).orderBy("source")
    },
    oracle = None)

  /** DISTINCT-SKETCH TOLERANCE BAND — the cross-engine check for the
    * sketch family: each engine runs its OWN HLL (DataSketches here,
    * DuckDB's `approx_count_distinct` in the oracle) and asserts it
    * lands within 5 % of the exact distinct count (with an absolute
    * floor of 10 for the tiny per-source sets, where one missed value
    * is already 4 %; the Spark sketch's own ≤2 % pin lives in
    * SketchSpec); the exact counts and the band verdicts are what
    * hash-compare. A sketch drift past the band flips the boolean and
    * fails the gate, so `pipe_distinct_sketch` (rows-only, prints raw
    * estimates) now has an oracle-gated twin. The `__total__` row bands
    * the UNION of per-source sketches — the mergeability that matters
    * at 100 TB.
    */
  val distinctSketchBand: Q = q(
    "pipe_distinct_sketch_band",
    """WITH per AS (
      |  SELECT source,
      |    CAST(COUNT(DISTINCT text) AS BIGINT) AS exact,
      |    CAST(approx_count_distinct(text) AS BIGINT) AS est
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT '__total__' AS source,
      |    CAST(COUNT(DISTINCT text) AS BIGINT) AS exact,
      |    CAST(approx_count_distinct(text) AS BIGINT) AS est
      |  FROM documents)
      |SELECT source, exact,
      |  CAST(abs(est - exact) <= greatest(0.05 * exact, 10) AS BOOLEAN)
      |    AS sketch_in_band
      |FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
      |ORDER BY source""".stripMargin
  ) { td =>
    val docs = td.documents
    val per = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("text")).as("sk"),
        countDistinct(col("text")).as("exact"))
    val perOut = per.select(col("source"), col("exact"),
      hll_sketch_estimate(col("sk")).cast("long").as("est"))
    val totalOut = per.agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(docs.agg(countDistinct(col("text")).as("exact"))))
      .select(lit("__total__").as("source"), col("exact"),
        hll_sketch_estimate(col("sk")).cast("long").as("est"))
    perOut.unionByName(totalOut)
      .select(col("source"), col("exact"),
        (abs(col("est") - col("exact")) <=
          greatest(lit(0.05) * col("exact"), lit(10)))
          .as("sketch_in_band"))
      .orderBy("source")
  }

  override def queries: Seq[Q] =
    Seq(semDedup, semDedupHier, blockDedup, substringDup, cdcDedup, chunkOverlap,
      ivfStats, ivfHierStats, ivfStoredStats, lmPerplexity, distinctSketch,
      distinctSketchBand)
}
