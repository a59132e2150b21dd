package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 RAG-side widening: overlapping chunk packing WITH pooled
  * chunk embeddings (`llm_chunk_embed`, L405) — the retrieval sibling
  * of L105's `llm_pack_context` (that key packs docs into training
  * bins; this one splits docs into the overlapping windows a RAG index
  * actually stores, and attaches an exactly-poolable vector plus full
  * chunk→doc provenance).
  *
  * Chunking: [[ChunkLen]]-token windows at [[Stride]] (overlap
  * [[ChunkLen]]−[[Stride]]), the standard splitter recipe; production
  * 256/192 is the same arithmetic, the fixture-scale 32/24 keeps the
  * 27–100-word documents multi-chunk so the count arithmetic is
  * actually exercised. Starts are 0, Stride, 2·Stride, …; the LAST
  * start is the first one whose window reaches the end, so every token
  * is covered exactly once by a final (possibly short) chunk and
  * n_chunks = 1 + max(0, ⌈(n − ChunkLen)/Stride⌉).
  *
  * Pooling — the exact integer path: the document vector is int8-
  * quantized per L102's `llm_embed_quantize` rule (q_d = round(x_d ·
  * 127/max|x|), the symmetric per-vector scale), each token i carries
  * the deterministic rotation tv_i[d] = q[(d+i) mod 64] (the sanctioned
  * multimodal-stub convention: a fake token encoder with REAL pooling
  * arithmetic — different chunks genuinely pool different vectors), and
  * the chunk vector is the SUM pool c[d] = Σ_{i∈chunk} q[(d+i) mod 64]
  * — all int64-exact, summarized per chunk as the L1 mass and the dot
  * product against the doc vector (two scalars that pin every pooled
  * component through the oracle hash).
  *
  * 100-TB shape: one broadcast-free equi-join documents⋈embeddings on
  * the id, then everything is row-local `transform`/`aggregate` HOFs
  * inside the scan projection — the chunk explosion multiplies rows by
  * ~n/Stride but carries only (ids, 3 ints, 2 sums), never the text;
  * no shuffle beyond the join. */
object Llm18 {

  private[graft] val ChunkLen = 32
  private[graft] val Stride = 24
  private val Dim = 64

  def chunkEmbed(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(filter(split(col("text"), " "), w => w =!= lit("")))
      .cast("long")
    val docs = documents(spark, dir)
      .select(col("doc_id"), toks.as("n"))
      .where(col("n") > 0)
    val embD = transform(col("embedding"), x => x.cast("double"))
    val q = embeddings(spark, dir)
      .select(col("vec_id"),
        transform(embD, x =>
          round(x * (lit(127.0) / array_max(transform(embD, e => abs(e)))), 0)
            .cast("long")).as("q"))
    docs.join(q, col("doc_id") === col("vec_id"))
      .withColumn("n_chunks",
        when(col("n") <= ChunkLen, lit(1L))
          .otherwise(expr(s"1L + (n - $ChunkLen + ${Stride - 1}) div $Stride")))
      .withColumn("chunk_no",
        explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("tok_start", col("chunk_no") * Stride)
      .withColumn("tok_len", least(lit(ChunkLen.toLong), col("n") - col("tok_start")))
      .withColumn("c", expr(
        s"""transform(sequence(0, ${Dim - 1}), d ->
            aggregate(sequence(0, cast(tok_len as int) - 1), 0L,
              (acc, j) -> acc + element_at(q,
                cast((d + tok_start + j) % $Dim as int) + 1)))"""))
      .select(col("doc_id"), col("chunk_no"), col("tok_start"),
        col("tok_len"), col("n_chunks"),
        expr("aggregate(c, 0L, (acc, v) -> acc + abs(v))").as("l1_q"),
        expr(s"""aggregate(sequence(0, ${Dim - 1}), 0L,
            (acc, d) -> acc + element_at(c, cast(d as int) + 1)
              * element_at(q, cast(d as int) + 1))""").as("dot_doc_q"))
      .orderBy("doc_id", "chunk_no")
  }

  val entries: Map[String, Op] = Map(
    "llm_chunk_embed" -> Op(chunkEmbed,
      s"""WITH d AS (SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
               AS BIGINT) AS n
           FROM documents WHERE len(list_filter(string_split(text, ' '),
             w -> w != '')) > 0),
         qv AS (SELECT vec_id,
             list_transform(range(1, ${Dim + 1}), i ->
               CAST(CAST(round(CAST(embedding[i] AS DOUBLE)
                 * (127.0 / list_max(list_transform(embedding, x ->
                     abs(CAST(x AS DOUBLE))))), 0) AS INT) AS BIGINT)) AS q
           FROM embeddings),
         ch AS (SELECT doc_id, n, q,
             unnest(range(0, CASE WHEN n <= $ChunkLen THEN 1
               ELSE 1 + (n - $ChunkLen + ${Stride - 1}) // $Stride END))
               AS chunk_no,
             CASE WHEN n <= $ChunkLen THEN 1
               ELSE 1 + (n - $ChunkLen + ${Stride - 1}) // $Stride END
               AS n_chunks
           FROM d JOIN qv ON qv.vec_id = d.doc_id),
         cc AS (SELECT doc_id, chunk_no, n_chunks,
             chunk_no * $Stride AS tok_start,
             LEAST($ChunkLen, n - chunk_no * $Stride) AS tok_len, q
           FROM ch),
         pooled AS (SELECT doc_id, chunk_no, tok_start, tok_len, n_chunks, q,
             list_transform(range(0, $Dim), d ->
               list_sum(list_transform(range(0, tok_len), j ->
                 q[CAST((d + tok_start + j) % $Dim AS BIGINT) + 1]))) AS c
           FROM cc)
         SELECT doc_id, chunk_no, tok_start, tok_len, n_chunks,
           CAST(list_sum(list_transform(c, v -> abs(v))) AS BIGINT) AS l1_q,
           CAST(list_sum(list_transform(range(0, $Dim), d ->
             c[d + 1] * q[d + 1])) AS BIGINT) AS dot_doc_q
         FROM pooled ORDER BY doc_id, chunk_no"""),
  )
}
