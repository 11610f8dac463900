package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Content-defined chunking (Muthitacharoen/Chen/Mazières SOSP'01 — the
  * LBFS primitive behind every dedup store: restic, borg, Venti): chunk
  * boundaries come from the CONTENT (a rolling-hash residue), not fixed
  * offsets, so an insertion shifts only the chunk that contains it —
  * fixed-size blocks would shift every later block and destroy dedup.
  * Token-granularity variant over the documents corpus.
  */
object ChunkOps {

  /** Split each doc into content-defined chunks: a token closes its chunk
    * when h32(token) % divisor == 0 (expected chunk length = divisor
    * tokens). Returns (doc_id, chunk_no, chunk_text, n_tok).
    *
    * Scale shape: one narrow token pass; the chunk-number prefix sum is a
    * per-doc bounded window; chunk assembly is a doc-local groupBy with a
    * sort-keyed deterministic join (the A5 discipline — collect_list
    * order is not deterministic, the sorted struct array is).
    */
  def cdcChunks(docs: DataFrame, divisor: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(Text.tokens).as(Seq("pos", "w")))
      .withColumn("b",
        when(conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
          % divisor === 0, 1).otherwise(0))
    val wc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok
      .withColumn("chunk_no", sum(col("b")).over(wc) - col("b"))
      .groupBy("doc_id", "chunk_no")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("chunk_text"),
        count(lit(1)).as("n_tok"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dd112_cdc_chunks",
      "Content-defined chunking dedup (LBFS / restic / borg primitive, token granularity): a token closes its chunk when its 32-bit hash % 16 == 0, so boundaries are content-defined and an insertion shifts only its own chunk — the property that makes cross-doc chunk dedup survive edits, where fixed-offset chunking (dd21/dd83) loses every chunk after the edit. Emits md5-chunk classes shared by >= 2 docs with doc/occurrence counts. One narrow token pass, per-doc bounded windows, one chunk-hash groupBy — no pairwise stage at any size",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
        ),
        h AS (
          SELECT doc_id, pos, w,
                 CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT % 16 = 0
                      THEN 1 ELSE 0 END AS b
          FROM tok
        ),
        ch AS (
          SELECT doc_id, pos, w,
                 SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b AS chunk_no
          FROM h
        ),
        chunks AS (
          SELECT doc_id, chunk_no, md5(string_agg(w, ' ' ORDER BY pos)) AS chash,
                 count(*) AS n_tok
          FROM ch GROUP BY 1, 2
        )
        SELECT chash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(min(n_tok) AS BIGINT) AS n_tok
        FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
      """)) { (s, dir) =>
      cdcChunks(t(s, dir, "documents").select(col("doc_id"), col("text")), divisor = 16)
        .select(col("doc_id"), md5(col("chunk_text")).as("chash"), col("n_tok"))
        .groupBy("chash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"),
          min(col("n_tok")).as("n_tok"))
        .filter(col("n_docs") >= 2)
    }
  )
}
