package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** The multimodal family (`mm_*`): media metadata, frame sampling and
  * binary-signature near-dup over the media stand-in column. Each
  * registration carries its Spark builder and its DuckDB oracle.
  */
object MultimodalQueries {

  import OracleSql.{h32Sql, ngramSql, toksSql}

  /** `mm_neardup` knobs — ONE definition feeds the Spark registry
    * entry and every literal in its SQL oracle (signature width, the
    * bucket divisor `2^(bits - prefixBits)` matching
    * [[graft.ops.Dedup.simHashPairs]]'s `shiftright`, the Hamming
    * threshold, the shingle width), so a tweak to either side cannot
    * silently break engine/oracle parity — the `spanN` discipline.
    */
  private val mmNdBits = 32
  private val mmNdPrefixBits = 12
  private val mmNdMaxHamming = 4
  private val mmNdShingleN = 2
  private val mmNdBucketDiv: Long = 1L << (mmNdBits - mmNdPrefixBits)

  val entries: Seq[Query] = Seq(
    Query("mm_meta", s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST((strlen(text) + 63) // 64 AS BIGINT) AS n_frames,
         |  ${h32Sql("text")} AS checksum
         |FROM documents
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Multimodal.mediaMeta(Tables.documents(s, d), "doc_id", "text", frameSize = 64)
        .orderBy(col("doc_id"))),
    Query("mm_frames", s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS frame_id,
         |  CAST(length(f) AS BIGINT) AS frame_len,
         |  ${h32Sql("f")} AS frame_checksum
         |FROM (
         |  SELECT doc_id, i, substr(text, (i - 1) * 64 + 1, 64) AS f
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(1,
         |      greatest(CAST((length(text) + 63) // 64 AS INT), 1))) AS i) g
         |  WHERE doc_id < 50)
         |WHERE length(f) > 0
         |ORDER BY doc_id, frame_id""".stripMargin)((s, d) =>
      Multimodal.sampleFrames(Tables.documents(s, d).filter(col("doc_id") < 50),
          "doc_id", "text", frameSize = 64)
        .orderBy(col("doc_id"), col("frame_id"))),
    // multimodal near-dup: 32-bit min-hash parity signature over the
    // media stand-in's shingled features (per-bit universal-hash
    // min-fold, parity of each min -> bit) -> Hamming-prefix bucket
    // pair join — the dedup verb for the binary-column family. Knobs
    // single-sourced with the SQL oracle via the mmNd* constants.
    Query("mm_neardup", s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= $mmNdShingleN
         |    THEN ${ngramSql("t", mmNdShingleN)}
         |    ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM tl WHERE len(t) > 0),
         |mh AS (
         |  SELECT doc_id, j,
         |    min((((2654435761 * (j + 1)) % 2147483647) * h + j) % 2147483647) AS m
         |  FROM (SELECT doc_id, ${h32Sql("g")} % 2147483647 AS h FROM grams),
         |       (SELECT unnest(generate_series(0, ${mmNdBits - 1})) AS j) s
         |  GROUP BY doc_id, j),
         |ph AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN m % 2 = 1
         |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
         |  FROM mh GROUP BY doc_id),
         |bk AS (SELECT doc_id, phash, phash // $mmNdBucketDiv AS bucket FROM ph)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b2.phash)) AS BIGINT) AS hamming
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.phash, b2.phash)) <= $mmNdMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin)((s, d) =>
      Multimodal.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          prefixBits = mmNdPrefixBits, maxHamming = mmNdMaxHamming,
          shingleN = mmNdShingleN)
        .orderBy(col("doc_a"), col("doc_b"))))
}
