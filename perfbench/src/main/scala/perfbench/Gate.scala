package perfbench

import graft.model.{LineageRow, Span}

import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets.UTF_8

/** The correctness gate. Output is compared per partition through an
  * order-independent digest of each doc's `(doc_id, [(kind, text,
  * media_ref, offset)])` sequence, so a failure names the partitions it
  * hit and feeds the error rate. */
object Gate {

  /** Doc count and wrapping sum of the per-doc hashes of one partition. */
  final case class PartDigest(docs: Long, sum: Long) {
    def +(o: PartDigest): PartDigest = PartDigest(docs + o.docs, sum + o.sum)
  }

  private def put(md: java.security.MessageDigest, s: String): Unit =
    if (s == null) md.update(0.toByte)
    else { md.update(1.toByte); md.update(s.getBytes(UTF_8)); md.update(0.toByte) }

  /** 64-bit hash of one doc's span sequence (array order). */
  def docHash(docId: String, spans: Iterator[(String, String, String, Int)]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    put(md, docId)
    spans.foreach { case (k, t, m, o) =>
      put(md, k); put(md, t); put(md, m)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(o).array())
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  def spanHash(docId: String, spans: Seq[Span]): Long =
    docHash(docId, spans.iterator.map(s => (s.kind, s.text, s.media_ref, s.offset)))

  def merge(parts: Iterator[(Int, PartDigest)]): Map[Int, PartDigest] =
    parts.foldLeft(Map.empty[Int, PartDigest]) { case (m, (pid, d)) =>
      m.updated(pid, m.get(pid).fold(d)(_ + d))
    }

  /** Per-partition digests of a `(doc_id, spans, partition_id)` table. */
  def tableDigest(df: DataFrame): Map[Int, PartDigest] = {
    import df.sparkSession.implicits._
    val schema = df.schema
    val (iDoc, iSpans, iPid) =
      (schema.fieldIndex("doc_id"), schema.fieldIndex("spans"), schema.fieldIndex("partition_id"))
    val parts = df.mapPartitions { rows =>
      merge(rows.map { r =>
        val spans = r.getSeq[Row](iSpans).iterator.map(s =>
          (s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref"),
            s.getAs[Int]("offset")))
        (r.getInt(iPid), PartDigest(1, docHash(r.getString(iDoc), spans)))
      }).iterator.map { case (p, d) => (p, d.docs, d.sum) }
    }.collect()
    merge(parts.iterator.map { case (p, n, s) => (p, PartDigest(n, s)) })
  }

  private def digestFailures(expected: Map[Int, PartDigest], actual: Map[Int, PartDigest]): Set[Int] =
    (expected.keySet ++ actual.keySet).filter(p => expected.get(p) != actual.get(p))

  /** Failed partitions of an extract run: output digest differs from the
    * digest EP1 gives for the generated docs, or the lineage does not hold
    * exactly one row whose `docs_in` equals the partition's doc count. Since
    * every partition is checked, the `docs_in` sum equals the corpus size
    * exactly when no partition fails. */
  def extractFailures(expected: Map[Int, PartDigest], output: Map[Int, PartDigest],
      lineage: Seq[LineageRow]): Set[Int] = {
    val rows = lineage.groupBy(_.partition_id)
    val badLineage = (expected.keySet ++ rows.keySet).filter { p =>
      rows.get(p) match {
        case Some(Seq(r)) => !expected.get(p).exists(_.docs == r.docs_in)
        case _            => true
      }
    }
    digestFailures(expected, output) ++ badLineage
  }

  /** Failed partitions of a takedown run: a listed id is served, the served
    * docs differ from the generated docs minus the listed ones, or the
    * lineage does not hold exactly one row per affected partition with the
    * right before/deleted counts. `deleted` maps each affected partition to
    * its number of listed docs. */
  def takedownFailures(expected: Map[Int, PartDigest], served: Map[Int, PartDigest],
      servingListed: Set[Int], deleted: Map[Int, Long], lineage: Seq[LineageRow]): Set[Int] = {
    val rows = lineage.groupBy(_.partition_id)
    val badLineage = (deleted.keySet ++ rows.keySet).filter { p =>
      rows.get(p) match {
        case Some(Seq(r)) => !(deleted.get(p).contains(r.spans_out) &&
          expected.get(p).exists(_.docs + r.spans_out == r.docs_in))
        case _ => true
      }
    }
    digestFailures(expected, served) ++ servingListed ++ badLineage
  }
}
