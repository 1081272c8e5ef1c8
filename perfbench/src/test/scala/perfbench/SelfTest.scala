package perfbench

import graft.io.TableIO
import graft.model.Doc
import graft.segment.PageSegmenter
import perfbench.Gate.PartDigest

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The benchmark's own tests: generator determinism, policy-sized page
  * continuity, and that the correctness gate rejects broken output.
  * `python3 perfbench/run.py --self-test` builds and runs them. */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(e.toString) }
    results += ((name, r))
    System.err.println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.fold("")(": " + _)}")
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private val Small = Seq(Corpus.Bulk.copy(docs = 400), Corpus.Takedown.copy(docs = 480))

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0)).toAbsolutePath
    val spark = BenchMain.session(args(1).toInt, work)
    try run(spark, work) finally spark.stop()
    val failed = results.count(_._2.nonEmpty)
    println(BenchMain.json(Seq("passed" -> (results.length - failed), "failed" -> failed)))
  }

  private def inputDigest(spark: SparkSession, dir: Path): Map[Int, PartDigest] =
    Gate.tableDigest(spark.read.parquet(dir.resolve("input").toString))

  def run(spark: SparkSession, work: Path): Unit = {
    import spark.implicits._

    Small.foreach { shape =>
      test(s"${shape.name}: same seed, same corpus; another seed, another corpus") {
        val dirs = Seq(7L, 7L, 8L).zipWithIndex.map { case (seed, i) =>
          val d = work.resolve(s"${shape.name}-$i")
          Workloads.setup(spark, shape, seed, d)
          d
        }
        val Seq(a, b, c) = dirs.map(inputDigest(spark, _))
        check(a == b, "seed 7 gave two different corpora")
        check(a != c, "seeds 7 and 8 gave the same corpus")
        check(a.values.map(_.docs).sum == shape.docs, s"corpus holds ${a.values.map(_.docs).sum} docs")
        val expected = dirs.map(d => Files.readString(d.resolve("expected.txt")))
        check(expected(0) == expected(1), "seed 7 gave two different expected digests")
      }
    }

    test("extract_bulk: partition sizes are Zipf-skewed, the largest near a third") {
      val sizes = Corpus.partitionSizes(Corpus.Bulk, 1)
      check(sizes.sum == Corpus.Bulk.docs, s"sizes sum to ${sizes.sum}")
      val share = sizes.max.toDouble / sizes.sum
      check(share > 0.28 && share < 0.38, s"largest partition holds $share of the docs")
    }

    test("policy-sized docs parse through parseHead with contiguous pages") {
      (0L until 20L).foreach { i =>
        val d = Corpus.policyDoc(3, i)
        val pages = d.spans.sortBy(_.offset).map(s => PageSegmenter.parseHead(s.text)._1).filter(_ >= 0)
        check(pages.zip(pages.drop(1)).forall { case (x, y) => y >= x }, s"doc $i: pages go backwards")
        val distinct = pages.distinct
        check(distinct == (1 to distinct.length), s"doc $i: pages are not 1..n")
        check(distinct.length >= Corpus.PolicyMinPages && distinct.length <= Corpus.PolicyMaxPages,
          s"doc $i has ${distinct.length} pages")
      }
    }

    // one real extract run over a small staged corpus, then broken copies of it
    val staged = work.resolve("gate")
    Workloads.setup(spark, Small.head, 5, staged)
    val c = new Workloads.ExtractCall(spark, staged, work.resolve("gate-calls"))
    c.prepare(0)
    c.run(0, None)
    val output = Gate.tableDigest(spark.read.parquet(c.out(0)))
    val lineage = TableIO.readLineage(spark, c.lineage(0)).collect().toSeq

    test("gate accepts the output of runJob") {
      val f = Gate.extractFailures(c.expected, output, lineage)
      check(f.isEmpty, s"partitions $f failed")
      check(lineage.map(_.docs_in).sum == c.expected.values.map(_.docs).sum, "docs_in sum")
    }

    test("gate rejects an output with one span altered") {
      val docs = spark.read.parquet(c.out(0)).as[Doc].collect()
      val victim = docs.filter(_.spans.nonEmpty).minBy(_.doc_id)
      val altered = docs.map { d =>
        if (d.doc_id != victim.doc_id) d
        else d.copy(spans = d.spans.updated(0, d.spans.head.copy(text = d.spans.head.text + " ")))
      }
      val dir = work.resolve("altered").toString
      spark.createDataset(altered.toSeq).toDF().write.partitionBy("partition_id").parquet(dir)
      val f = Gate.extractFailures(c.expected, Gate.tableDigest(spark.read.parquet(dir)), lineage)
      check(f == Set(victim.partition_id), s"failed partitions $f, want ${victim.partition_id}")
    }

    test("gate rejects a lineage with a missing row") {
      val dropped = lineage.minBy(_.partition_id)
      val f = Gate.extractFailures(c.expected, output, lineage.filterNot(_ == dropped))
      check(f == Set(dropped.partition_id), s"failed partitions $f, want ${dropped.partition_id}")
    }

    test("takedown gate rejects a served listed id and a missing lineage row") {
      val expected = Map(0 -> PartDigest(9, 1L), 1 -> PartDigest(10, 2L))
      val deleted = Map(0 -> 1L)
      val row = graft.model.LineageRow(0, 10, 9, 1, 0)
      check(Gate.takedownFailures(expected, expected, Set.empty, deleted, Seq(row)).isEmpty, "clean run failed")
      check(Gate.takedownFailures(expected, expected, Set(0), deleted, Seq(row)) == Set(0), "listed id served")
      check(Gate.takedownFailures(expected, expected, Set.empty, deleted, Nil) == Set(0), "missing row")
    }

    test("layers: call sites map to the layer that submitted the job") {
      def site(frames: String*) = frames.mkString("\n")
      val cases = Seq(
        site("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
          "graft.io.TableIO$.writePartitioned(TableIO.scala:22)",
          "graft.pipeline.ExtractJob$.$anonfun$runJob$1(ExtractJob.scala:219)") -> "io.write",
        site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
          "graft.pipeline.ExtractJob$.$anonfun$runJob$1(ExtractJob.scala:220)") -> "pipeline.stats",
        site("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
          "graft.pipeline.TakedownJob$.$anonfun$runJob$2(TakedownJob.scala:90)") -> "pipeline.stats",
        site("org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)",
          "graft.pipeline.TakedownJob$.$anonfun$runJob$2(TakedownJob.scala:99)") -> "io.write",
        site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
          "graft.pipeline.TakedownJob$.runJob(TakedownJob.scala:80)") -> "io.pending",
        site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
          "graft.pipeline.TakedownJob$.readWithOverlay(TakedownJob.scala:160)",
          "perfbench.Workloads$TakedownCall.run(Workloads.scala:1)") -> "io.overlay_read",
        site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
          "perfbench.Gate$.tableDigest(Gate.scala:1)") -> "bench")
      cases.foreach { case (s, want) =>
        check(Layers.classify(s) == want, s"${Layers.classify(s)} != $want for\n$s")
      }
    }

    test("layered: interval union, batch split and tail percentile") {
      check(Layered.covered(Seq((0L, 2000000L), (1000000L, 3000000L), (5000000L, 6000000L))) == 4.0,
        "covered")
      val jobs = Seq("io.pending", "io.write", "pipeline.stats", "io.lineage_append",
        "io.write", "io.lineage_append").zipWithIndex.map { case (l, i) =>
        Job(i, l, i * 10L, i * 10L + 5, Nil)
      }
      check(Layered.batches(jobs) == Seq((10L, 35L, 3), (40L, 55L, 2)), s"${Layered.batches(jobs)}")
      check(Layered.tail((1 to 30).map(_.toDouble)) == 20.0, "tail of 30")
      check(Layered.tail(Seq(1.0, 2.0)) == 2.0, "tail of 2")
    }
  }
}
