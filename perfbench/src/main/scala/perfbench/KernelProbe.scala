package perfbench

import graft.classify.Filters
import graft.model.{Doc, Kind, Span}
import graft.pipeline.{Ep1Config, Ep1Core}
import graft.ranges.Islands
import graft.segment.PageSegmenter

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Times `Ep1Core.process` over docs held in memory, and each of its phases by
  * calling the same public functions in the same order over the same docs:
  * `PageSegmenter.parseHead` (parse), `Filters.f5Gibberish` (A2 gate),
  * `Filters.f1DollarPage*`/`f2Keyword*` (F1/F2), `Islands.mergeRanges` +
  * `keptPages` (R1/R4). Every pass runs on `threads` threads and is the
  * median of three. */
object KernelProbe {

  final case class Result(kernelS: Double, parseS: Double, a2S: Double, filterS: Double,
      mergeS: Double, spans: Long, a2Fallbacks: Long, hitPages: Long, pagesIn: Long,
      pagesKept: Long, charsIn: Long, charsOut: Long)

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def measure(docs: Array[Doc], threads: Int, cfg: Ep1Config = Ep1Config()): Result = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      /** Wall seconds of `f(i)` over every doc index, spread over the pool. */
      def pass(f: Int => Unit): Double = {
        val next = new AtomicInteger(0)
        val t0 = System.nanoTime()
        val fs = (0 until threads).map(_ => pool.submit(new Runnable {
          def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < docs.length) { f(i); i = next.getAndIncrement() }
          }
        }))
        fs.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      def timed(f: Int => Unit): Double = median((1 to 3).map(_ => pass(f)))

      val n = docs.length
      val outs = new Array[Seq[Span]](n)
      val kernelS = timed(i => outs(i) = Ep1Core.process(docs(i), cfg))

      val sorted = docs.map(_.spans.sortBy(_.offset).toArray)
      val pages = sorted.map(s => new Array[Int](s.length))
      val bodies = sorted.map(s => new Array[String](s.length))
      val parseS = timed { i =>
        var current = 1
        var j = 0
        while (j < sorted(i).length) {
          val (p, body) = PageSegmenter.parseHead(sorted(i)(j).text)
          if (p >= 0) current = p
          pages(i)(j) = current
          bodies(i)(j) = body
          j += 1
        }
      }

      val dropOcr = new Array[Boolean](n)
      val a2S = timed { i =>
        var ocr = 0; var bad = 0; var chars = 0L
        var j = 0
        while (j < sorted(i).length) {
          if (sorted(i)(j).kind == Kind.Ocr) {
            ocr += 1
            if (Filters.f5Gibberish(bodies(i)(j))) bad += 1
            chars += bodies(i)(j).length
          }
          j += 1
        }
        dropOcr(i) = ocr > 0 &&
          (bad.toDouble / ocr > cfg.corruptionRatio || chars < cfg.minTotalChars)
      }

      val kinds = Seq(Kind.Ocr, Kind.Text)
      // page domain of each (doc, kind) in first-occurrence order
      val domains = Array.tabulate(n)(i => kinds.map { k =>
        sorted(i).indices.filter(j => sorted(i)(j).kind == k).map(pages(i)(_)).distinct
      })
      val hits = Array.fill(n)(Array.fill(kinds.length)(mutable.ArrayBuffer.empty[Int]))
      val filterS = timed { i =>
        kinds.indices.foreach { k =>
          hits(i)(k).clear()
          if (!(kinds(k) == Kind.Ocr && dropOcr(i))) {
            val seen = mutable.HashSet.empty[Int]
            var j = 0
            while (j < sorted(i).length) {
              val s = sorted(i)(j)
              if (s.kind == kinds(k) && !seen.contains(pages(i)(j))) {
                val hit = if (Filters.isAscii(s.text)) {
                  val low = s.text.toLowerCase
                  Filters.f1DollarPageLowered(s.text, low) || Filters.f2KeywordLowered(low)
                } else Filters.f1DollarPage(s.text) || Filters.f2Keyword(s.text)
                if (hit) { hits(i)(k) += pages(i)(j); seen += pages(i)(j) }
              }
              j += 1
            }
          }
        }
      }

      val kept = Array.fill(n)(new Array[Int](kinds.length))
      val mergeS = timed { i =>
        kinds.indices.foreach { k =>
          val dom = domains(i)(k)
          val ranges = Islands.mergeRanges(hits(i)(k).toSeq, dom, cfg.buffer)
          kept(i)(k) = Islands.keptPages(ranges, dom.toSet).take(cfg.maxPages).length
        }
      }

      Result(kernelS, parseS, a2S, filterS, mergeS,
        spans = sorted.map(_.length.toLong).sum,
        a2Fallbacks = dropOcr.count(identity).toLong,
        hitPages = hits.map(_.map(_.length.toLong).sum).sum,
        pagesIn = domains.map(_.map(_.length.toLong).sum).sum,
        pagesKept = kept.map(_.map(_.toLong).sum).sum,
        charsIn = docs.map(_.spans.map(s => Option(s.text).fold(0L)(_.length.toLong)).sum).sum,
        charsOut = outs.map(_.map(s => Option(s.text).fold(0L)(_.length.toLong)).sum).sum)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
