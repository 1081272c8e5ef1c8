package graft.text

import graft.SparkTestBase

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("mergePair: canonical greedy left-to-right pass") {
    def m(s: String, a: String, b: String): String =
      Bpe.mergePair(s.split(" ").toVector, a, b).mkString(" ")
    assert(m("a b c", "a", "b") == "ab c")
    assert(m("a a a a", "a", "a") == "aa aa")
    assert(m("a a a", "a", "a") == "aa a")
    assert(m("x a b a b y", "a", "b") == "x ab ab y")
    assert(m("ab b", "a", "b") == "ab b") // symbols, not substrings
    assert(m("q", "a", "b") == "q")
  }

  test("trainMerges learns the dominant pairs in order, with exact counts") {
    // 'banana' x10: round 1 merges (a,n) count 20 → 'b an an a'. Round 2
    // three pairs tie at 10 — (an,a) wins ((an,*) < (b,*) on lhs, 'a' <
    // 'an' on rhs) → 'b an ana'. Round 3: (an,ana) beats (b,an) on lhs.
    val docs = Seq.fill(10)("banana").mkString(" ")
    val (merges, vocabDf) =
      Bpe.trainMerges(Seq(docs).toDF("text"), "text", k = 3)
    assert(merges.map(m => (m.round, m.lhs, m.rhs, m.pairCount)) == Seq(
      (1, "a", "n", 20L), (2, "an", "a", 10L), (3, "an", "ana", 10L)))
    val syms = vocabDf.select("syms").as[Seq[String]].collect().head
    assert(syms == Seq("b", "anana"))
    graft.io.Persisted.release(spark)
  }

  test("deterministic across partitioning; early stop on single-char vocab") {
    val words = (0 until 300).map(i => s"w${i % 7}token").mkString(" ")
    val df1 = Seq(words).toDF("text")
    val dfN = words.split(" ").toSeq.toDF("text").repartition(13)
    val (m1, _) = Bpe.trainMerges(df1, "text", k = 4)
    val (mN, _) = Bpe.trainMerges(dfN, "text", k = 4)
    assert(m1 == mN)
    graft.io.Persisted.release(spark)

    val (mE, vE) = Bpe.trainMerges(Seq("a b c a b").toDF("text"), "text", k = 5)
    assert(mE.isEmpty) // all words are single chars — no pair to merge
    assert(vE.count() == 3)
    graft.io.Persisted.release(spark)
  }

  private def assertBatchEqSequential(corpus: Seq[String], k: Int,
      window: Int = 64): Seq[Seq[Bpe.Merge]] = {
    val df = corpus.toDF("text")
    val (seq, vSeq) = Bpe.trainMerges(df, "text", k)
    val segSeq = vSeq.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    graft.io.Persisted.release(spark)
    val (batches, vB) = Bpe.trainMergesBatched(df, "text", k, window)
    val segB = vB.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    graft.io.Persisted.release(spark)
    assert(batches.flatten == seq,
      s"rules diverged: batched=${batches.flatten} sequential=$seq")
    assert(segB.toSeq == segSeq.toSeq, "segmented vocab diverged")
    batches
  }

  test("batched trainer ≡ sequential on the banana corpus") {
    // every round conflicts with the previous rule's output, so the safe
    // prefix degenerates to 1 rule/round — the equivalence must still hold
    val b = assertBatchEqSequential(Seq(Seq.fill(10)("banana").mkString(" ")), 3)
    assert(b.map(_.size) == Seq(1, 1, 1))
  }

  test("batched trainer groups disjoint rules into one driver round") {
    // two independent hot pairs (x,y) 40 and (p,q) 30, then a cold tail:
    // round 1 batches both; the conflict bound trims anything ambiguous
    val corpus = Seq.fill(40)("xy") ++ Seq.fill(30)("pq") ++
      Seq.fill(5)("xz") ++ Seq.fill(3)("pr")
    val b = assertBatchEqSequential(Seq(corpus.mkString(" ")), 4)
    assert(b.head.size >= 2, s"expected a real batch, got ${b.map(_.size)}")
  }

  private def assertLocalEqSequential(corpus: Seq[String], k: Int): Unit = {
    val df = corpus.toDF("text")
    val (seq, vSeq) = Bpe.trainMerges(df, "text", k)
    val segSeq = vSeq.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    graft.io.Persisted.release(spark)
    val (loc, vL) = Bpe.trainMergesLocal(df, "text", k)
    val segL = vL.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    graft.io.Persisted.release(spark)
    assert(loc == seq, s"rules diverged: local=$loc sequential=$seq")
    assert(segL.toSeq == segSeq.toSeq, "segmented vocab diverged")
  }

  test("local heap trainer ≡ sequential: rules, counts, ties, segmentation") {
    // overlap-consuming merges + tie ordering (the banana rounds)
    assertLocalEqSequential(Seq(Seq.fill(10)("banana").mkString(" ")), 3)
    // pure tie-break ordering at equal counts
    assertLocalEqSequential(
      Seq((Seq.fill(10)("ab") ++ Seq.fill(10)("cd") ++ Seq.fill(10)("ef")).mkString(" ")), 3)
    // merged-token interactions ((a,b) then (c,ab))
    assertLocalEqSequential(
      Seq(Seq.fill(20)("cab") ++ Seq.fill(20)("ab") ++ Seq.fill(20)("de")).map(_.mkString(" ")), 5)
    // mixed natural-ish text, deeper k than the distributed specs
    assertLocalEqSequential(
      Seq.fill(8)("the quick brown fox jumps over the lazy dog the end") ++
        Seq.fill(5)("pack my box with five dozen liquor jugs"), 12)
    // repeated-symbol runs (aaaa) where greedy overlap consumption matters
    assertLocalEqSequential(Seq(Seq.fill(7)("aaaa").mkString(" ")), 4)
    // maxVocab refusal is loud
    intercept[IllegalArgumentException] {
      Bpe.trainMergesLocal(Seq("one two three").toDF("text"), "text", 2,
        maxVocab = 2)
    }
  }

  test("local trainer breaks ties in UTF-8 order past the BMP, like the argmax") {
    // U+1D538 is a surrogate pair in UTF-16, so as a JVM String it sorts
    // BEFORE U+E000; in UTF-8 bytes (Spark's string order) it sorts after
    val sup = "\uD835\uDD38"; val pua = "\uE000"
    assert(sup.compareTo(pua) < 0 && Bpe.Utf8Order.compare(sup, pua) > 0)
    // four pairs, all at count 10: every round is a pure tie-break
    val v = Seq((sup + "x", Seq(sup, "x")), (pua + "x", Seq(pua, "x")),
      ("x" + sup, Seq("x", sup)), ("x" + pua, Seq("x", pua)))
      .map { case (w, syms) => (w, 10L, syms) }.toDF("word", "cnt", "syms")
    val (seq, vSeq) = Bpe.trainMergesOnVocab(v, 4)
    val segSeq = vSeq.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    graft.io.Persisted.release(spark)
    assert(seq.map(m => (m.lhs, m.rhs)) ==
      Seq(("x", pua), ("x", sup), (pua, "x"), (sup, "x")))
    val (loc, vL) = Bpe.trainMergesLocalOnVocab(v, 4, maxVocab = 100)
    val segL = vL.orderBy("word")
      .select("word", "cnt", "syms").as[(String, Long, Seq[String])].collect()
    assert(loc == seq, s"rules diverged: local=$loc sequential=$seq")
    assert(segL.toSeq == segSeq.toSeq, "segmented vocab diverged")
  }

  test("batched trainer ≡ sequential on adversarial tie/merged-token corpora") {
    // ties at the conflict bound + a pair whose symbols reappear inside a
    // merged token ((a,b) then (c,ab)-shaped interactions)
    assertBatchEqSequential(
      Seq(Seq.fill(20)("cab") ++ Seq.fill(20)("ab") ++ Seq.fill(20)("de")).map(_.mkString(" ")), 5)
    // equal counts everywhere: pure tie-break ordering
    assertBatchEqSequential(
      Seq((Seq.fill(10)("ab") ++ Seq.fill(10)("cd") ++ Seq.fill(10)("ef")).mkString(" ")), 3)
    // small window forces the window-full bound path
    assertBatchEqSequential(
      Seq((0 until 200).map(i => s"w${i % 11}x${i % 5}").mkString(" ")), 6, window = 3)
    // mixed natural-ish text
    assertBatchEqSequential(
      Seq.fill(8)("the quick brown fox jumps over the lazy dog the end") ++
        Seq.fill(5)("pack my box with five dozen liquor jugs"), 8)
  }
}
