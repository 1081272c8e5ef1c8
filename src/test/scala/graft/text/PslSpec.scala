package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PslSpec extends SparkTestBase {
  import spark.implicits._

  test("parse: comments, blanks, wildcards, exceptions, depth") {
    val r = Psl.parse(Iterator(
      "// comment", "", "com", "co.uk", "*.ck", "!www.ck",
      "*.kawasaki.jp", "!city.kawasaki.jp", "k12.ca.us",
      "  whitespace.example  "))
    assert(r.normal.contains("com") && r.normal.contains("co.uk"))
    assert(r.normal.contains("whitespace.example"))
    assert(r.wildcard == Set("ck", "kawasaki.jp"))
    assert(r.exception == Set("www.ck", "city.kawasaki.jp"))
    // the deepest rule has 3 labels; a normal rule needs no headroom
    assert(r.maxDepth == 3)
    assert(Psl.parse(Iterator("com", "co.uk")).maxDepth == 2)
  }

  test("publicsuffix.org algorithm: normal, wildcard, exception, default, depth-3") {
    val cases = Seq(
      // normal rules at depth 1 and 2
      "example.com" -> "example.com",
      "deep.sub.example.com" -> "example.com",
      "a.b.news.co.uk" -> "news.co.uk",
      "co.uk" -> "co.uk",                      // host IS a public suffix
      // unlisted TLD: the prevailing "*" rule (last label is the suffix)
      "sub.host.unlistedtld" -> "host.unlistedtld",
      "localhost" -> "localhost",
      // wildcard *.ck: every second level is a suffix...
      "www.shop.example.ck" -> "shop.example.ck",
      "shop.example.ck" -> "shop.example.ck",
      "example.ck" -> "example.ck",            // = public suffix, passthrough
      // ...except the !www.ck exception, which is itself registrable
      "www.ck" -> "www.ck",
      "shop.www.ck" -> "www.ck",
      // the kawasaki.jp city wildcard + exception pair
      "city.kawasaki.jp" -> "city.kawasaki.jp",
      "sub.city.kawasaki.jp" -> "city.kawasaki.jp",
      "foo.bar.kawasaki.jp" -> "foo.bar.kawasaki.jp",
      "kawasaki.jp" -> "kawasaki.jp",
      // depth-3 normal rules (k12.ca.us) and private-section entries
      "school.k12.ca.us" -> "school.k12.ca.us",
      "www.school.k12.ca.us" -> "school.k12.ca.us",
      "bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com",
      "x.bucket.s3.amazonaws.com" -> "bucket.s3.amazonaws.com",
      "alice.github.io" -> "alice.github.io",
      "www.alice.github.io" -> "alice.github.io")
    cases.foreach { case (host, want) =>
      assert(Psl.registrableDomain(host) == want, s"host=$host")
    }
  }

  test("native graft_regdomain expression ≡ pure Psl, null-safe, codegen path") {
    val hosts = Seq("a.b.news.co.uk", "shop.www.ck", "sub.city.kawasaki.jp",
      "foo.bar.kawasaki.jp", "www.school.k12.ca.us", "deep.sub.example.com",
      "localhost", "co.uk", null)
    val got = hosts.toDF("h")
      .select(Web.registrableDomain(col("h")).as("d"))
      .as[Option[String]].collect().toSeq
    assert(got == hosts.map(Option(_).map(Psl.registrableDomain)))
    // the projection stays inside whole-stage codegen (no UDF fallback);
    // a literal table constant-folds to LocalTableScan, so assert over a
    // range-derived host column and ALSO execute it (exercises doGenCode)
    val ranged = spark.range(100).select(concat(lit("s"),
      pmod(col("id"), lit(7)).cast("string"), lit(".site.co.uk")).as("h"))
    val q = ranged.select(Web.registrableDomain(col("h")).as("d"))
    // "*(1) Project" = the projection fused into a WholeStageCodegen stage
    assert(q.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(q.distinct().as[String].collect().toSeq == Seq("site.co.uk"))
  }

  test("bundled rule file loads and keeps legacy subset behavior") {
    // every suffix the retired TwoLabelSuffixes subset handled must
    // resolve identically under the full list
    val legacy = Seq("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au",
      "net.au", "org.au", "co.jp", "or.jp", "ne.jp", "com.br", "com.cn",
      "com.mx", "co.in", "co.kr", "co.za", "github.io", "blogspot.com")
    legacy.foreach { sfx =>
      assert(Psl.registrableDomain(s"a.site.$sfx") == s"site.$sfx", sfx)
    }
  }
}
