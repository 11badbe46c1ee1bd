package graft.tools

import graft.engine.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-stress derivation must itself be trustworthy: the round's 10×
  * evidence rests on the derived schema being coherent (consistent key
  * offsets across fact tables) and on the documented replica semantics
  * (replica 0 byte-identical, planted exact dups, near-dups, distinct
  * variants).
  */
class ScaleDataSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private lazy val out: String = {
    val dir = tempDir("graft_scaledata").toString
    ScaleData.generate(spark, "/root/testdata/sf0.001", dir, mult = 2)
    dir
  }

  test("row counts scale by mult; dimensions pass through") {
    def n(t: String) = spark.read.parquet(s"$out/$t.parquet").count()
    val src = (t: String) => spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").count()
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      assert(n(t) == 2 * src(t), t)
    }
    assert(n("region") == src("region") && n("nation") == src("nation"))
  }

  test("foreign keys stay coherent: every replica lineitem row joins part and supplier") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val p = spark.read.parquet(s"$out/part.parquet")
    val s = spark.read.parquet(s"$out/supplier.parquet")
    assert(li.join(p, li("l_partkey") === p("p_partkey"), "left_anti").count() == 0)
    assert(li.join(s, li("l_suppkey") === s("s_suppkey"), "left_anti").count() == 0)
  }

  test("documents replica semantics: replica 0 identical, k=1 plants exact dups of every 5th") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // replica 0 byte-identical
    val r0 = docs.filter(col("doc_id") < ScaleData.Offset)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    src.select("doc_id", "text").collect().foreach { r =>
      assert(r0(r.getLong(0)) == r.getString(1))
    }
    // replica 1 of every 5th doc = exact duplicate; others near-dup (one
    // appended token)
    val r1 = docs.filter(col("doc_id") >= ScaleData.Offset && col("doc_id") < 2 * ScaleData.Offset)
      .select((col("doc_id") - ScaleData.Offset).as("i"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    r0.foreach { case (i, t) =>
      if (i % 5 == 0) assert(r1(i) == t, s"doc $i replica 1 must be an exact dup")
      else assert(r1(i) == t + " rep1", s"doc $i replica 1 must append one token")
    }
    // n_chars tracks the DERIVED text, not the source's
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() == 0)
  }

  test("embeddings: replica 0 identical, replicas perturbed but same dimension") {
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(emb.filter(col("vec_id") < ScaleData.Offset).count() == src.count())
    val dims = emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims.length == 1, s"mixed dims: $dims")
    // replica 1 differs from replica 0 (perturbation applied)
    val a = emb.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)
    val b = emb.filter(col("vec_id") === ScaleData.Offset).select("embedding").collect()(0).getSeq[Float](0)
    assert(a != b)
  }
}
