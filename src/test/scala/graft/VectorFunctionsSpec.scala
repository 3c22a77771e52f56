package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Similarity

/** Native vector expressions: correctness vs the zip_with/aggregate
  * formulation (must be bit-identical — same double accumulation order),
  * null/edge semantics, and a relative-throughput check.
  */
class VectorFunctionsSpec extends SparkSpec {

  test("cosine_sim matches the zip_with/aggregate formulation bit-for-bit") {
    GraftFunctions.register(spark)
    val emb = graft.util.Tables.t(spark, Sf, "embeddings")
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("p"))
    val both = emb.crossJoin(broadcast(probe)).select(
      col("vec_id"),
      call_function("cosine_sim", col("embedding"), col("p")).as("native"),
      (Similarity.dot(col("embedding"), col("p")) /
        (Similarity.norm(col("embedding")) * Similarity.norm(col("p")))).as("hof"))
    val diff = both.filter(col("native") =!= col("hof"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("cosine_sim via SQL after extension-style registration") {
    GraftFunctions.register(spark)
    graft.util.Tables.t(spark, Sf, "embeddings").createOrReplaceTempView("emb")
    val r = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb a JOIN emb b ON b.vec_id = 0 WHERE a.vec_id = 0""".stripMargin).head()
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12) // self-similarity
  }

  test("sig_match equals the zip_with/filter/size HOF formulation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),   // 3 agree
      (Seq(5L, 5L), Seq(5L, 5L)),                   // all agree
      (Seq(1L, 2L), Seq(3L, 4L)))                   // none agree
      .toDF("a", "b")
    val both = d.select(
      call_function("sig_match", col("a"), col("b")).as("native"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), m => m)).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    assert(both.select("native").as[Int].collect().toSeq === Seq(3, 2, 0))
  }

  test("sq_l2 equals the aggregate(zip_with) HOF formulation on random vectors") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      (Seq.fill(64)(rnd.nextInt(32768).toLong), Seq.fill(64)(rnd.nextInt(32768).toLong))
    } :+ ((Seq(3L, 4L), Seq(3L, 4L)))  // identical → 0
    val d = rows.toDF("a", "b")
    val both = d.select(
      call_function("sq_l2", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
                lit(0L), (acc, y) => acc + y).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    assert(both.orderBy(col("native").asc).select("native").as[Long].head() === 0L)
  }

  test("zero-norm input yields NULL, not NaN") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = d.select(call_function("cosine_sim", col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("native kernel beats the interpreted lambda path on a wide scan") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val n = 200000
    val vecs = spark.range(n)
      .select(col("id"), transform(sequence(lit(0), lit(63)),
        i => (pmod(col("id") + i, lit(97)).cast("float"))).as("v"))
      .select(col("id"), col("v").cast("array<float>").as("v"))
      .cache()
    vecs.count()
    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val probe = vecs.filter(col("id") === 0).select(col("v").as("p"))
    val native = time(vecs.crossJoin(broadcast(probe))
      .select(call_function("cosine_sim", col("v"), col("p")).as("c"))
      .agg(sum("c")).head().getDouble(0))
    val hof = time(vecs.crossJoin(broadcast(probe))
      .select((Similarity.dot(col("v"), col("p")) /
        (Similarity.norm(col("v")) * Similarity.norm(col("p")))).as("c"))
      .agg(sum("c")).head().getDouble(0))
    info(f"native=$native%.2fs  hof=$hof%.2fs  speedup=${hof / native}%.1fx")
    vecs.unpersist()
    assert(native < hof, f"native $native%.2fs should beat interpreted $hof%.2fs")
  }

  test("shingles equals the posexplode+window+dropDuplicates formulation") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val docs = graft.util.Tables.t(spark, Sf, "documents")
    val native = docs.select(col("doc_id"),
      explode(call_function("shingles", col("text"), lit(3))).as("s"))
    // the exact pipeline the expression replaced
    val n = 3
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val parts = col("w") +: (1 until n).map(k => lead(col("w"), k).over(w))
    val old = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), concat_ws(" ", parts: _*).as("s"),
              lead(col("w"), n - 1).over(w).isNotNull.as("full"))
      .filter(col("full")).select(col("doc_id"), col("s"))
      .dropDuplicates("doc_id", "s")
    assert(native.exceptAll(old).isEmpty && old.exceptAll(native).isEmpty)
  }

  test("shingles edge cases: short text empty, null text null") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, ""), (3L, "x y z"), (4L, null))
      .toDF("id", "t")
    val r = d.select(col("id"), call_function("shingles", col("t"), lit(3)).as("s"))
      .orderBy("id").collect()
    assert(r(0).getSeq[String](1) === Seq())          // 2 words < n
    assert(r(1).getSeq[String](1) === Seq())          // "" splits to 1 word
    assert(r(2).getSeq[String](1) === Seq("x y z"))   // exactly n words
    assert(r(3).isNullAt(1))                          // null in, null out
  }

  test("simhash64 equals the explode+64-sum+pack formulation bit-for-bit") {
    GraftFunctions.register(spark)
    val docs = graft.util.Tables.t(spark, Sf, "documents")
    val native = docs.select(col("doc_id"),
      call_function("simhash64", col("text")).as("simhash"))
    // the exact pipeline the expression replaced
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitSums = (0 until 64).map { bitPos =>
      sum(when(shiftright(col("h"), bitPos).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$bitPos")
    }
    val packed = (0 until 64)
      .map(bitPos => when(col(s"b$bitPos") > 0, shiftleft(lit(1L), bitPos)).otherwise(lit(0L)))
      .reduce(_ + _)
    val old = words.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
    assert(native.exceptAll(old).isEmpty && old.exceptAll(native).isEmpty)
  }

  test("hyperplane_bands equals per-plane dot_f sign bits bit-for-bit") {
    GraftFunctions.register(spark)
    // regenerate the kernel's plane table: same seed, same draw order, same
    // double→float cast — the contract HyperplaneKernel documents
    val planes = {
      val rnd = new scala.util.Random(42)
      Seq.fill(32)(Seq.fill(64)(rnd.nextGaussian().toFloat))
    }
    val emb = graft.util.Tables.t(spark, Sf, "embeddings")
    val bits = planes.zipWithIndex.map { case (p, j) =>
      (call_function("dot_f", col("embedding"), typedLit(p)) > 0.0)
        .cast("long").as(s"bit$j")
    }
    val bands = (0 until 4).map { b =>
      (0 until 8).map(i => col(s"bit${b * 8 + i}") * lit(1L << i)).reduce(_ + _).as(s"band$b")
    }
    val viaDots = emb.select(col("vec_id") +: bits: _*)
      .select(col("vec_id") +: bands: _*)
      .select(col("vec_id"), array((0 until 4).map(b => col(s"band$b")): _*).as("bands"))
    val native = emb.select(col("vec_id"),
      call_function("hyperplane_bands", col("embedding")).as("bands"))
    assert(native.exceptAll(viaDots).isEmpty && viaDots.exceptAll(native).isEmpty)
  }

  test("vec_sum_q equals the posexplode per-position sums, groups included") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (i % 7, Seq.fill(16)(rnd.nextInt(100000).toLong - 50000L))
    }
    val d = rows.toDF("g", "qv").repartition(13) // partition-order independence
    val native = d.groupBy(col("g"))
      .agg(call_function("vec_sum_q", col("qv")).as("s"))
      .select(col("g"), posexplode(col("s")).as(Seq("pos", "v")))
    val viaExplode = d
      .select(col("g"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("g"), col("pos")).agg(sum(col("v")).as("v"))
      .select(col("g"), col("pos"), col("v"))
    assert(native.exceptAll(viaExplode).isEmpty &&
           viaExplode.exceptAll(native).isEmpty)
  }

  test("vec_sum_q skips NULL inputs; all-NULL group yields NULL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq(
      (1, Option(Seq(1L, 2L))), (1, None), (1, Option(Seq(10L, 20L))),
      (2, None), (2, None)).toDF("g", "qv")
    val r = d.groupBy(col("g"))
      .agg(call_function("vec_sum_q", col("qv")).as("s"))
      .orderBy(col("g")).collect()
    assert(r(0).getSeq[Long](1) === Seq(11L, 22L))
    assert(r(1).isNullAt(1))
  }

  test("vec_sum_q adapts to the data's width and rejects in-group mismatch") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // width 3 (not EmbDim) sums fine — the r15 ADVICE null-poison hazard
    val ok = Seq((1, Seq(1L, 2L, 3L)), (1, Seq(4L, 5L, 6L))).toDF("g", "qv")
      .groupBy(col("g")).agg(call_function("vec_sum_q", col("qv")).as("s"))
      .head().getSeq[Long](1)
    assert(ok === Seq(5L, 7L, 9L))
    val bad = Seq((1, Seq(1L, 2L)), (1, Seq(1L, 2L, 3L))).toDF("g", "qv")
      .groupBy(col("g")).agg(call_function("vec_sum_q", col("qv")).as("s"))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage != null)
  }

  test("vec_sum_q rejects a NULL element instead of adding 0") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // a scanned row carries UnsafeArrayData, an in-plan array() literal
    // GenericArrayData — both element accessors must see the NULL
    val scanned = Seq((1, Seq(Option(1L), None))).toDF("g", "qv")
    val built = spark.range(1).select(lit(1).as("g"),
      array(lit(1L), lit(null).cast("bigint")).as("qv"))
    Seq(scanned, built).foreach { d =>
      val e = intercept[Exception] {
        d.groupBy(col("g")).agg(call_function("vec_sum_q", col("qv"))).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    }
  }
}
