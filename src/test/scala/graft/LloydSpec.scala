package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ivf
import graft.util.Tables

/** The keyed integer Lloyd's core ([[Ivf.lloyd]]): the empty-cell rules,
  * group independence, zero-row inputs, and the input-keyed store root
  * that keeps an index built from older files from being served.
  */
class LloydSpec extends SparkSpec {

  /** (grp, vec_id, qv) points from (grp, one-dim value) pairs, ids in order. */
  private def pts(vals: Seq[(Int, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    vals.zipWithIndex.map { case ((g, v), i) => (g, i.toLong, Seq(v + 16384L)) }
      .toDF("grp", "vec_id", "qv")
  }

  private def cells(df: DataFrame): Set[(Int, Int, Seq[Long])] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSet

  test("Carry keeps an empty cell's previous centroid, Drop removes it, " +
       "in every group") {
    // k = 3 over 3 points: the init tiles are the points themselves, the
    // two equal first points tie, both go to cell 0 (lowest id), cell 1
    // gets nothing; group 1 repeats the layout shifted by 100
    val p = pts(Seq(0 -> 10L, 0 -> 10L, 0 -> 50L, 1 -> 110L, 1 -> 110L, 1 -> 150L))
    def c(g: Int, id: Int, v: Long) = (g, id, Seq(v + 16384L))
    val both = Set(c(0, 0, 10), c(0, 2, 50), c(1, 0, 110), c(1, 2, 150))
    assert(cells(Ivf.lloyd(p, 3, 2, Ivf.Carry)) === both + c(0, 1, 10) + c(1, 1, 110))
    assert(cells(Ivf.lloyd(p, 3, 2, Ivf.Drop)) === both)
  }

  test("a keyed fit equals the fits of its groups run one at a time") {
    val p = pts((0 until 60).map(i => (i % 3, ((i * 37) % 101).toLong)))
    Seq(Ivf.Carry, Ivf.Drop).foreach { empty =>
      val keyed = cells(Ivf.lloyd(p, 4, 5, empty))
      val apart = (0 until 3).flatMap(g =>
        cells(Ivf.lloyd(p.filter(col("grp") === g), 4, 5, empty))).toSet
      assert(keyed.map(_._1) === Set(0, 1, 2))
      assert(keyed === apart, s"$empty")
    }
  }

  test("zero-row points: lloyd (Carry and Drop, one group and several) " +
       "and trainCentroids return zero centroid rows") {
    for (empty <- Seq(Ivf.Carry, Ivf.Drop); groups <- Seq(1, 3)) {
      val none = pts((0 until 12).map(i => (i % groups, i.toLong)))
        .filter(col("vec_id") < 0)
      val out = Ivf.lloyd(none, 4, 3, empty)
      assert(out.columns.toSeq === Seq("grp", "centroid_id", "centroid"))
      assert(out.count() === 0, s"$empty, $groups group(s)")
    }
    val emb = Tables.t(spark, Sf, "embeddings").filter(col("vec_id") < 0)
    assert(Ivf.trainCentroids(spark, emb, 16).count() === 0)
  }

  test("store root: rewriting an input table moves the root, so an index " +
       "built from the old files is never served") {
    val dir: Path = Files.createTempDirectory("graft-storeroot")
    Seq("embeddings", "orders").foreach(n => Files.copy(
      java.nio.file.Paths.get(s"$Sf/$n.parquet"), dir.resolve(s"$n.parquet")))
    val sf = dir.toString
    def root() = Tables.storeRoot(spark, sf, Seq("embeddings"), "ivfpq-v1", "-n16-c8")
    val before = root()
    assert(root() === before, "the root must be stable for unchanged inputs")
    assert(Tables.storeRoot(spark, sf, Seq("embeddings"), "ivfpq-v2") !==
           Tables.storeRoot(spark, sf, Seq("embeddings"), "ivfpq-v1"))
    val built = Ivf.buildIvfPqIndex(spark, sf, 16, 8)
    assert(built.startsWith(before))
    // a table the artifact does not read leaves the root alone
    Files.setLastModifiedTime(dir.resolve("orders.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(root() === before)
    // rewrite embeddings with half the corpus: a new root, a fresh build
    val half = Tables.t(spark, Sf, "embeddings").filter(col("vec_id") % 2 === 0)
      .collect()
    Files.delete(dir.resolve("embeddings.parquet"))
    spark.createDataFrame(java.util.Arrays.asList(half: _*), half.head.schema)
      .coalesce(1).write.parquet(s"$sf/embeddings.parquet")
    val after = root()
    assert(after !== before)
    val rebuilt = Ivf.buildIvfPqIndex(spark, sf, 16, 8)
    assert(rebuilt.startsWith(after))
    val codes = graft.sources.SnapshotStore.readCommitted(spark, s"$rebuilt/codes")
    assert(codes.count() === half.length.toLong)
  }
}
