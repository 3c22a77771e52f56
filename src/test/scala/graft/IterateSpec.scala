package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, Similarity, Warehouse}
import graft.util.Iterate

/** The shared eager round driver: round accounting (early convergence, the
  * maxRounds cap) and the release of superseded round checkpoints, both in
  * isolation and through the loops ported onto it.
  */
class IterateSpec extends SparkSpec {

  private def liveCheckpoints: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id
    }.toSet

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def scalar(x: Long): DataFrame =
    spark.range(1).select(lit(x).as("x")).localCheckpoint(true)

  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("stops at the first round whose convergence test holds") {
    var rounds = 0
    val out = Iterate(scalar(40), 50)(Seq(_), (_, next) => value(next) == 0) {
      (s, r) =>
        rounds = r
        s.select(expr("x div 2").as("x")).localCheckpoint(true)
    }
    assert(value(out) == 0)
    assert(rounds == 6) // 40 → 20 → 10 → 5 → 2 → 1 → 0
  }

  test("stops at maxRounds when the convergence test never holds") {
    var rounds = 0
    val out = Iterate(scalar(0), 5)(Seq(_), (prev, next) => value(prev) == value(next)) {
      (s, r) =>
        rounds = r
        s.select((col("x") + 1).as("x")).localCheckpoint(true)
    }
    assert(value(out) == 5)
    assert(rounds == 5)
  }

  test("only the final round's checkpoints and the caller's persists stay live") {
    val base = spark.range(100).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    def run(maxRounds: Int): Set[Int] = {
      val before = liveCheckpoints
      val x0 = scalar(1)
      // the initial state holds one checkpoint twice; the second frame of
      // every later state is a lazy projection over its round's checkpoint
      val out = Iterate(Seq(x0, x0), maxRounds)(identity) { (s, _) =>
        val a = s(0).crossJoin(base.agg(max(col("x")).as("m")))
          .select((col("x") + col("m")).as("x")).localCheckpoint(true)
        val b = s(1).select((col("x") * 2).as("x")).localCheckpoint(true)
        Seq(a, b.select((col("x") + 1).as("x")))
      }
      val added = liveCheckpoints -- before
      assert(added == out.flatMap(checkpointIds).toSet)
      assert(out.map(value) == Seq(1L + 99L * maxRounds, (1L << (maxRounds + 1)) - 1))
      added
    }
    assert(run(3).size == 2)
    assert(run(8).size == 2)
    assert(base.storageLevel == StorageLevel.MEMORY_AND_DISK)
    base.unpersist()
  }

  test("ported loops keep at most one round's checkpoint live on return") {
    import spark.implicits._
    def added(run: => DataFrame): Int = {
      val before = liveCheckpoints
      run.count()
      (liveCheckpoints -- before).size
    }
    // a 64-node chain needs several pointer-jumping rounds to converge
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    assert(added(Dedup.connectedComponents(chain, "a", "b")) <= 1)
    assert(added(Warehouse.hierarchyFlatten(spark, Sf)) <= 1)
    assert(added(Similarity.mmrDiversity(spark, Sf)) <= 1)
  }
}
