package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Memo ownership in SparkEntry's registry: clearSession releases every
  * entry — including entries a query thread races in DURING eviction (a
  * single snapshot missed them and leaked the persisted frame for the
  * session's lifetime — round-4 advisory) — and every block and file the
  * real memo builds left behind. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("clearSession drains entries inserted concurrently; all frames unpersisted") {
    val dfs = (1 to 40).map(_ => spark.range(3).toDF().persist(StorageLevel.MEMORY_ONLY))
    dfs.foreach(_.count())
    val inserter = new Thread(() => dfs.zipWithIndex.foreach { case (df, i) =>
      SparkEntry.memo("race", spark, i.toString)(df)(_.unpersist(false))
      if (i % 8 == 0) Thread.sleep(1)
    })
    inserter.start()
    // eviction racing the inserts: each call drains what it sees in passes
    (1 to 5).foreach { _ => SparkEntry.clearSession(spark); Thread.sleep(2) }
    inserter.join()
    // caller contract: quiesce, then one final clearSession removes the rest
    SparkEntry.clearSession(spark)
    assert(SparkEntry.memoEntries(spark).isEmpty)
    dfs.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
  }

  test("a memo build that throws leaves no entry; the next call builds") {
    intercept[IllegalStateException](
      SparkEntry.memo[Int]("failing", spark, "k")(throw new IllegalStateException("boom"))(_ => ()))
    assert(!SparkEntry.memoEntries(spark).contains(("failing", "k")))
    assert(SparkEntry.memo("failing", spark, "k")(42)(_ => ()) == 42)
    SparkEntry.clearSession(spark)
  }

  test("clearSession frees every block and the directory the memo builds own") {
    val sfDir = new PlanSpec().sfDir // the read-only sf0.001 tables PlanSpec reads
    SparkEntry.clearSession(spark)
    def storedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = storedRdds
    SparkEntry.kg(spark, sfDir)
    SparkEntry.kgZh(spark, sfDir)
    SparkEntry.comentionPairs(spark, sfDir)
    SparkEntry.minhashPairs(spark, sfDir) // builds shingleSets
    SparkEntry.incrementalPairs(spark, sfDir) // writes under sessionDir
    SparkEntry.ivfIndex(spark, sfDir)._2.count() // builds prepEmb
    SparkEntry.plantedProbes(spark, sfDir).count()
    val memoDir = new java.io.File(SparkEntry.sessionDir(spark))
    val built = Set("kg", "kgZh", "comentionPairs", "shingleSets", "minhashPairs",
      "incrementalPairs", "prepEmb", "ivfIndex", "plantedProbes")
    assert(built.subsetOf(SparkEntry.memoEntries(spark).map(_._1).toSet))
    assert(built.subsetOf(SparkEntry.memoBuilds.map(_._1).toSet))
    val added = storedRdds -- before
    assert(added.nonEmpty && memoDir.isDirectory)

    SparkEntry.clearSession(spark)
    assert(SparkEntry.memoEntries(spark).isEmpty)
    assert(!memoDir.exists())
    // unpersist(blocking = false) frees blocks asynchronously
    eventually(timeout(Span(30, Seconds))) {
      assert((storedRdds intersect added).isEmpty)
    }
  }
}
