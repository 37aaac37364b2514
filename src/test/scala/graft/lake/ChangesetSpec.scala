package graft.lake

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tools.JobCounter

/**
 * The changeset summary reads the batch at its own parallelism in one
 * job, and its key budget splits between the tasks: within the budget the
 * keys reach the driver (a skewed batch collects them once more), past it
 * none do and the distinct count still holds.
 */
class ChangesetSpec extends SparkSpec {

  import spark.implicits._

  // `keys` in one partition, beside `empty` empty ones
  private def skewed(keys: Seq[Long], empty: Int): DataFrame =
    keys.map(k => (k, "U")).toDF("k", "op").coalesce(1)
      .unionByName(spark.range(0, 0, 1, empty)
        .select($"id".as("k"), lit("U").as("op")))

  test("one job reads every partition of the batch in parallel") {
    val tasks = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-jobcounter-")))
          tasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    val counter = new JobCounter(spark)
    try {
      // a selective filter over four partitions, as a SQL UPDATE's
      // source is: the scan must not collapse into one task
      val batch = spark.range(0, 40000, 1, 4)
        .filter($"id" % 1000 === 7)
        .select($"id".as("k"), lit("U").as("op"))
      val (cs, jobs) = counter.count(Changeset.summarize(batch, "k", "op"))
      try {
        assert(jobs == 1L, counter.callSites.mkString(", "))
        assert(tasks.asScala.toSeq == Seq(4))
        assert(cs.nRows == 40L && cs.nKeys == 40L && cs.nDuplicates == 0L)
        assert(cs.keys.map(_.sorted) == Some((0L until 40L).map(_ * 1000 + 7)))
      } finally cs.release()
    } finally {
      counter.close()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("the key budget holds on both sides, a skewed batch included") {
    val keys = (0L until 8L).map(_ * 11)
    // within the budget of 10, the one busy task outgrows its share of
    // 3 keys: the keys are collected once more
    val within = Changeset.summarize(skewed(keys, 3), "k", "op",
      maxDriverKeys = 10)
    try {
      assert(within.keys.map(_.sorted) == Some(keys))
      assert(within.nKeys == 8L && within.nRows == 8L)
    } finally within.release()
    // past the budget of 7 no key reaches the driver
    val past = Changeset.summarize(skewed(keys, 3), "k", "op",
      maxDriverKeys = 7)
    try {
      assert(past.keys.isEmpty)
      assert(past.nKeys == 8L && past.nRows == 8L && past.nDuplicates == 0L)
    } finally past.release()
  }

  test("duplicates across partitions and NULL keys count on both sides of the budget") {
    val batch = Seq((Some(1L), "U"), (Some(2L), "D"), (None, "I"))
      .toDF("k", "op").repartition(2)
      .unionByName(Seq((Some(2L), "U"), (Some(3L), null)).toDF("k", "op"))
    for (budget <- Seq(100, 2)) {
      val cs = Changeset.summarize(batch, "k", "op", maxDriverKeys = budget)
      try {
        assert(cs.nRows == 5L && cs.nNullKeys == 1L && cs.nKeys == 3L)
        assert(cs.nDuplicates == 1L && cs.nDeletes == 1L && cs.nNullOps == 1L)
        assert(cs.ops == Set("U", "D", "I"))
        assert(cs.keys.isDefined == (budget == 100))
        val e = intercept[IllegalArgumentException](cs.requireCdcContract())
        assert(e.getMessage.contains("NULL op"))
      } finally cs.release()
    }
  }
}
