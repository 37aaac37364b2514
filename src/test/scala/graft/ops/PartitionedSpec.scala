package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PartitionedSpec extends SparkSpec {

  import spark.implicits._

  test("byKey hash-partitions from RowsPerPartition rows on, and only then") {
    for (rows <- Seq(Partitioned.RowsPerPartition - 1, Partitioned.RowsPerPartition)) {
      val in = spark.range(0, rows, 1, 3).select(($"id" % 1000).as("k"), $"id".as("v"))
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val out = Partitioned.byKey(in, "k")
      val parts = out.rdd.getNumPartitions
      // HashPartitioning places a row in pmod(murmur3(key), parts), which
      // is what hash() computes
      val misplaced = out.filter(spark_partition_id() =!= pmod(hash($"k"), lit(parts))).count()
      if (rows < Partitioned.RowsPerPartition) {
        assert(parts == 3 && misplaced > 0, s"rows=$rows: input partitioning kept")
      } else {
        // min(shuffle partitions, rows / RowsPerPartition + 1)
        assert(parts == 2 && misplaced == 0, s"rows=$rows: hash-partitioned on k")
      }
      // either side leaves exactly one checkpoint pinned: past the dial the
      // unpartitioned copy is released once the keyed one exists
      assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore).size == 1,
        s"rows=$rows")
      assert(out.count() == rows)
    }
  }
}
