package graft.round

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftaccess.GraftTestAccess
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** `GraftBridge.persistedLeaf`, the plan cut a round makes at its
  * materialization points: a one-node plan over persisted rows that keep
  * their lineage. */
class PersistedLeafSpec extends AnyFunSuite with SparkSpec {

  test("a persisted leaf is one plan node, and recomputes lost blocks from its lineage") {
    // a shuffle below the cut, so the leaf's rows come from a finished
    // map stage as a round's do
    val df = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 17).as("k")).agg(sum("id").as("s"))
    val (leaf, rows) = GraftBridge.persistedLeaf(df)
    try {
      assert(leaf.queryExecution.analyzed.children.isEmpty, leaf.queryExecution.analyzed.treeString)
      def read() = leaf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val first = read()
      assert(first == df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(GraftTestAccess.rddBlockCount(rows.id) > 0, "the leaf's rows were not persisted")
      // the blocks are gone, as on a lost executor: the next read recomputes
      // them (a localCheckpoint leaf has no lineage and fails here)
      GraftTestAccess.removeRddBlocks(rows.id)
      assert(GraftTestAccess.rddBlockCount(rows.id) == 0)
      assert(read() == first)
    } finally rows.unpersist(blocking = true)
  }
}
