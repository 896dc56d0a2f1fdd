package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** Whether a physical plan rebuilds HNSW sub-graphs: every rebuild site
    * runs behind the pid-exact shard exchange (`repartitionById`), whose
    * partitioning prints as `shufflepartitionidpassthrough(...)`.
    */
  def rebuildsSubGraphs(plan: String): Boolean = plan.contains("shufflepartitionidpassthrough")

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // bounded-heap TopK aggregations (TypedImperative) stay in the HASH
    // aggregation path instead of sort-falling-back at 128 keys; each
    // buffer holds <= k entries, so 1M keys is a few hundred MB worst case
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
