package graft

import org.apache.spark.sql.SparkSession

/** Names the engine phase a block of Spark work belongs to: every job the
  * calling thread submits inside `body` carries the local property
  * `graft.phase` (visible to a SparkListener in the job's properties), so
  * a trace can attribute an append's or a merge's jobs to its phases. The
  * previous value is restored afterwards, so phases nest; the job group,
  * job description and scheduler pool are never touched. */
object Phase {
  final val Key = "graft.phase"

  def apply[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
