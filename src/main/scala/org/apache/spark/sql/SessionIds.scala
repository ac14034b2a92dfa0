package org.apache.spark.sql

/** Public read of Spark's per-session `sessionUUID`, which Spark keeps
  * package-private. Unlike an identity hash it is unique per session, so
  * graft's session-scoped cache keys ([[graft.queries.Memo.internalKey]])
  * can never alias a stopped session's entries. */
object SessionIds {
  def uuid(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
