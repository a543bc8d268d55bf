package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Test/fork runs them in a
  * single forked JVM, so this is created once). Pinned at 4 cores, the
  * width every spec was written against, whatever the host's width. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
