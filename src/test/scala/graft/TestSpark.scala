package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
}

/** Top-level so Spark can generate an Encoder (inner classes can't). */
case class T6(subj: String, pred: String, obj: String, repo: String,
    path: String, contentSha: String)
