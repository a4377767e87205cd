package graft

import org.apache.spark.sql.SparkSessionExtensions

/** A session extension that injects nothing: no graft query needs a SQL
  * function or an optimizer rule of its own. The class stays only because
  * `perfbench/src/main/scala/graftbench/Session.scala` names it in
  * `spark.sql.extensions`, and only a change to the benchmark itself may
  * edit perfbench. Once that session stops naming it, this class goes. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = ()
}
