package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** The one place the engine changes session conf: every pipeline
  * shares one SparkSession, so a pipeline must leave it as it found
  * it. Streaming modules never touch it at build time — Spark
  * captures conf when a query STARTS, so a module carries the conf
  * its stateful operator needs on its plan ([[carry]]) and the query
  * starter scopes what the plan carries ([[carried]]) around
  * `start()`. */
object SessionConf {

  /** Run `body` with `confs` set, then restore each key: one
    * explicitly set before gets its value back, any other is
    * `unset` — never `set(default)`, which would mark the key as
    * user-configured (`sessionState.conf.contains`) for the rest of
    * the session. Nested scopes unwind to the outermost prior. */
  def scoped[A](sess: SparkSession, confs: Map[String, String])(
      body: => A): A = {
    val conf = sess.sessionState.conf
    val priors = confs.keys.toSeq.map(k =>
      k -> (if (conf.contains(k)) Some(conf.getConfString(k)) else None))
    try {
      confs.foreach { case (k, v) => sess.conf.set(k, v) }
      body
    } finally priors.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None) => sess.conf.unset(k)
    }
  }

  private val tag = TreeNodeTag[Map[String, String]]("graft.queryConf")

  /** Tag `df`'s analyzed plan with confs its streaming query must
    * start with. Frames derived from `df` keep the tag: the analyzer
    * reuses analyzed subtrees and copies tags onto rewritten nodes. */
  def carry(df: DataFrame, confs: Map[String, String]): DataFrame = {
    if (confs.nonEmpty) {
      val plan = df.queryExecution.analyzed
      plan.setTagValue(tag,
        plan.getTagValue(tag).getOrElse(Map.empty) ++ confs)
    }
    df
  }

  /** Every conf carried anywhere in `df`'s plan. Modules feeding one
    * query with different values for a key fail loudly: the query
    * starts once, so only one value could take effect. */
  def carried(df: DataFrame): Map[String, String] =
    df.queryExecution.analyzed
      .flatMap(_.getTagValue(tag).getOrElse(Map.empty))
      .groupBy(_._1).map { case (key, kvs) =>
        kvs.map(_._2).distinct.sorted match {
          case Seq(v) => key -> v
          case vs => throw new IllegalArgumentException(
            s"conflicting per-job values for $key in one query " +
              s"(${vs.mkString(" vs ")}): Spark captures the conf " +
              "when the query STARTS, so only one value can take " +
              "effect. Give the modules feeding this sink the same " +
              "value, or write them to separate sinks")
        }
      }
}
