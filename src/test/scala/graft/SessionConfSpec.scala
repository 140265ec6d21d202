package graft

import graft.ops.SessionConf
import graft.streaming.StreamRunner
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every pipeline shares one SparkSession, so a pipeline must leave
  * the session's conf as it found it — values AND which keys are
  * explicitly set (a key set back to its default reads as user-set to
  * every later "is it configured?" probe). Pins the one scope helper
  * and that it stays the only code mutating session conf. */
class SessionConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def confs = spark.sessionState.conf.getAllConfs

  test("scoped puts back an explicitly set prior and unsets any " +
      "other, through nested same-key scopes and a throwing body") {
    val key = "spark.graft.test.scopedconf"
    // a registered key with a default exercises "unset, never
    // set(default)"; the test-only key has no default at all
    val registered = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    for (k <- Seq(key, registered); prior <- Seq(Some("9"), None)) {
      prior match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      val before = confs
      SessionConf.scoped(spark, Map(k -> "111")) {
        assert(spark.conf.get(k) == "111")
        SessionConf.scoped(spark, Map(k -> "222")) {
          assert(spark.conf.get(k) == "222")
        }
        assert(spark.conf.get(k) == "111",
          "an inner scope restores the outer scope's value")
      }
      assert(confs == before, s"$k prior $prior: nested scopes")
      val e = intercept[IllegalStateException](
        SessionConf.scoped(spark, Map(k -> "111")) {
          throw new IllegalStateException("body failed")
        })
      assert(e.getMessage == "body failed")
      assert(confs == before, s"$k prior $prior: throwing body")
      spark.conf.unset(k)
    }
  }

  test("a pipeline leaves the session as it found it: a streaming " +
      "interval join (running, then stopped) and connectedComponents") {
    // the session default, not an explicit value, for this test: a
    // restore that sets the default back would then show up as a
    // new explicit entry
    val partKey = "spark.sql.shuffle.partitions"
    val partPrior = spark.conf.get(partKey)
    spark.conf.unset(partKey)
    try {
      val before = confs
      val dir = java.nio.file.Files.createTempDirectory("graft-sessconf")
        .toString
      Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")))
        .toDF("event_id", "u", "ts").write.parquet(s"$dir/l")
      Seq((10L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
        .toDF("wid", "u", "s", "e").write.parquet(s"$dir/r")
      try {
        Pipeline.execute(spark, s"""
          |sources:
          |  - {name: l, module: storage, parameters: {path: "$dir/l", stream: true}}
          |  - {name: r, module: storage, parameters: {path: "$dir/r", stream: true}}
          |transforms:
          |  - name: jn
          |    module: join
          |    inputs: [l, r]
          |    parameters: {method: interval, by: [u], leftOn: ts,
          |      rightStart: s, rightEnd: e, maxIntervalSpan: 2h,
          |      leftWatermark: 10m, rightWatermark: 10m,
          |      stateShufflePartitions: 8}
          |sinks:
          |  - {name: sessconf_join, module: memory, input: jn,
          |     parameters: {outputMode: append}}
          |""".stripMargin)
        assert(confs == before, "after execute, while the query runs")
        StreamRunner.drainAll()
        assert(spark.table("sessconf_join").count() == 1)
      } finally StreamRunner.stopAll()
      assert(confs == before, "after stopAll")

      Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("src", "dst")
        .write.parquet(s"$dir/edges")
      Pipeline.execute(spark, s"""
        |sources:
        |  - {name: e, module: storage, parameters: {path: "$dir/edges"}}
        |transforms:
        |  - {name: cc, module: graph, inputs: [e],
        |     parameters: {method: connectedComponents}}
        |sinks:
        |  - {name: out, module: storage, input: cc,
        |     parameters: {output: "$dir/cc", format: parquet}}
        |""".stripMargin)
      assert(spark.read.parquet(s"$dir/cc").count() == 5)
      assert(confs == before, "after a connectedComponents pipeline")
    } finally spark.conf.set(partKey, partPrior)
  }

  test("SessionConf is the only code in src/main that sets or unsets " +
      "session conf") {
    val mutation = """\bconf\.(set|unset)\w*\(""".r
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = for {
      f <- files if f.getFileName.toString != "SessionConf.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala
        .zipWithIndex
      if mutation.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "scope session conf through graft.ops.SessionConf.scoped, or " +
        "carry a query's conf with SessionConf.carry:\n" +
        offenders.mkString("\n"))
  }
}
