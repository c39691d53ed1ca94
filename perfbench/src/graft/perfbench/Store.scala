package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.lineage._
import org.apache.spark.sql.functions.col

/** The `LineageStore` layer, measured by direct calls on a fresh store
  * directory during lineage-fetch's traced run: the store is a Spark job
  * per call (hundreds of ms), so a timed HTTP store workload yields too
  * few samples per run to be steady; see README.md. */
object Store {
  private val Appends = 12
  private val MaintainEvery = 8

  def trace(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val dir = Paths.get("lineage-store").toAbsolutePath.toString
    val runs = Lineage.requests(s"${ctx.inputs}/runs.txt")
    def span[T](name: String)(body: => T): T = {
      sc.setJobGroup(name, name)
      try ctx.tracer.span(name)(body) finally sc.clearJobGroup()
    }
    (1 to Appends).foreach { r =>
      val df = LineageParser.toDataset(spark, LineageParser.parse(spark, runs(r - 1)))
      span("store.append") { LineageStore.append(spark, dir, r, df) }
      if (r % MaintainEvery == 0) {
        span("store.compact") { LineageStore.compact(spark, dir, r - 2) }
        span("store.vacuum") { LineageStore.vacuum(spark, dir) }
      }
    }
    val last = Appends.toLong
    val prev = LineageStore.runs(spark, dir).init.lastOption.getOrElse(last)
    (1 to 3).foreach { _ =>
      span("store.snapshot") { LineageStore.snapshot(spark, dir).collect() }
      span("store.diff") { LineageStore.diff(spark, dir, prev, last).collect() }
      span("store.run_read") {
        LineageStore.read(spark, dir).filter(col("run_id") === last).collect()
      }
    }
    (1 to 10).foreach { _ =>
      span("store.run_stats") {
        LineageStore.runStats(spark, dir)
        LineageStore.runTaken(spark, dir, last)
        LineageStore.runVisible(spark, dir, last)
      }
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    def jobs(group: String) = ctx.jobs.sum(_ == group).jobs.toDouble
    val reads = Seq("store.snapshot", "store.diff", "store.run_read")
    ctx.layer ++= Seq(
      "store.append_ms" -> Stats.median(ctx.tracer.ms("store.append")),
      "store.jobs_per_append" -> jobs("store.append") / Appends,
      "store.snapshot_ms" -> Stats.median(ctx.tracer.ms("store.snapshot")),
      "store.diff_ms" -> Stats.median(ctx.tracer.ms("store.diff")),
      "store.run_read_ms" -> Stats.median(ctx.tracer.ms("store.run_read")),
      "store.run_stats_ms" -> Stats.median(ctx.tracer.ms("store.run_stats")),
      "store.jobs_per_read" -> reads.map(jobs).sum / (3 * reads.size),
      "store.compact_ms" -> Stats.median(ctx.tracer.ms("store.compact")),
      "store.vacuum_ms" -> Stats.median(ctx.tracer.ms("store.vacuum")),
      "store.files" -> storeFiles(dir).size.toDouble)
    val edges = (1 to Appends).map(r =>
      LineageParser.parse(spark, runs(r - 1)).map(_.colLines.size).sum).sum
    ctx.detail("store_bytes_per_edge") = storeFiles(dir).map(Files.size).sum.toDouble / edges
    checkSnapshot(ctx, dir, runs, Appends)
  }

  /** The snapshot must equal the benchmark's own latest-wins fold of what
    * it appended: run r parses slots 1..k(r), so statement s comes from
    * the last run that parsed s or more statements. */
  private def checkSnapshot(ctx: Ctx, dir: String, runs: IndexedSeq[String],
                            last: Int): Unit = {
    val spark = ctx.spark
    val k = runs.take(last).map(r => LineageParser.splitStatements(r).size)
    val winner = (1 to k.max).map(s => s -> (last to 1 by -1).find(r => k(r - 1) >= s).get)
    val parsed = winner.map(_._2).distinct
      .map(r => r -> LineageParser.parse(spark, runs(r - 1))).toMap
    val expected = winner.flatMap { case (s, r) =>
      parsed(r).filter(_.statementIndex == s).flatMap { res =>
        res.colLines.map(c => Seq(r, s, res.operation.name, c.tableName,
          c.colName.getOrElse(""), c.toName, c.fromName,
          c.conditionSet.toSeq.sorted.mkString("|")).mkString("\u0001"))
      }
    }.sorted
    val actual = LineageStore.snapshot(spark, dir).collect().map { row =>
      Seq(row.getAs[Long]("run_id"), row.getAs[Int]("stmt"),
        row.getAs[String]("operation"), row.getAs[String]("table_name"),
        row.getAs[String]("col_name"), row.getAs[String]("to_name"),
        row.getAs[String]("from_name"), row.getAs[String]("conditions"))
        .mkString("\u0001")
    }.toSeq.sorted
    ctx.check("store_snapshot_equals_latest_wins_fold", expected == actual,
      s"${actual.size} snapshot edges, ${expected.size} expected")
  }

  private def storeFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }
}
