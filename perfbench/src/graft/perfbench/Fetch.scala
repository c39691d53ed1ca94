package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lineage._
import org.apache.spark.sql.catalyst.plans.logical._

/** lineage-fetch: a closed loop of min(4, cores) clients POSTing seeded
  * requests to `/fetch` on an in-process `LineageService`. Only fixture
  * schemas are read; no Spark job runs. */
object Fetch {
  private final case class Sample(idx: Int, startNs: Long, endNs: Long,
                                  status: Int, body: String)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    LineageQueries.registerFixtures(spark, ctx.data)
    val counting = new CountingMetadata(new CatalogMetadataProvider(spark))
    val server = LineageService.start(spark,
      metadata = if (ctx.trace) Some(counting) else None)
    val requests = Lineage.requests(s"${ctx.inputs}/requests.txt")
    val warmup = Lineage.requests(s"${ctx.inputs}/warmup.txt")
    val clients = math.min(4, ctx.cores)
    val conns = (0 until clients).map(_ => new Conn(server.getAddress.getPort))

    val wnext = new AtomicInteger
    Clients.parallel(clients) { c =>
      var i = wnext.getAndIncrement()
      while (i < warmup.size) {
        conns(c).call("POST", "/fetch", warmup(i))
        i = wnext.getAndIncrement()
      }
    }
    if (ctx.trace) {
      // the transport floor: an idle service answering its cheapest route
      val rtt = (1 to 200).map { _ =>
        val t0 = System.nanoTime()
        conns(0).call("GET", "/health")
        (System.nanoTime() - t0) / 1e6
      }
      ctx.layer("service.health_rtt_ms") = Stats.median(rtt)
    }
    counting.reset()

    /** Closed loop: each client POSTs request `pick(n)` for the n-th
      * call overall until `seconds` have passed. */
    def drive(seconds: Double)(pick: Int => Int): Seq[Sample] = {
      val samples = new ConcurrentLinkedQueue[Sample]()
      val next = new AtomicInteger
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      Clients.parallel(clients) { c =>
        while (System.nanoTime() < deadline) {
          val i = pick(next.getAndIncrement())
          val s = System.nanoTime()
          val (status, body) = conns(c).call("POST", "/fetch", requests(i))
          samples.add(Sample(i, s, System.nanoTime(), status, body))
        }
      }
      samples.asScala.toSeq.sortBy(_.idx)
    }

    ctx.startTimed()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    // past the generated sequence it starts over (only a service many
    // times faster than today's gets there; `wrapped` records it)
    val done = drive(ctx.seconds)(_ % requests.size)
    val elapsedS = (done.map(_.endNs).max - t0) / 1e9
    ctx.endTimed()
    val windowLookups = counting.lookups.get
    val windowLookupMs = counting.nanos.get / 1e6
    // Byte-identical repeats stay out of the timed traffic: no trace or
    // source gives their share. The traced run replays the window's
    // requests for a fifth of its length instead, so a response cache
    // shows against the distinct-request latency.
    val repeats =
      if (ctx.trace) drive(ctx.seconds / 5)(n => done(n % done.size).idx) else Nil
    conns.foreach(_.close())
    Lineage.stop(ctx, server)

    val latency = done.map(s => (s.endNs - s.startNs) / 1e6)
    val stmtCount = done.map(s =>
      LineageParser.splitStatements(requests(s.idx)).size).sum
    val (tailMs, tailPct, tailN) = Stats.tail(latency)
    ctx.attempted = done.size
    // Contention from other tenants of the host comes in bursts that can
    // cover a whole second; each statistic is taken per fifth of the window
    // and the median of the five is reported, so one burst cannot move it.
    val fifths = done.groupBy(s => math.min(4, ((s.startNs - t0) * 5 / (deadline - t0)).toInt))
      .values.map(_.map(s => (s.endNs - s.startNs) / 1e6)).toSeq
    ctx.e2e("latency_ms") = Stats.median(fifths.map(Stats.median))
    ctx.e2e("tail_ms") = Stats.median(fifths.map(Stats.tail(_)._1))
    ctx.e2e("ops_per_s") = done.size / elapsedS
    val bodies = done.map(s => requests(s.idx)).distinct
    ctx.detail ++= Seq("clients" -> clients, "requests" -> done.size,
      "distinct_requests" -> bodies.size, "statements" -> stmtCount,
      "stmts_per_s" -> stmtCount / elapsedS, "elapsed_s" -> elapsedS,
      "p50_ms" -> Stats.median(latency), "tail_ms" -> tailMs, "tail_pct" -> tailPct,
      "tail_n" -> tailN, "wrapped" -> (done.size > requests.size))

    // Expected responses: a direct single-threaded parse + render of each
    // distinct request, outside the timed window. On a traced run the same
    // calls are split into the parser's stages.
    counting.reset()
    val expected = mutable.Map[String, String]()
    val direct = mutable.Map[String, Double]()
    var parseErrors = 0
    var lookupMs = 0.0
    bodies.foreach { b =>
      try {
        val lookupNs0 = counting.nanos.get
        val (rs, parseMs) = ctx.tracer.timed("parser.parse") {
          LineageParser.parse(spark, b, Some(counting))
        }
        lookupMs += (counting.nanos.get - lookupNs0) / 1e6
        val (js, renderMs) = ctx.tracer.timed("render.json") { PerfbenchRender.toJson(rs) }
        direct(b) = parseMs + renderMs
        expected(b) = js
        if (ctx.trace) {
          val stmts = ctx.tracer.span("parser.split") { LineageParser.splitStatements(b) }
          stmts.foreach { s =>
            val plan = ctx.tracer.span("parser.sqlparse") {
              spark.sessionState.sqlParser.parsePlan(s)
            }
            queriesOf(plan).foreach { q =>
              ctx.tracer.span("parser.analyze") { spark.sessionState.executePlan(q).analyzed }
            }
          }
        }
      } catch { case _: Exception => parseErrors += 1 }
    }
    val mismatched = done.count(s =>
      s.status != 200 || !expected.get(requests(s.idx)).contains(s.body))
    ctx.failed = mismatched
    ctx.check("fetch_responses_equal_direct_parse", mismatched == 0,
      s"$mismatched of ${done.size} responses differ or failed")
    val repeatMismatched = repeats.count(s =>
      s.status != 200 || !expected.get(requests(s.idx)).contains(s.body))
    if (ctx.trace) ctx.check("repeat_responses_equal_direct_parse", repeatMismatched == 0,
      s"$repeatMismatched of ${repeats.size} repeated responses differ or failed")
    // the 43 verbatim corpus statements against the frozen q24 golden
    ctx.oracle("q24_lineage_edges", LineageQueries.edges(spark, ctx.data),
      LineageQueries.oracleSql)

    if (ctx.trace) {
      ctx.bypassed("tables", "queries", "catalyst", "exec", "checkpoints")
      def total(span: String) = ctx.tracer.ms(span).sum
      val renderMs = ctx.tracer.ms("render.json")
      val n = math.max(ctx.tracer.ms("parser.sqlparse").size, 1)
      val parserMs = total("parser.parse") - lookupMs
      val overheadMs = Stats.mean(done.map(s =>
        (s.endNs - s.startNs) / 1e6 - direct.getOrElse(requests(s.idx), 0.0)))
      // mean fetch latency = service + parser + metadata + render, per request
      ctx.detail("latency_split_ms") = Map(
        "latency" -> Stats.mean(latency), "service" -> overheadMs,
        "parser" -> parserMs / bodies.size, "metadata" -> lookupMs / bodies.size,
        "render" -> Stats.mean(renderMs))
      ctx.layer ++= Seq(
        "service.overhead_ms" -> overheadMs,
        "service.requests" -> done.size.toDouble,
        "service.non200" -> done.count(_.status != 200).toDouble,
        "service.repeat_p50_ms" -> Stats.median(repeats.map(s => (s.endNs - s.startNs) / 1e6)),
        "parser.split_ms" -> total("parser.split") / n,
        "parser.sqlparse_ms" -> total("parser.sqlparse") / n,
        "parser.analyze_ms" -> total("parser.analyze") / n,
        // what parse spends beyond splitting, Spark's parser, the analyzer
        // and sink-schema lookups: the lineage fold
        "parser.fold_ms" -> (parserMs - total("parser.split") -
          total("parser.sqlparse") - total("parser.analyze")) / n,
        "parser.statements" -> stmtCount.toDouble,
        "parser.errors" -> parseErrors.toDouble,
        "render.json_ms" -> Stats.mean(renderMs),
        "metadata.lookups_per_stmt" -> windowLookups.toDouble / stmtCount,
        "metadata.lookup_ms" ->
          (if (windowLookups == 0) 0.0 else windowLookupMs / windowLookups))
      val stmts = bodies.flatMap(LineageParser.splitStatements)
      val b0 = System.nanoTime()
      val bulk = ctx.tracer.span("parser.bulk") {
        LineageParser.parseBulk(spark, stmts, ctx.cores, Some(counting))
      }
      ctx.layer("parser.bulk_stmts_per_s") = stmts.size / ((System.nanoTime() - b0) / 1e9)
      ctx.detail("bulk_errors") = bulk.count(_.isLeft)
      Store.trace(ctx)
    }
  }

  /** The plans `LineageParser.parseStatement` hands to the analyzer, arm
    * by arm: the query of an INSERT (each one of a multi-insert), CTAS,
    * RTAS or CREATE VIEW, the source of a MERGE, nothing for UPDATE,
    * DELETE and the DDL it files by class name, the statement itself
    * otherwise. */
  private def queriesOf(plan: LogicalPlan): Seq[LogicalPlan] = plan match {
    case u: Union if u.children.nonEmpty &&
        u.children.forall(_.isInstanceOf[InsertIntoStatement]) =>
      u.children.flatMap(queriesOf)
    case i: InsertIntoStatement => Seq(i.query)
    case c: CreateTableAsSelect => Seq(c.query)
    case r: ReplaceTableAsSelect => Seq(r.query)
    case v: CreateView => Seq(v.query)
    case m: MergeIntoTable => Seq(m.sourceTable)
    case _: UpdateTable | _: DeleteFromTable => Nil
    case other => other.getClass.getSimpleName match {
      case "DropTable" | "DropTableStatement" | "TruncateTable" | "LoadData" |
           "SetCatalogAndNamespace" | "SetNamespaceCommand" => Nil
      case n if n.startsWith("Alter") || n.startsWith("Add") ||
                n.startsWith("Rename") || n.startsWith("Replace") ||
                (n.startsWith("Set") && n.contains("Table")) ||
                n.contains("Partition") || n.contains("Column") ||
                n.startsWith("CreateTable") => Nil
      case _ => Seq(other)
    }
  }
}
